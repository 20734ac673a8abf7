package graft.ops

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable.{ArrayBuilder, LongMap}
import scala.reflect.ClassTag

/** The one node-keyed round loop of its three users: both connected-
  * components algorithms in [[Components]] and [[PageRank.scores]]. Every
  * round state is keyed by node under ONE `HashPartitioner`, so a round
  * moves data once: the state's neighbour lists are regrouped by
  * [[neighbours]] (star CC), or messages cross one shuffle between two
  * narrow joins with the cached adjacency (label propagation, PageRank).
  * RDD lineage is a DAG, so rounds never grow a plan. Joins and combines
  * use per-partition `LongMap`s: `join`/`reduceByKey`'s size-tracked maps
  * made a 5-round PageRank ~3× slower on 1k-20k node graphs (4 cores).
  *
  * Width: the edge RDD's partition count, clamped to
  * [1, `spark.sql.shuffle.partitions`]; no result depends on it, as every
  * merge is an exact min, long sum or sorted set. Keys: any integral type,
  * carried as Long and cast back on output; edges with a null endpoint
  * are dropped.
  */
private[graft] final class GraphLoop(edges: DataFrame) {
  private val spark = edges.sparkSession

  /** `a` and `b` widened as a union would: the output key type. */
  val keyType: DataType =
    edges.select(col("a")).unionAll(edges.select(col("b"))).schema.head.dataType
  require(Seq(ByteType, ShortType, IntegerType, LongType).contains(keyType),
    s"graph keys must be integral, got $keyType")

  // nulls drop in the RDD: a DataFrame null filter is pushed into the
  // producer's join condition, ahead of its cheap predicates
  private val pairs = edges.select(col("a").cast(LongType), col("b").cast(LongType))
    .rdd.collect { case r if !r.anyNull => (r.getLong(0), r.getLong(1)) }
  val part = new HashPartitioner(math.max(1, math.min(pairs.getNumPartitions,
    spark.conf.get("spark.sql.shuffle.partitions").toInt)))

  private var held = List.empty[RDD[_]] // cached until release/close
  private def hold[T](r: RDD[T]): RDD[T] = { held ::= r.persist(); r }
  private def release(r: RDD[_]): Unit = if (held.exists(_ eq r)) {
    r.unpersist(blocking = true) // async removal lags a fast loop
    held = held.filterNot(_ eq r)
  }
  def close(): Unit = held.foreach(release)

  /** node → its neighbours in the symmetrized `edges`, with multiplicity
    * (length = degree), at one shuffle. */
  def neighbours(edges: RDD[(Long, Long)]): RDD[(Long, Array[Long])] =
    edges.flatMap { case (a, b) => Iterator(a -> b, b -> a) }
      .partitionBy(part).mapPartitions({ it =>
        val nbrs = LongMap.empty[ArrayBuilder.ofLong]
        it.foreach { case (a, b) => nbrs.getOrElseUpdate(a, new ArrayBuilder.ofLong) += b }
        nbrs.iterator.map { case (a, bs) => a -> bs.result() }
      }, preservesPartitioning = true)

  /** The input's neighbour lists, cached. */
  val adj: RDD[(Long, Array[Long])] = hold(neighbours(pairs))

  /** Inner join of two RDDs partitioned by [[part]], with no shuffle. */
  def zipJoin[A, B, C](l: RDD[(Long, A)], r: RDD[(Long, B)])(
      f: (A, B) => C): RDD[(Long, C)] =
    l.zipPartitions(r, preservesPartitioning = true) { (ls, rs) =>
      val m = LongMap.from(rs)
      ls.flatMap { case (k, a) => m.get(k).map(b => k -> f(a, b)) }
    }

  /** Every node's incoming messages from `send(neighbours, state)`,
    * merged per map partition, shuffled once, merged per node. */
  def round[S, M: ClassTag](state: RDD[(Long, S)])(
      send: (Array[Long], S) => Iterator[(Long, M)])(
      merge: (M, M) => M): RDD[(Long, M)] = {
    def combine(it: Iterator[(Long, M)]): Iterator[(Long, M)] = {
      val acc = LongMap.empty[M]
      it.foreach { case (k, m) => acc(k) = acc.get(k).fold(m)(merge(_, m)) }
      acc.iterator
    }
    zipJoin(adj, state)(send).mapPartitions(it => combine(it.flatMap(_._2)))
      .partitionBy(part).mapPartitions(combine, preservesPartitioning = true)
  }

  /** `step` applied to `state` until a round changes no node, at one job
    * per round: the count of changed nodes, a narrow join of the old and
    * the new state. Each state stays cached until its successor is
    * counted; a state still changing after `maxIter` rounds fails. */
  def fixpoint[S](state: RDD[(Long, S)], maxIter: Int)(
      step: RDD[(Long, S)] => RDD[(Long, S)])(
      same: (S, S) => Boolean): RDD[(Long, S)] = {
    var cur = state
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      require(rounds < maxIter, s"graph loop did not converge in $maxIter rounds")
      val next = hold(step(cur))
      changed = zipJoin(cur, next)(same).filter(!_._2).count()
      release(cur)
      cur = next
      rounds += 1
    }
    cur
  }

  /** `state` as a (node, `value`) frame sized by its row count, reliably
    * checkpointed first (two jobs: a count, then the write), so reading it
    * never re-runs a round and [[close]] may drop every cached RDD. */
  def result[V](state: RDD[(Long, V)], value: String,
                valueType: DataType): DataFrame = {
    Checkpoints.ensureDir(spark.sparkContext)
    // a fresh RDD: one a job already ran through ignores checkpoint()
    val rows = state.map { case (k, v) => InternalRow(k, v) }
    rows.checkpoint()
    val n = rows.count()
    GraftSqlBridge.countedFrame(spark,
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField(value, valueType, nullable = false))), rows, n)
      .select(col("node").cast(keyType), col(value))
  }
}
