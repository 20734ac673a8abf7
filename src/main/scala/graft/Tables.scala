package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * All operators take their inputs through here so that the scan layer is
  * one place: Parquet with Catalyst filter/column pushdown. At 100 TB the
  * same call sites point at a partitioned table (e.g. partitioned by date
  * or source) and partition pruning applies transparently — nothing in the
  * operator layer assumes single-file inputs.
  */
object Tables {
  /** Floor on bytes per scan task for [[spread]] — below this, extra
    * parallelism costs more in task overhead than it buys (a 2 KB
    * region table should never fan out 32 ways). */
  private val minBytesPerTask: Long = 16L * 1024

  /** Scan-parallelism floor (optimization guide §2.5 "input skew: one
    * huge unsplittable file"): the driver testdata ships every table as
    * ONE parquet file with ONE row group, so every scan is a single
    * task and all pre-shuffle per-row work (tokenization, hashing,
    * shingling, vector math) serializes onto one core. Parquet cannot
    * split inside a row group, so the only remedy is a repartition
    * right after the read — Catalyst still pushes filters and prunes
    * columns through a Repartition node, and the shuffle moves each
    * table's few MB once to unlock cores× parallelism on everything
    * above it. Hash-keyed (not round-robin): round-robin pays a local
    * sort of the whole input on the single scan task first
    * (sortBeforeRepartition, SPARK-23207), measured as a net LOSS on
    * narrow-work queries.
    *
    * Scale posture: the condition compares the scan's natural split
    * count (size / maxPartitionBytes) against the session parallelism,
    * so on a real partitioned table (many files / row groups ≥ cluster
    * cores) the branch is a no-op and no shuffle is added — the fix is
    * strictly for scans whose layout undersupplies the session, at any
    * scale. Results are layout-invariant by the repo's own discipline
    * (no spark_partition_id / monotonically_increasing_id / approx
    * sketches in declared queries; float aggregates ride DECIMAL or
    * fixed-point integers; stateful stream ops sort per group) — and
    * the DuckDB oracle re-proves every query bit-for-bit either way. */
  private def spread(s: SparkSession, df: DataFrame, bytes: Long,
                     key: String): DataFrame = {
    val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
    val natural = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    val target = math.min(s.sparkContext.defaultParallelism.toLong,
      math.max(1L, bytes / minBytesPerTask)).toInt
    if (natural < target) df.repartition(target, col(key)) else df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** [[load]] + [[spread]]: the scan fanned out to session parallelism
    * (hash-partitioned on `key` — no sort-before-repartition cost, and
    * the id keys are unique so the hash spreads evenly) when the file's
    * natural split count undersupplies the session. Call sites opt in
    * per pipeline — the fan-out pays a shuffle of the table, so it only
    * wins where the per-row work above the scan dominates that shuffle
    * (measured per call site; see OPTIMIZATION_r18.md). */
  def loadSpread(spark: SparkSession, dir: String, name: String,
                 key: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spread(spark, spark.read.parquet(path), dataBytes(path), key)
  }

  /** Total data bytes under `path` — a single file's length, or the sum
    * of file lengths under a directory-style parquet table, recursing
    * into Hive-style `key=value/` partition directories
    * (java.io.File.length() on a directory returns the dirent size,
    * which silently no-op'd [[spread]]'s under-supply gate on multi-file
    * tables — ADVICE r18). Non-local filesystems return 0 (File can't
    * see them); there the natural split count already supplies
    * parallelism and the no-op is the correct answer. */
  private[graft] def dataBytes(path: String): Long = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
      else f.length()
    bytes(new java.io.File(path))
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped two physical encodings of `ts` across
    * testdata regenerations, and this loader normalizes both to a plain
    * session-zone TIMESTAMP so every downstream operator (windows, as-of
    * joins, `withWatermark`) sees one type:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark's reader rejects it; sessions set
    *    spark.sql.legacy.parquet.nanosAsLong=true (see [[Sessions.tune]])
    *    and we convert nanos → microsecond timestamp with integer
    *    division (epoch nanos exceed double's 2^53 mantissa, so a double
    *    roundtrip would corrupt them).
    *  - timestamp[us] with no timezone: Spark reads TIMESTAMP_NTZ, which
    *    `withWatermark`/`unix_micros` reject. The session zone is pinned
    *    UTC ([[Sessions]]), so casting to TIMESTAMP preserves the instant
    *    exactly.
    *
    * [[SchemaContractSpec]] pins the normalized output types so the next
    * testdata drift fails in one named test, not 14 scattered ones. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
