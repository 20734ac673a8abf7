package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

import graft.{Q, Registry, Sessions, Tables}

/** JVM side of the benchmark; `perfbench/run.py` drives it.
  *
  *  - `setup`: session start plus one trivial job, print READY, exit
  *    (one fresh-JVM set-up sample);
  *  - `oracles <out.json>`: every registered query's DuckDB oracle SQL;
  *  - `run <key=value>...`: one closed-loop client running the workload's
  *    queries back to back in a fixed order: a cold pass, then steady
  *    passes for the window (with `trace=1`, every second one traced);
  *    then the oracle digests, the retained heap, and one JSON record.
  */
object Main {
  private val Ready = "PERFBENCH_READY"
  /** Steady passes a run times at least, however short its window. */
  private val MinPasses = 2

  private def json(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("setup") => setup()
    case Some("oracles") => oracles(args(1))
    case Some("run") => run(args.tail.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    case _ =>
      System.err.println("usage: Main setup | oracles <out> | run key=value...")
      sys.exit(2)
  }

  /** Session start and one trivial job: what every pipeline run pays. */
  private def start(): SparkSession = {
    val spark = Sessions.local()
    spark.range(1).count()
    println(Ready)
    System.out.flush()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def setup(): Unit = start().stop()

  /** Writes the oracle SQL and creates, under `java.io.tmpdir`, the file
    * fixtures it reads (`run.py` copies them into each run's tmpdir, where
    * the engine finds them). */
  private def oracles(out: String): Unit = {
    graft.ops.XlsxFixture.ensure()
    graft.ops.DocxFixture.ensure()
    Files.writeString(Paths.get(out),
      json(Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap))
  }

  private def run(opt: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    val spark = start()
    val startS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val dir = opt("data")
    val queries = opt("queries").split(',').toSeq.map(Registry.byName)
    val window = opt("seconds").toDouble * 1e9
    val traced = opt("trace") == "1"
    val oracleDir = opt("oracle")
    // columns the oracle side holds as fractional, per query
    val oracleFrac: Map[String, Set[String]] = {
      val p = Paths.get(oracleDir, "fractional.tsv")
      if (!Files.exists(p)) Map.empty
      else Files.readAllLines(p).toArray(Array.empty[String]).toSeq
        .filter(_.nonEmpty).map { l =>
          val parts = l.split('\t')
          parts(0) -> parts.drop(1).headOption.toSeq.flatMap(_.split(',')).toSet
        }.toMap
    }
    val stream = new StreamBatches(sc)
    spark.streams.addListener(stream)
    val tracer = new Tracer(sc)
    tracer.add(Span(tracer.newId(), 0L, "sessions", "sessions.start",
      tracer.nowUs() - (startS * 1e6).toLong, tracer.nowUs(), Map.empty))
    val schemas = scala.collection.mutable.Map[String, DataFrame]()

    def runPass(index: Int, kind: String, trace: Option[Tracer]): Map[String, Any] = {
      val passStart = System.nanoTime()
      def body(passSpan: Long): Seq[Map[String, Any]] = queries.map { q =>
        spark.catalog.clearCache()
        stream.current = (index, q.name)
        runQuery(q, s"p$index:${q.name}", passSpan, trace)
      }
      val recs = trace match {
        case Some(t) => t.span("pass", s"p$index", 0L)(body)
        case None => body(0L)
      }
      Map("index" -> index, "kind" -> kind,
        "wall_s" -> (System.nanoTime() - passStart) / 1e9, "queries" -> recs)
    }

    def runQuery(q: Q, traceId: String, parent: Long,
                 trace: Option[Tracer]): Map[String, Any] = {
      def within[T](name: String, p: Long)(f: Long => T): T =
        trace.fold(f(0L))(_.span(name, traceId, p)(f))
      val t0 = System.nanoTime()
      var t1 = t0
      try within("query", parent) { root =>
        val df = within("queries.build", root)(_ => q.fn(spark, dir))
        t1 = System.nanoTime()
        val agg = Digest.frame(df, oracleFrac.getOrElse(q.name, Set.empty))
        val digest = within("exec", root)(_ => Digest.value(agg.collect()(0)))
        val t2 = System.nanoTime()
        schemas(q.name) = df
        Map("name" -> q.name, "ok" -> true, "digest" -> digest,
          "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
          "wall_s" -> (t2 - t0) / 1e9,
          "plan" -> (if (trace.isDefined) planShape(agg) else Map.empty))
      } catch {
        case e: Throwable =>
          Map("name" -> q.name, "ok" -> false,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300),
            "wall_s" -> (System.nanoTime() - t0) / 1e9)
      }
    }

    def withListener[T](body: => T): T = {
      sc.addSparkListener(tracer)
      try body
      finally {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(tracer)
      }
    }
    val passes = ArrayBuffer[Map[String, Any]]()
    passes += runPass(0, "cold", None)
    // the pass after the cold one is still slower than the next (JIT). An
    // untimed warm-up pass would cost every untraced run as much as one
    // more setup; a traced run, which has no set-up probes, takes it so
    // the drift does not land in the tracing overhead (traced minus
    // untraced pass)
    if (traced) passes += runPass(1, "warmup", None)
    val steadyStart = System.nanoTime()
    var n = 0
    while (n < MinPasses ||
        System.nanoTime() - steadyStart < window) {
      passes += (if (traced && n % 2 == 1)
        withListener(runPass(passes.size, "traced", Some(tracer)))
      else runPass(passes.size, "steady", None))
      n += 1
    }
    val tables = ArrayBuffer[Map[String, Any]]()
    if (traced) withListener {
      opt.get("tables").filter(_.nonEmpty).toSeq.flatMap(_.split(',')).foreach { t =>
        spark.catalog.clearCache()
        val s = System.nanoTime()
        val d = tracer.span("tables.scan", s"tables:$t", 0L) { _ =>
          Digest.of(loader(t)(spark, dir), Set.empty)
        }
        tables += Map("name" -> t, "s" -> (System.nanoTime() - s) / 1e9, "digest" -> d)
      }
    }

    // oracle digests, outside every timed pass
    val oracle = queries.flatMap { q =>
      val p = Paths.get(oracleDir, s"${q.name}.parquet")
      if (!Files.exists(p)) None
      else Some(q.name -> (try {
        val o = spark.read.parquet(p.toString)
        val mine = schemas.get(q.name)
        val cols = mine.map(Digest.columns)
        if (cols.exists(_ != Digest.columns(o)))
          Map("error" -> s"columns spark=${cols.get.mkString(",")} oracle=${Digest.columns(o).mkString(",")}")
        else Map("digest" -> Digest.of(o,
          mine.map(Digest.fractionalColumns).getOrElse(Set.empty)))
      } catch {
        case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }))
    }.toMap

    org.apache.spark.perfbench.Bus.drain(sc)
    spark.catalog.clearCache()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = mx.getHeapMemoryUsage.getUsed / 1e6

    Files.writeString(Paths.get(opt("out")), json(Map(
      "cores" -> sc.defaultParallelism,
      "sessions_start_s" -> startS,
      "passes" -> passes,
      "batches" -> stream.batches,
      "tables" -> tables,
      "oracle" -> oracle,
      "heap_mb" -> heapMb,
      "spans" -> tracer.spans.map(_.toMap))))
    spark.stop()
  }

  private def loader(t: String): (SparkSession, String) => DataFrame = t match {
    case "region" => Tables.region
    case "nation" => Tables.nation
    case "customer" => Tables.customer
    case "supplier" => Tables.supplier
    case "part" => Tables.part
    case "orders" => Tables.orders
    case "lineitem" => Tables.lineitem
    case "events" => Tables.events
    case "documents" => Tables.documents
    case "embeddings" => Tables.embeddings
  }

  /** Exchange, reuse, broadcast and engine-planner node counts of the
    * final (adaptive) physical plan, subqueries included. */
  private def planShape(df: DataFrame): Map[String, Int] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val all = nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan)
    Map(
      "exchanges" -> all.count(_.isInstanceOf[ShuffleExchangeLike]),
      "reused_exchanges" -> all.count(_.isInstanceOf[ReusedExchangeExec]),
      "broadcasts" -> all.count(_.isInstanceOf[BroadcastExchangeLike]),
      "graft_nodes" -> all.count(_.getClass.getName.startsWith("graft.")))
  }
}
