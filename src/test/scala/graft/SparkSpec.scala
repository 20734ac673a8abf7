package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Checkpoints

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test time otherwise). */
object SparkTestSession {
  lazy val get: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(Checkpoints.deleteRec(wh.toFile))
    val s = Sessions.builder("4").appName("graft-test")
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Scratch dirs for specs. `File.deleteOnExit` skips a directory that
  * still holds files, so every spec dir is deleted recursively here. */
trait TempDirs {
  def withTempDir[T](prefix: String)(body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir) finally Checkpoints.deleteRec(dir)
  }
}

trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.get

  /** Runs a ScalaCheck property and fails the ScalaTest test if it does
    * not hold (the scalatest/scalacheck bridge artifact is not available
    * offline, so properties are checked through scalacheck directly).
    * Callers must build properties with `forAllNoShrink`: every property
    * body here runs Spark jobs, and shrinking re-runs the body once per
    * shrink candidate — a failure under plain `forAll` turns into
    * hundreds of Spark jobs (observed wedging the suite for 45+ min on
    * one iterative-CC counterexample). The un-shrunk args are small and
    * printed by the assert below. */
  /** Runs `query` over a file stream of the parquet dir `src` to its end
    * (`Trigger.AvailableNow`, Update mode, through `foreachBatch`) and
    * returns, per key, the last entry `entries` made of a micro-batch's
    * rows: under Update semantics the group's current answer. With
    * `ckpt` the run resumes from that checkpoint's state and commits to
    * it; foreachBatch (unlike the memory sink) supports that recovery. */
  def lastPerKey[T, K, V](src: String, ckpt: Option[String] = None)(
      query: DataFrame => Dataset[T])(
      entries: Array[T] => Iterable[(K, V)]): Map[K, V] = {
    val got = scala.collection.mutable.Map[K, V]()
    val stream = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
    var w = query(stream).writeStream
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        val es = entries(batch.collect())
        got.synchronized { es.foreach { case (k, v) => got(k) = v } }
      }
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
    ckpt.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    // a discarded false here would surface as a confusing partial-data
    // mismatch (and leak a running query into the shared session)
    assert(q.awaitTermination(120000), "stream did not finish in 120 s")
    got.synchronized(got.toMap)
  }

  def checkProp(p: org.scalacheck.Prop, minTests: Int = 20): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minTests).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }
}
