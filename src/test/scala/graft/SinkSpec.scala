package graft

import graft.ops.Sink

/** Write-side partitioning: the size-targeted sink controls output file
  * count, and schema evolution across appended files merges on read —
  * the two source/sink behaviors a long-lived 100 TB dataset hits
  * first. */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  test("writeCompacted splits a big frame and compacts a small one") {
    val d = Tables.documents(spark, "/root/testdata/sf0.001")
    withTempDir("graft-sink") { out =>

      // small target → many files; returned count == files on disk
      val nSmall = Sink.writeCompacted(d, s"$out/small", targetBytes = 16 * 1024)
      assert(nSmall > 1)
      assert(parquetFiles(s"$out/small").size === nSmall)

      // huge target → exactly one file, even though the input had many
      // partitions (the compaction direction)
      assert(d.rdd.getNumPartitions >= 1)
      val nBig = Sink.writeCompacted(d, s"$out/big", targetBytes = 1L << 30)
      assert(nBig === 1)
      assert(parquetFiles(s"$out/big").size === 1)

      // round-trip: content survives either layout
      val back = spark.read.parquet(s"$out/small")
      assert(back.count() === d.count())
      assert(back.columns.sorted === d.columns.sorted)
    }
  }

  test("schema evolution: appended files with new columns merge on read") {
    withTempDir("graft-evolve") { out =>
      Seq((1L, "a")).toDF("id", "old_col").write.parquet(s"$out/t")
      Seq((2L, 9.5)).toDF("id", "new_col").write.mode("append").parquet(s"$out/t")
      val merged = spark.read.option("mergeSchema", "true").parquet(s"$out/t")
      assert(merged.columns.sorted.toSeq === Seq("id", "new_col", "old_col"))
      val rows = merged.select("id", "old_col", "new_col")
        .as[(Long, Option[String], Option[Double])].collect().sortBy(_._1).toSeq
      assert(rows === Seq((1L, Some("a"), None), (2L, None, Some(9.5))))
    }
  }
}
