package graft

import java.nio.file.Files

/** The [[Tables.spread]] inputs: the per-task byte floor refuses values
  * that would silently degrade the gate, and the byte count sees a
  * partitioned table's files. */
class TablesSpec extends SparkSpec {

  test("minBytesPerTask rejects zero, negative and non-numeric values") {
    // a fresh session per value, so the shared session's conf is never set
    def floorOf(v: String): Long = {
      val s = spark.newSession()
      s.conf.set("spark.graft.scan.minBytesPerTask", v)
      Tables.minBytesPerTask(s)
    }
    assert(floorOf("4096") === 4096L)
    assert(Tables.minBytesPerTask(spark.newSession()) === 16L * 1024)
    for (bad <- Seq("0", "-16384", "16k")) {
      val e = intercept[IllegalArgumentException](floorOf(bad))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("dataBytes sums files inside key=value partition directories") {
    val root = Files.createTempDirectory("graft-tables")
    def write(rel: String, n: Int): Unit = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.write(f, new Array[Byte](n))
      ()
    }
    write("_SUCCESS", 0)
    write("part-0.parquet", 100)
    write("day=1/part-1.parquet", 1000)
    write("day=2/src=a/part-2.parquet", 10000)
    assert(Tables.dataBytes(root.toString) === 11100L)
    assert(Tables.dataBytes(root.resolve("day=1/part-1.parquet").toString) === 1000L)
    assert(Tables.dataBytes(root.resolve("missing").toString) === 0L)
  }
}
