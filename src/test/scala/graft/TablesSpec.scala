package graft

import java.nio.file.Files

/** The [[Tables.spread]] input: the byte count sees a partitioned
  * table's files. */
class TablesSpec extends SparkSpec {

  test("dataBytes sums files inside key=value partition directories") {
    withTempDir("graft-tables") { dir =>
      def write(rel: String, n: Int): Unit = {
        val f = dir.toPath.resolve(rel)
        Files.createDirectories(f.getParent)
        Files.write(f, new Array[Byte](n))
        ()
      }
      write("_SUCCESS", 0)
      write("part-0.parquet", 100)
      write("day=1/part-1.parquet", 1000)
      write("day=2/src=a/part-2.parquet", 10000)
      assert(Tables.dataBytes(dir.toString) === 11100L)
      assert(Tables.dataBytes(dir.toPath.resolve("day=1/part-1.parquet").toString) === 1000L)
      assert(Tables.dataBytes(dir.toPath.resolve("missing").toString) === 0L)
    }
  }
}
