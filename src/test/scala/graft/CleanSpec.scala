package graft

import org.apache.spark.sql.functions._
import graft.ops.Clean

/** FIXTURES.md cases for the cleaning chain (SURVEY §2.2, P1-P11). */
class CleanSpec extends SparkSpec {
  import spark.implicits._

  test("P1 normalizeColumnNames lower-cases every column") {
    val df = Seq((1, "x")).toDF("Client Name", "RFP Type")
    assert(Clean.normalizeColumnNames(df).columns.toSeq ===
      Seq("client name", "rfp type"))
  }

  test("P2 whitespace normalize collapses runs and trims, strings only") {
    val df = Seq(("  a \t b\n c  ", 7)).toDF("s", "n")
    val out = Clean.normalizeWhitespace(df).as[(String, Int)].collect()
    assert(out === Array(("a b c", 7)))
  }

  test("P3 multi-format date parse: all three formats agree") {
    val df = Seq("3/14/2024", "2024-03-14", "14-03-2024", "not a date")
      .toDF("d").select(Clean.parseDateMulti(col("d")).as("p"))
    val got = df.as[Option[java.sql.Date]].collect()
    val expected = java.sql.Date.valueOf("2024-03-14")
    assert(got === Array(Some(expected), Some(expected), Some(expected), None))
  }

  test("P3 property: every supported format round-trips any valid date") {
    import org.scalacheck.{Gen, Prop}
    val gen = Gen.choose(0L, 365L * 80).map(d =>
      java.time.LocalDate.of(1990, 1, 1).plusDays(d))
    checkProp(Prop.forAllNoShrink(gen) { d =>
      val variants = Seq(
        f"${d.getMonthValue}%d/${d.getDayOfMonth}%d/${d.getYear}%d",
        d.toString, // yyyy-MM-dd
        f"${d.getDayOfMonth}%d-${d.getMonthValue}%d-${d.getYear}%d")
      val parsed = variants.toDF("s")
        .select(date_format(Clean.parseDateMulti(col("s")), "yyyy-MM-dd"))
        .as[String].collect()
      parsed.forall(_ == d.toString)
    }, minTests = 15)
  }

  test("P5/P6 recency filter drops null and stale dates, keeps the edge") {
    val df = Seq("2023-06-01", "2023-05-31", "2026-01-01", null)
      .toDF("d").select(to_date(col("d")).as("date"))
    val kept = Clean.recencyFilter(df, "date", "2026-06-01")
      .select(date_format(col("date"), "yyyy-MM-dd")).as[String].collect()
    assert(kept.sorted === Array("2023-06-01", "2026-01-01"))
  }

  test("P8 drops null and literal none/nan case-insensitively") {
    val df = Seq("ok", null, "none", "None", "NAN", "nan-ish").toDF("q")
    val kept = Clean.dropNullLiterals(df, Seq("q")).as[String].collect()
    assert(kept.sorted === Array("nan-ish", "ok"))
  }

  test("P10/P11 empty and stop-value responses dropped") {
    val df = Seq(
      ("q1", "fine"), ("q2", ""), ("q3", "N/A"), ("q4", "Not applicable."),
      ("Contact", "x"))
      .toDF("question", "response")
    val kept = Clean.dropStopValues(Clean.dropEmpty(df, "response"))
      .select("question").as[String].collect()
    assert(kept === Array("q1"))
  }
}
