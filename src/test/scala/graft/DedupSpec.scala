package graft

import graft.ops.Dedup

/** Dedup family (SURVEY §2.4): deterministic tiebreaks, idempotence and
  * the exact delta dedup. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def frame = Seq(
    // (question, response, date, id) — q1 has 3 exact dups + a longer resp
    ("q1", "r", "2024-01-02", 11L), ("q1", "r", "2024-01-01", 12L),
    ("q1", "r", "2024-01-01", 10L), ("q1", "rrrr", "2024-01-03", 13L),
    ("q2", "x", "2024-02-01", 20L), ("q2", "xx", "2024-02-01", 21L),
    ("q3", "solo", "2024-03-01", 30L)
  ).toDF("question", "response", "date", "doc_id")

  test("A4 dedupExact keeps earliest date then lowest id") {
    val out = Dedup.dedupExact(frame, Seq("question", "response"),
      Seq("date", "doc_id")).select("doc_id").as[Long].collect().sorted
    assert(out === Array(10L, 13L, 20L, 21L, 30L))
  }

  test("A4 idempotence: dedup(dedup(x)) == dedup(x)") {
    val once = Dedup.dedupExact(frame, Seq("question", "response"),
      Seq("date", "doc_id"))
    val twice = Dedup.dedupExact(once, Seq("question", "response"),
      Seq("date", "doc_id"))
    assert(once.except(twice).isEmpty && twice.except(once).isEmpty)
  }

  test("A5/A6 latestPerGroup keeps every row at the group max date") {
    val out = Dedup.latestPerGroup(frame, "question", "date")
      .select("doc_id").as[Long].collect().sorted
    assert(out === Array(13L, 20L, 21L, 30L))
  }

  test("A7 longestPerGroup breaks length ties by lowest tiebreak id") {
    val out = Dedup.longestPerGroup(frame, "question", "response", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out === Array(13L, 21L, 30L))
  }

  test("A9 lastWins keeps the highest ordinal per key") {
    val df = Seq(("f", 1L, "old"), ("f", 3L, "new"), ("g", 2L, "only"))
      .toDF("file_name", "ordinal", "v")
    val out = Dedup.lastWins(df, "file_name", "ordinal")
      .select("v").as[String].collect().sorted
    assert(out === Array("new", "only"))
  }

  test("A8 duplicateKeys flags only keys with >1 occurrence") {
    val df = Seq("a", "a", "b").toDF("k")
    val out = Dedup.duplicateKeys(df, "k").as[(String, Long)].collect()
    assert(out === Array(("a", 2L)))
  }

  test("A1/A2 duplicateGroups census with having-filter") {
    val out = Dedup.duplicateGroups(frame, Seq("question", "response"))
      .as[(String, String, Long)].collect()
    assert(out === Array(("q1", "r", 3L)))
  }

  test("deltaDedup drops exactly the batch keys present in the corpus") {
    val batch = Seq(("a", 1L), ("b", 2L), ("b", 3L), ("c", 4L))
      .toDF("k", "id")
    val corpus = Seq(("b", 90L), ("d", 91L)).toDF("k", "id")
    val got = Dedup.deltaDedup(batch, corpus, "k")
      .as[(String, Long)].collect().toSet
    assert(got === Set(("a", 1L), ("c", 4L)))
  }
}
