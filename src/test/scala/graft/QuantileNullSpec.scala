package graft

import org.apache.spark.sql.functions._

import graft.operators.{EventOps, Sketches, Stats, TextOps}

/** What each exact-quantile operator returns when the input holds a
  * null value and a null group. The quantile skips both, and a group's
  * count is the quantile's n: it counts only the rows the quantile
  * ranks.
  */
class QuantileNullSpec extends SparkSuite {
  import spark.implicits._

  private def ts(sec: Long) = Some(new java.sql.Timestamp(sec * 1000))

  test("trimmedMean skips null values and the null group; n counts ranked rows") {
    val df = ((1L to 10L).map(v => (Option("a"), Option(v))) ++ Seq(
      (Some("a"), None), (Some("b"), None), (None, Some(5L)), (None, Some(7L))))
      .toDF("g0", "v0")
    val out = Stats.trimmedMean(df, col("g0"), col("v0"), alphaPct = 20)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // "a" ranks 1..10: lo at rank 2, hi at rank 8, keep 2..8; "b" has no
    // non-null value and the null group is skipped
    assert(out == Seq(("a", 10L, 2L, 8L, 7L, 5.0)))
  }

  test("conversionLatency ignores a null user and a null timestamp") {
    val e = Seq[(Option[Long], Option[java.sql.Timestamp], String)](
      (Some(1L), ts(1000), "view"), (Some(1L), ts(4000), "purchase"),
      (Some(2L), ts(0), "view"), (Some(2L), None, "purchase"),
      (Some(2L), ts(500), "purchase"),
      (None, ts(0), "view"), (None, ts(100), "purchase"),
      (Some(3L), None, "view"), (Some(3L), ts(5), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = EventOps.conversionLatency(e, "user_id", "ts",
        "event_type", "view", "purchase")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // users 1 (3000 s) and 2 (500 s) convert on day 0; the null user
    // matches no one, and user 3's only view has no timestamp
    assert(out == Seq((0L, 2L, 500L, 3000L)))
  }

  test("latenessProfile skips null lateness and the null group; n_events counts ranked rows") {
    val e = Seq[(Long, Option[java.sql.Timestamp], Option[String])](
      (1L, ts(100), Some("g")), (2L, ts(50), Some("g")),
      (3L, ts(200), Some("g")), (4L, ts(199), Some("g")),
      (5L, None, Some("g")), (6L, None, Some("h")),
      (7L, ts(10), None), (8L, ts(5), None)
    ).toDF("event_id", "ts", "event_type")
    val out = EventOps.latenessProfile(e, "event_type", "ts", "event_id")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // "g" lateness 0, 50, 0, 1 and one null: 2 of 4 late, median 0,
    // p99 50, max 50; "h" has only a null and the null group is skipped
    assert(out == Seq(("g", 4L, 500000L, 0L, 50L, 50L)))
  }

  test("perplexityBuckets scores a null-id document and drops a null text") {
    val docs = Seq[(Option[Long], String, Boolean)](
      (Some(10L), "x z x z", true), (Some(11L), "x z x", false),
      (Some(12L), "y y y", false), (Some(13L), "x z", false),
      (None, "x z", false), (Some(15L), null, false)
    ).toDF("id", "text", "is_train")
    val out = TextOps.perplexityBuckets(docs, "id", "text", col("is_train"))
      .orderBy("id")
      .as[(Option[Long], Long, Long, Long, String)].collect().toSeq
    // five scored docs (the null id is a document like any other):
    // tertile ranks 2 and 4 both land on avg 1000
    assert(out == Seq(
      (None, 1L, 1L, 1000L, "head"),
      (Some(10L), 3L, 3L, 1000L, "head"),
      (Some(11L), 2L, 2L, 1000L, "head"),
      (Some(12L), 2L, 4L, 2000L, "tail"),
      (Some(13L), 1L, 1L, 1000L, "head")), s"got $out")
  }

  test("logHistErrorAudit skips null values and the null group") {
    val df = ((1L to 100L).map(v => (Option("g"), Option(v))) ++ Seq(
      (Some("g"), None), (Some("h"), None), (None, Some(5L)), (None, Some(7L))))
      .toDF("grp", "v")
    val out = Sketches.logHistErrorAudit(df, Seq("grp"), col("v"),
        Seq(50, 99))
      .orderBy("grp", "p")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("g", 50L, 50L, 50L, 0L, 1L),
      ("g", 99L, 96L, 99L, 30303L, 1L)))
  }
}
