package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curate, EventOps, Sketches, Stats, TextOps}

/** What each exact-quantile or running-sum operator returns when the
  * input holds a null value and, where the operator is grouped, a null
  * group. The operator skips both, and a group's count is the
  * operator's n: it counts only the rows it ranks.
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

  test("equiDepthHistogram skips null values; N counts the non-null rows") {
    val df = ((1L to 10L).map(Option(_)) ++ Seq(None, None)).toDF("v")
    val out = Stats.equiDepthHistogram(df, col("v"), 2).orderBy("bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 5L, 5L, 1L, 5L), (1L, 5L, 5L, 6L, 10L)))
  }

  test("weightedPercentiles skips null values, weights and groups; W = 0 selects the smallest value") {
    val df = Seq[(Option[String], Option[Long], Option[Long])](
      (Some("a"), Some(1L), Some(1L)), (Some("a"), Some(2L), Some(1L)),
      (Some("a"), Some(3L), Some(8L)), (Some("a"), None, Some(5L)),
      (Some("a"), Some(4L), None),
      (Some("b"), None, Some(3L)),
      (Some("z"), Some(7L), Some(0L)), (Some("z"), Some(9L), Some(0L)),
      (None, Some(1L), Some(4L)), (None, Some(2L), Some(4L))
    ).toDF("g", "v", "w")
    val out = Stats.weightedPercentiles(df, col("g"), col("v"), col("w"),
        Seq(25, 50, 90))
      .as[(Option[String], Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    // "a" ranks weights 1, 1, 8 (W = 10); "b" has no non-null value and
    // the null group is skipped; "z" weighs 0, so every percentile is
    // its smallest value
    assert(out == Seq(
      (Some("a"), Some(10L), Some(3L), Some(3L), Some(3L)),
      (Some("z"), Some(0L), Some(7L), Some(7L), Some(7L))))
  }

  test("quantileNormalize skips null values and the null group; n counts ranked rows") {
    val df = Seq[(Option[String], Long, Option[Long])](
      (Some("a"), 1L, Some(10L)), (Some("a"), 2L, Some(20L)),
      (Some("a"), 3L, Some(20L)), (Some("a"), 4L, None),
      (Some("b"), 5L, None),
      (None, 6L, Some(7L)), (None, 7L, Some(8L))
    ).toDF("g", "id", "v")
    val out = Stats.quantileNormalize(df, col("g"), col("v"), col("id"))
      .orderBy("id").as[(Option[String], Long, Option[Long], Option[Long])]
      .collect().toSeq
    // "a" ranks 10, 20, 20 (n = 3); "b" has only a null value
    assert(out == Seq((Some("a"), 1L, Some(10L), Some(333333L)),
      (Some("a"), 2L, Some(20L), Some(1000000L)),
      (Some("a"), 3L, Some(20L), Some(1000000L))))
  }

  test("scoreCalibration skips null scores; N counts the scored rows") {
    val scored = Seq[(Option[Long], Option[Long])](
      (Some(-5L), Some(1L)), (Some(-5L), Some(0L)), (Some(0L), Some(1L)),
      (Some(0L), None), (Some(7L), Some(1L)), (Some(7L), Some(1L)),
      (None, Some(1L)), (None, Some(0L)), (None, None)
    ).toDF("score", "pass")
    val out = Curate.scoreCalibration(scored, "score", "pass", k = 3)
      .orderBy("bucket")
      .as[(Long, Long, Option[Long], Option[Long], Long, Long)]
      .collect().toSeq
    // N = 6: cumBefore -5 → 0, 0 → 2, 7 → 4; a null pass is not a pass
    assert(out == Seq((0L, 2L, Some(1L), Some(500000L), -5L, -5L),
      (1L, 2L, Some(1L), Some(500000L), 0L, 0L),
      (2L, 2L, Some(2L), Some(1000000L), 7L, 7L)))
  }

  test("vocabCoverage drops a null text and counts a null-id document") {
    val docs = Seq[(Option[Long], String)](
      (Some(1L), "a a a b b c"), (Some(2L), null), (None, "c d")
    ).toDF("doc_id", "text")
    val out = TextOps.vocabCoverage(docs, "doc_id", "text",
        budgets = Seq(1, 2, 4)).orderBy("k")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // a×3, b×2, c×2, d×1: T = 4 types, 8 occurrences
    assert(out == Seq((1L, 3L, 1L, 3L, 5L, 625000L),
      (2L, 3L, 1L, 3L, 5L, 625000L), (4L, 1L, 4L, 0L, 0L, 0L)))
  }

  test("q36 skips null values and the null flag per column") {
    val d = java.nio.file.Files.createTempDirectory("q36null").toString
    Seq[(Option[String], Option[Double], Option[Double])](
      (Some("A"), Some(1.0), Some(10.0)), (Some("A"), Some(2.0), Some(20.0)),
      (Some("A"), Some(4.0), Some(40.0)), (Some("A"), None, Some(30.0)),
      (Some("A"), Some(3.0), None),
      (Some("N"), Some(5.0), Some(50.5)), (Some("N"), Some(6.0), Some(60.25)),
      (Some("R"), None, Some(70.0)), (Some("R"), None, None),
      (None, Some(9.0), Some(90.0))
    ).toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    val out = try SparkEntry.queries("q36_percentiles")(spark, d).collect()
        .map(_.toSeq).toSeq
      finally PendingRelease.drain()
    // "A" ranks quantities 100..400 and prices 1000..4000 cents, four
    // each, as quantile_cont does; "R" has no quantity
    assert(out == Seq(Seq("A", 175.0, 250.0, 325.0, 2500.0, 3970.0),
      Seq("N", 525.0, 550.0, 575.0, 5537.5, 6015.25),
      Seq("R", null, null, null, 7000.0, 7000.0)))
  }
}
