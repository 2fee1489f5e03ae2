package graft

import org.apache.spark.sql.functions._

import graft.operators.{EventOps, Graph, TextOps}

/** Round-6 analytics operators: funnels, retention, decayed sums,
  * transition matrices, integer PageRank, repetition profiles. Each test
  * pins the semantic contract the DuckDB oracle replays (q77-q82).
  */
class AnalyticsOpsSpec extends SparkSuite {
  import spark.implicits._

  test("funnel requires strictly-increasing step times and cascades misses") {
    val e = Seq(
      // u1 completes in order: view@10, click@20, purchase@30
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // u2's click precedes its view — click must NOT count; a later
      // purchase without a qualifying click must not count either
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 50L),
      // u3: click at the SAME microsecond as view — strict > rejects it;
      // a later click qualifies
      (3L, "view", 10L), (3L, "click", 10L), (3L, "click", 40L),
      // u4 never views
      (4L, "purchase", 99L)
    ).toDF("user_id", "etype", "us")
    val out = EventOps.funnel(e, "user_id", "etype", "us",
        Seq("view", "click", "purchase"))
      .orderBy("user")
      .as[(Long, Option[Long], Option[Long], Option[Long], Long)].collect()
    assert(out(0) == ((1L, Some(10L), Some(20L), Some(30L), 3L)))
    assert(out(1) == ((2L, Some(10L), None, None, 1L)),
      "click before first view must not complete step 2")
    assert(out(2) == ((3L, Some(10L), Some(40L), None, 2L)),
      "same-instant click is not strictly after the view")
    assert(out(3) == ((4L, None, None, None, 0L)))
  }

  test("retention buckets users by first-seen day and whole-week offset") {
    val e = Seq(
      (1L, "2024-01-01 08:00:00"), (1L, "2024-01-03 09:00:00"), // week 0 twice
      (1L, "2024-01-08 10:00:00"),                              // day 7 → week 1
      (2L, "2024-01-01 23:00:00"), (2L, "2024-01-07 01:00:00"), // day 6 → week 0
      (3L, "2024-01-02 00:00:00")
    ).toDF("user_id", "s").select(col("user_id"), col("s").cast("timestamp").as("ts"))
    val out = EventOps.retention(e, "user_id", "ts")
      .orderBy("cohort", "week")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("2024-01-01", 0L, 2L), // u1 (days 0,2) + u2 (days 0,6)
      ("2024-01-01", 1L, 1L), // u1 day 7
      ("2024-01-02", 0L, 1L)))
  }

  test("decayedSum halves per whole age bucket, exactly") {
    val bucket = 100L
    val e = Seq(
      ("a", 1000L, 800L), // age 0 → full 800
      ("a", 900L, 800L),  // age 1 → 400
      ("a", 750L, 801L),  // age 2 → 801 div 4 = 200 (floor)
      ("b", 0L, 1000L)    // age 10 → 1000 div 1024 = 0
    ).toDF("k", "us", "v_c")
    val out = EventOps.decayedSum(e, Seq("k"), "us", "v_c", bucketUs = bucket)
      .orderBy("k").as[(String, Long, Long, Long)].collect()
    assert(out(0) == (("a", 3L, 2401L, 1400L)))
    assert(out(1) == (("b", 1L, 1000L, 0L)))
  }

  test("transitionMatrix counts adjacent pairs under the (ts, tie) total order") {
    val e = Seq(
      // u1: a→b→a (ties broken by event_id: 2 before 3 at us=20)
      (1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (1L, "a", 20L, 3L),
      // u2: a→b
      (2L, "a", 10L, 4L), (2L, "b", 15L, 5L)
    ).toDF("user_id", "etype", "us", "event_id")
    val out = EventOps.transitionMatrix(e, "user_id", "etype", "us", "event_id")
      .orderBy("from_type", "to_type")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("a", "b", 2L, 2L, 1.0),
      ("b", "a", 1L, 1L, 1.0)))
  }

  test("pageRank on a symmetric pair matches the closed-form integer recurrence") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val scale = 1000000L
    val df = Graph.pageRank(edges, iters = 3, scale = scale)
    val out = df.orderBy("node").as[(Long, Long, Long)].collect()
    // Both nodes have deg 1 and feed each other: scores stay equal, and
    // each iteration applies s' = (15*(S div 2)) div 100 + (85*s) div 100.
    var s = scale / 2
    for (_ <- 1 to 3) s = (15L * (scale / 2)) / 100 + (85L * s) / 100
    assert(out.toSeq == Seq((1L, 1L, s), (2L, 1L, s)))
    PendingRelease.drain()
  }

  test("pageRank ranks a star's hub above its leaves and is partition-invariant") {
    val edges = (2L to 9L).map(l => (1L, l)).toDF("src", "dst")
    val a = Graph.pageRank(edges, iters = 3, persist = false)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    val b = Graph.pageRank(edges.repartition(7), iters = 3, persist = false)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    assert(a == b, "integer PageRank must not depend on partitioning")
    val hub = a.head._3
    val leaves = a.tail.map(_._3)
    assert(leaves.distinct.size == 1, "symmetric leaves must tie exactly")
    assert(hub > leaves.head * 4, s"hub $hub should dominate leaf ${leaves.head}")
  }

  test("personalizedPageRank: all-node seeds degenerate to uniform pageRank") {
    val edges = (2L to 9L).map(l => (1L, l)).toDF("src", "dst")
    val allNodes = (1L to 9L).toDF("node")
    val uniform = Graph.pageRank(edges, iters = 3, persist = false)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    val ppr = Graph.personalizedPageRank(edges, allNodes, iters = 3,
        persist = false)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    assert(ppr == uniform,
      "teleporting to every node must equal the uniform walk exactly")
  }

  test("personalizedPageRank concentrates mass at the seed side; absent seeds dropped") {
    // path 1-2-3-4-5-6: seed at node 1 (plus ghost seed 99, not in graph)
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    val out = Graph.personalizedPageRank(edges, seeds, iters = 4,
        persist = false)
      .orderBy("node").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    // score decays with distance from the seed end of the path
    assert(out(1L) > out(3L) && out(3L) > out(5L),
      s"mass must decay away from the seed: $out")
    assert(out(2L) > out(6L), s"near beats far: $out")
    // ghost seed contributed nothing: node 99 is absent from the output
    assert(!out.contains(99L))
  }

  test("labelPropagation spreads seed labels within components, clamps seeds, smallest-label ties") {
    // two components: a path 1-2-3-4 seeded at node 1 (label 7), and an
    // isolated pair 10-11 with no seed (stays null)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val seeds = Seq((1L, 7L)).toDF("node", "label")
    val out = Graph.labelPropagation(edges, seeds, iters = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) == Some(7L) && out(2L) == Some(7L) &&
      out(3L) == Some(7L) && out(4L) == Some(7L))
    assert(out(10L) == None && out(11L) == None,
      "seedless component must stay unlabeled")

    // tie: node 5 sees one neighbor of label 3 and one of label 9 →
    // smallest label wins; the seeds themselves NEVER flip even though
    // each sees only the other label
    val e2 = Seq((5L, 6L), (5L, 7L), (6L, 7L)).toDF("src", "dst")
    val s2 = Seq((6L, 9L), (7L, 3L)).toDF("node", "label")
    val out2 = Graph.labelPropagation(e2, s2, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2(5L) == 3L, "equal mass must break to the smallest label")
    assert(out2(6L) == 9L && out2(7L) == 3L, "seeds are clamped")
  }

  test("labelPropagation radius is bounded by iters; duplicate seeds collapse to min") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq((1L, 4L), (1L, 2L)).toDF("node", "label") // dup node
    val out = Graph.labelPropagation(edges, seeds, iters = 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L) == Some(2L), "duplicate seed labels collapse to min")
    assert(out(2L) == Some(2L) && out(3L) == Some(2L))
    assert(out(4L) == None && out(5L) == None,
      "nodes beyond iters hops stay unlabeled")
  }

  test("triangleCounts finds clique triangles, ignoring duplicates and orientation") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + dangling edge 4-5,
    // fed with duplicates, reversals, and a self-loop
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val edges = (k4 ++ Seq((1L, 2L), (5L, 4L), (3L, 3L))).toDF("src", "dst")
    val out = Graph.triangleCounts(edges)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)),
      "each K4 node sits in 3 triangles; node 5 in none")
  }

  test("equiDepthHistogram fills buckets evenly and never splits a value") {
    import graft.operators.Stats
    // 1..10 once each, k=2 → exactly 5 rows per bucket
    val even = (1 to 10).map(_.toLong).toDF("v")
    val a = Stats.equiDepthHistogram(even, col("v"), 2)
      .orderBy("bucket").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(a == Seq((0L, 5L, 5L, 1L, 5L), (1L, 5L, 5L, 6L, 10L)))
    // value 2 repeated 6× straddles the midpoint — it must land WHOLLY
    // in the bucket of its first row
    val tied = (Seq(1L) ++ Seq.fill(6)(2L) ++ Seq(3L, 4L, 5L)).toDF("v")
    val b = Stats.equiDepthHistogram(tied, col("v"), 2)
      .orderBy("bucket").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(b == Seq((0L, 7L, 2L, 1L, 2L), (1L, 3L, 3L, 3L, 5L)))
  }

  test("profile counts nulls and distincts per column with string min/max") {
    import graft.operators.Stats
    val df = Seq(
      (Some("b"), Some(3L)), (Some("a"), None), (None, Some(3L))
    ).toDF("s", "x")
    val out = Stats.profile(df, Map("s" -> col("s"), "x" -> col("x")))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().toSeq
    assert(out == Seq(
      ("s", 3L, 1L, 2L, Some("a"), Some("b")),
      ("x", 3L, 1L, 1L, Some("3"), Some("3"))))
  }

  test("vocabularyJaccard computes exact set overlap per group pair") {
    val df = Seq(
      ("g1", "a b c"), ("g1", "c d"),   // vocab {a,b,c,d}
      ("g2", "c d e"),                  // vocab {c,d,e}
      ("g3", "z")                       // vocab {z}, disjoint
    ).toDF("source", "text")
    val out = TextOps.vocabularyJaccard(df, "source", "text")
      .orderBy("grp_a", "grp_b")
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // g1∩g2 = {c,d} → 2/(4+3-2) = 0.4; disjoint pairs produce no row
    assert(out == Seq(("g1", "g2", 4L, 3L, 2L, 0.4)))
  }

  test("repetitionProfile reports top-bigram occupancy and duplicated 5-grams") {
    val df = Seq(
      (1L, "a b a b a"),      // bigrams: "a b"×2, "b a"×2; one 5-gram
      (2L, "a a a a a a"),    // bigram "a a"×5; 5-grams: 2 occ, 1 distinct
      (3L, "q")               // too short for any gram
    ).toDF("doc_id", "text")
    val out = TextOps.repetitionProfile(df, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Long, Long, Option[Double], Long, Long, Option[Double])]
      .collect()
    assert(out(0) == ((1L, 5L, 2L, 4L, Some(0.5), 1L, 1L, Some(0.0))))
    assert(out(1) == ((2L, 6L, 5L, 5L, Some(1.0), 2L, 1L, Some(0.5))))
    assert(out(2) == ((3L, 1L, 0L, 0L, None, 0L, 0L, None)),
      "sub-gram-length docs keep zero counts and null fractions")
  }
}
