package graft

import org.apache.spark.sql.functions._

import graft.operators.{EventOps, Sketches, Stats, TextOps}

/** Round-6 corpus-structure operators: sentence segmentation +
  * boilerplate profiling, robust median/MAD outliers, item
  * co-occurrence, token co-occurrence lift. Each test pins the semantic
  * contract the DuckDB oracle replays (q87-q90).
  */
class CorpusOpsSpec extends SparkSuite {
  import spark.implicits._

  test("gopherRules: exact-integer flags on hand-computed documents") {
    val docs = Seq(
      // 18 tokens, 64 word chars (3n=54 <= 64 <= 10n=180), all alpha,
      // 5 distinct stopwords, 0 digit words -> every rule passes
      (1L, "the quick brown fox jumps over a lazy dog in the sunny field of dreams to win big"),
      // 12 all-digit tokens: alpha fails, digit fails, mean-len fails
      // (15 chars < 3*12); only the token-count rule passes
      (2L, "1 2 3 4 5 6 7 8 9 10 11 12"),
      // 2 tokens: count fails, no stopwords; mean-len/alpha/digit pass
      (3L, "hi there"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id") +:
        graft.operators.TextOps.gopherRules(col("text")): _*)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 18L, 1L, 1L, 1L, 1L, 1L, 5L),
      (2L, 12L, 1L, 0L, 0L, 0L, 0L, 1L),
      (3L, 2L, 0L, 1L, 1L, 0L, 1L, 3L)))
  }

  test("sentenceTable splits on punctuation runs, trims, drops empties, normalizes") {
    val df = Seq(
      (1L, "First one. Second two!  Third three?last stays"),
      (2L, "   "), // whitespace-only → no sentences
      (3L, "No punctuation at all")
    ).toDF("id", "text")
    val out = TextOps.sentenceTable(df, "id", "text")
      .orderBy("id", "sent_idx")
      .as[(Long, Long, String, String)].collect()
    val s1 = out.filter(_._1 == 1L)
    // "Third three?last" has no whitespace after '?' → not a boundary
    assert(s1.map(_._3).toSeq ==
      Seq("First one", "Second two", "Third three?last stays"))
    assert(s1.map(_._2).toSeq == Seq(0L, 1L, 2L))
    // norm: lowercased, trailing punctuation stripped
    assert(s1.map(_._4).toSeq ==
      Seq("first one", "second two", "third three?last stays"))
    assert(!out.exists(_._1 == 2L))
    assert(out.filter(_._1 == 3L).map(_._3).toSeq == Seq("No punctuation at all"))
  }

  test("boilerplateProfile counts sentences recurring in >= minDocs docs") {
    // "footer text." appears in docs 1,2,3 (with case/punct variance the
    // norm collapses); "unique N" never recurs.
    val df = Seq(
      (1L, "Unique one. Footer text."),
      (2L, "Unique two. footer text!"),
      (3L, "Unique three. FOOTER TEXT. Unique four."),
      (4L, "Nothing shared here."),
      (5L, " ") // sentence-less
    ).toDF("id", "text")
    val out = TextOps.boilerplateProfile(df, "id", "text", minDocs = 3)
      .orderBy("id")
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(out.map(r => (r._1, r._2, r._3)).toSeq == Seq(
      (1L, 2L, 1L), (2L, 2L, 1L), (3L, 3L, 1L), (4L, 1L, 0L), (5L, 0L, 0L)))
    assert(out(0)._4.contains(0.5))
    assert(out(4)._4.isEmpty) // no sentences → null fraction
  }

  test("medianMad computes exact lower medians and robust outlier counts") {
    // group g1: values 1..7 plus outlier 1000 → n=8, lower median = 4
    // deviations |v-4|: 3,2,1,0,1,2,3,996 → sorted 0,1,1,2,2,3,3,996
    // lower median of 8 = 4th smallest = 2 → MAD 2; |v-4|>6 → only 1000
    val g1 = (1 to 7).map(v => ("g1", v.toLong)) :+ ("g1", 1000L)
    // g2: constant column → median=5, MAD=0, every v==median → 0 outliers
    val g2 = Seq.fill(4)(("g2", 5L))
    val df = (g1 ++ g2).toDF("g", "v")
    val out = Stats.medianMad(df, col("g"), col("v"), z = 3)
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(("g1", 8L, 4L, 2L, 1L), ("g2", 4L, 5L, 0L, 0L)))
  }

  test("medianMad is exact across 16-bit bucket edges, negatives included") {
    // values straddle 16-bit bucket edges and include negatives; the
    // radix implementation returned this row at every level count
    // (domainBits 21, 32, 48 and 64). 9 values: lower median = 5th
    // smallest = 65535; |v − 65535| sorted 0, 1, 2, 65534, 65535, … →
    // MAD 65535; only 500000 (deviation 434465) exceeds 3·MAD
    val vs = Seq(-70000L, -1L, 0L, 1L, 65535L, 65536L, 65537L, 131071L,
      500000L)
    val df = vs.map(("g", _)).toDF("g", "v")
    val out = Stats.medianMad(df, col("g"), col("v"), z = 3)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("g", 9L, 65535L, 65535L, 1L)))
  }

  test("medianMad skips rows whose group or value is null") {
    val df = Seq[(Option[String], Option[Long])](
      (Some("g1"), Some(1L)), (Some("g1"), Some(2L)), (Some("g1"), Some(9L)),
      (Some("g1"), None), (Some("g1"), None),
      (Some("g2"), None),
      (None, Some(4L)), (None, Some(6L))
    ).toDF("g", "v")
    val out = Stats.medianMad(df, col("g"), col("v"), z = 3)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // g1 keeps {1, 2, 9}: median 2, |v − 2| = {1, 0, 7} → MAD 1, and 9
    // is the one outlier (7 > 3); g2 has no non-null value and the null
    // group is skipped, so neither has a row
    assert(out == Seq(("g1", 3L, 2L, 1L, 1L)))
  }

  test("weightedPercentiles picks the smallest value reaching p% of total weight") {
    // g1: v=1 w=1, v=2 w=1, v=3 w=8 → W=10
    //   p25: cum(1)=1, cum(2)=2, cum(3)=10 → 2*100 < 10*25? 200<250 yes → p25=3? No:
    //   cum*100 >= W*p: v=1: 100>=250 no; v=2: 200>=250 no; v=3: 1000>=250 yes → p25=3
    //   (the heavy value owns everything from the 21st weight percentile up)
    // g2: uniform weights 1 on 1..4 → p50 = 2 (cum 200 >= 200), p75 = 3, p90 = 4
    val df = Seq(
      ("g1", 1L, 1L), ("g1", 2L, 1L), ("g1", 3L, 8L),
      ("g2", 1L, 1L), ("g2", 2L, 1L), ("g2", 3L, 1L), ("g2", 4L, 1L)
    ).toDF("g", "v", "w")
    val out = Stats.weightedPercentiles(df, col("g"), col("v"), col("w"),
        Seq(25, 50, 75, 90))
      .orderBy("g")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      ("g1", 10L, 3L, 3L, 3L, 3L),
      ("g2", 4L, 1L, 2L, 3L, 4L)))
  }

  test("weightedPercentiles with unit weights equals unweighted lower quantiles") {
    val df = (1L to 100L).map(v => ("g", v, 1L)).toDF("g", "v", "w")
    val out = Stats.weightedPercentiles(df, col("g"), col("v"), col("w"),
        Seq(50, 90)).as[(String, Long, Long, Long)].head()
    assert(out == (("g", 100L, 50L, 90L)))
  }

  test("kmvIntersectEstimate is exact when both sides fit the sketch") {
    val a = (1L to 40L).toDF("v")
    val b = (31L to 60L).toDF("v") // true intersection 10
    val out = Sketches.kmvIntersectEstimate(a, col("v"), b, col("v"), k = 128)
      .select("n_a_kept", "n_b_kept", "rho", "est_union", "est_intersect")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(out == ((40L, 30L, 10L, 60.0, 10.0)))
  }

  test("kmvIntersectEstimate approximates large overlaps within 25%") {
    val a = (1L to 5000L).toDF("v")
    val b = (3001L to 8000L).toDF("v") // true ∩ = 2000, ∪ = 8000
    val out = Sketches.kmvIntersectEstimate(a, col("v"), b, col("v"), k = 256)
      .select("n_a_kept", "n_b_kept", "est_union", "est_intersect")
      .as[(Long, Long, Double, Double)].head()
    assert(out._1 == 256L && out._2 == 256L) // sketches bounded at k
    assert(math.abs(out._3 - 8000.0) / 8000.0 < 0.25)
    assert(math.abs(out._4 - 2000.0) / 2000.0 < 0.25)
  }

  test("itemCooccurrence prunes power users before the pair join") {
    // users 1,2,3 share items; user 9 touches everything (power user)
    val events = Seq(
      (1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 20L),
      (3L, 30L), (1L, 10L) // duplicate interaction collapses
    ) ++ (1L to 50L).map(i => (9L, i * 10L))
    val df = events.toDF("u", "item")
    val out = EventOps.itemCooccurrence(df, "u", "item",
        maxItemsPerUser = 10, minCommon = 2)
      .orderBy("item_a", "item_b")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // only (10,20) co-occurs >= 2 times among kept users; user 9 pruned,
    // so n_a counts exclude them
    assert(out.toSeq == Seq((10L, 20L, 3L, 3L, 3L, 1.0)))
  }

  test("cooccurrenceLift bands df and reports exact counts with lift") {
    // 10 docs: "x y" always together (lift 10/..); "z" in 9 docs alone;
    // "rare" hapax (df 10% < minDfPct 20%) is banded out
    val docs = (1 to 9).map(i => (i.toLong, "x y z")) :+ (10L, "x y rare")
    val df = docs.toDF("id", "text")
    val out = TextOps.cooccurrenceLift(df, "id", "text",
        minDfPct = 20, maxDfPct = 100, minPairs = 2)
      .orderBy("tok_a", "tok_b")
      .as[(String, String, Long, Long, Long, Double)].collect()
    // banded tokens: x(10), y(10), z(9); rare df=1 → out (1*100 < 20*10... 100 >= 200 false)
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq == Seq(
      ("x", "y", 10L, 10L, 10L),
      ("x", "z", 10L, 9L, 9L),
      ("y", "z", 10L, 9L, 9L)))
    // lift(x,y) = N*n_ab/(n_a*n_b) = 10*10/100 = 1.0
    assert(out(0)._6 == 1.0)
    // lift(x,z) = 10*9/90 = 1.0
    assert(out(1)._6 == 1.0)
  }

  test("cooccurrenceLift lift exceeds 1 for positively associated pairs") {
    // a,b together in 5 docs; a alone in 5; b alone in 5; 5 docs neither
    val docs =
      (1 to 5).map(i => (i.toLong, "a b")) ++
      (6 to 10).map(i => (i.toLong, "a q")) ++
      (11 to 15).map(i => (i.toLong, "b q")) ++
      (16 to 20).map(i => (i.toLong, "q w"))
    val out = TextOps.cooccurrenceLift(docs.toDF("id", "text"), "id", "text",
        minDfPct = 10, maxDfPct = 100, minPairs = 2)
      .as[(String, String, Long, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._6)).toMap
    // lift(a,b) = 20*5/(10*10) = 1.0 — independent-looking despite pairing
    // lift(a,q): a∩q docs = 5, q df 15 → 20*5/150 = 0.667 — repulsion
    assert(out(("a", "b")) == 1.0)
    assert(math.abs(out(("a", "q")) - 20.0 * 5 / 150) < 1e-12)
  }

  test("duplicateSpans merges overlapping and adjacent shared runs, skips unique text") {
    // docs 1 and 2 share tokens 0-9 verbatim (6 overlapping 5-grams →
    // ONE span [0,10)); doc 3 shares nothing; docs 4/5 share two
    // disjoint 5-token runs separated by unique text → TWO spans
    val shared = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    val run1 = "b1 b2 b3 b4 b5"
    val run2 = "c1 c2 c3 c4 c5"
    val docs = Seq(
      (1L, s"$shared u1 u2 u3"),
      (2L, s"$shared v1 v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7"),
      (4L, s"$run1 x1 x2 x3 x4 x5 $run2"),
      (5L, s"$run1 y1 y2 y3 y4 y5 $run2")).toDF("doc_id", "text")
    val out = TextOps.duplicateSpans(docs, "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 10L, 6L), (2L, 0L, 10L, 6L),
      (4L, 0L, 5L, 1L), (4L, 10L, 15L, 1L),
      (5L, 0L, 5L, 1L), (5L, 10L, 15L, 1L)))
  }

  test("duplicateSpans merges runs that ABUT (gap = 0) into one span") {
    // doc1's grams at pos 0 (p1..p5) and pos 5 (q1..q5) are both
    // duplicated (doc2 carries the same two runs, offset by a z9), but
    // the bridging grams at pos 1-4 are unique to doc1. Coverage of the
    // pos-0 gram ends exactly where pos 5 starts (prev_end == 5), so the
    // two runs abut with no uncovered token between them → ONE span
    // [0,10), not two
    val docs = Seq(
      (1L, "p1 p2 p3 p4 p5 q1 q2 q3 q4 q5"),
      (2L, "p1 p2 p3 p4 p5 z9 q1 q2 q3 q4 q5")).toDF("doc_id", "text")
    val out = TextOps.duplicateSpans(docs, "doc_id", "text", n = 5, minDocs = 2)
      .filter(col("doc_id") === 1L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 0L, 10L, 2L)))
  }

  test("hashedLinearScore: score equals the per-token weight-sum spec, plan has no shuffle") {
    def h48(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString, 16)
    }
    def weight(tok: String): Long = h48("w_" + (h48(tok) % 4096)) % 16 - 8
    val docs = Seq((1L, "the quick brown fox"), (2L, "lorem ipsum"))
      .toDF("doc_id", "text")
    val out = TextOps.hashedLinearScore(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val exp = Seq("the quick brown fox", "lorem ipsum").zipWithIndex.map {
      case (t, i) =>
        val sc = t.split("\\s+").map(weight).sum
        (i + 1L, t.split("\\s+").length.toLong, sc, if (sc >= 0) 1L else 0L)
    }
    assert(out == exp)
    // model scoring must stay map-only: no Exchange in the plan
    val plan = TextOps.hashedLinearScore(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("bpeTrain learns the expected merges on a known corpus") {
    // "low low low lower newest newest": classic Sennrich-style fixture.
    // Pair counts round 1: (l,o)=4, (o,w)=4, (w,e)=3, ... tiebreak picks
    // (l,o) over (o,w) lexicographically at equal count.
    val df = Seq("low low low lower newest newest").toDF("text")
    val rules = TextOps.bpeTrain(df, "text", 3)
      .orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(rules(0) == ((1, "l", "o", 4L)), rules)
    assert(rules(1) == ((2, "lo", "w", 4L)), rules)
    // round 3: "low"/"lower" start with one `low` symbol, so lower's
    // (w,e) is gone; best remaining are the newest-pairs at 2, and the
    // (l asc, r asc) tiebreak picks (e,s)
    assert(rules(2) == ((3, "e", "s", 2L)), rules)
  }

  test("bpe merge apply is greedy leftmost non-overlapping") {
    // "aaa" with merge (a,a) → [aa, a], never [a, aa] or overlap
    val df = Seq("aaa aaaa").toDF("text")
    val seg = df.select(TextOps.bpeSegment(col("text"),
      Seq(("a", "a"))).as("t")).as[Seq[String]].head()
    assert(seg == Seq("aa", "a", " ", "aa", "aa"), seg)
  }

  test("bpeSegment applies learned rules in order") {
    val corpus = Seq("low low low lower newest newest").toDF("text")
    val rules = TextOps.bpeTrain(corpus, "text", 3)
      .orderBy("step")
      .as[(Int, String, String, Long)].collect().toSeq
      .map(r => (r._2, r._3))
    val seg = Seq("lowest").toDF("t")
      .select(TextOps.bpeSegment(col("t"), rules).as("s"))
      .as[Seq[String]].head()
    // rules: (l,o) → (lo,w) → (e,s); "lowest" → [low, es, t]
    assert(seg == Seq("low", "es", "t"), seg)
  }

  test("bpeTokenCounts segments via the vocab join, not per-doc folds") {
    val corpus = Seq((1L, "low low low lower newest newest")).toDF("id", "text")
    val rules = TextOps.bpeTrain(corpus, "text", 3)
      .orderBy("step").as[(Int, String, String, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    // rules: (l,o),(lo,w),(e,s): low→[low]=1, lower→[low,e,r]=3,
    // newest→[n,e,w,es,t]=5
    val out = TextOps.bpeTokenCounts(
        Seq((7L, "low lower newest")).toDF("id", "text"), "id", "text", rules)
      .as[(Long, Long, Long)].head()
    assert(out == ((7L, 3L, 9L)), out)
  }

  test("winnowFingerprints: bounded gaps and guaranteed shared-run detection") {
    val words = (1 to 60).map(i => s"w$i").mkString(" ")
    val shared = (100 to 110).map(i => s"s$i").mkString(" ") // 11-token run
    val df = Seq(
      (1L, words + " " + shared),
      (2L, shared + " " + (200 to 240).map(i => s"x$i").mkString(" ")),
      (3L, "too short")).toDF("doc_id", "text")
    val out = TextOps.winnowFingerprints(df, "doc_id", "text", k = 4, w = 5)
      .as[(Long, Long, Long)].collect().toSeq
    // short doc emits nothing
    assert(!out.exists(_._1 == 3L))
    // gap bound: consecutive selected positions differ by <= w
    for (d <- Seq(1L, 2L)) {
      val ps = out.filter(_._1 == d).map(_._2).sorted
      assert(ps.nonEmpty)
      ps.zip(ps.tail).foreach { case (a, b) =>
        assert(b - a <= 5, s"doc $d gap $a->$b") }
    }
    // the >= w+k-1 shared run yields at least one common fingerprint
    val f1 = out.filter(_._1 == 1L).map(_._3).toSet
    val f2 = out.filter(_._1 == 2L).map(_._3).toSet
    assert((f1 & f2).nonEmpty, "shared 11-token run not detected")
    // and the candidate pass surfaces exactly that pair
    val cands = TextOps.winnowCopyCandidates(df, "doc_id", "text",
        k = 4, w = 5, maxDf = 20, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands == Set((1L, 2L)), cands)
  }

  test("heavyHitters is exact and partitioning-invariant despite MG eviction") {
    // 4000 distinct tail terms (1×) + 3 heavy terms; capacity 128 forces
    // heavy eviction churn in every partition
    val rows = (1 to 4000).map(i => s"tail_$i") ++
      Seq.fill(500)("hot_a") ++ Seq.fill(300)("hot_b") ++ Seq.fill(60)("warm")
    val df = rows.toDF("t")
    // n = 4860; support 10000ppm → cnt ≥ 48.6 → hot_a, hot_b, warm
    val exact = Map("hot_a" -> 500L, "hot_b" -> 300L, "warm" -> 60L)
    for (parts <- Seq(1, 3, 13)) {
      val out = graft.operators.Sketches.heavyHitters(
          df.repartition(parts), col("t"), capacity = 128, supportPpm = 10000L)
        .as[(String, Long)].collect().toMap
      assert(out == exact, s"parts=$parts: $out")
    }
  }

  test("heavyHitters rejects a capacity too small for the support") {
    intercept[IllegalArgumentException] {
      graft.operators.Sketches.heavyHitters(
        Seq("x").toDF("t"), col("t"), capacity = 50, supportPpm = 10000L)
    }
  }

  test("bpeTrain leaves no cached frames behind") {
    val before = spark.sparkContext.getPersistentRDDs.size
    TextOps.bpeTrain(Seq("a b ab ab ba").toDF("text"), "text", 4).collect()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("ngramNoveltyVsCorpus: re-crawls 0, new text 1000, mixed in between") {
    val corpus = Seq(
      (1L, "c1 c2 c3 c4 c5 c6"),
      (2L, "d1 d2 d3 d4 d5")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "c1 c2 c3 c4 c5 c6"),            // exact re-crawl → 0
      (11L, "n1 n2 n3 n4 n5 n6"),            // all new → 1000
      (12L, "c1 c2 c3 c4 c5 x9"),            // 1 of 2 grams new → 500
      (13L, "s1 s2")).toDF("doc_id", "text") // shingle-less → null
    val out = TextOps.ngramNoveltyVsCorpus(corpus, fresh, "doc_id", "text", 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(out == Seq(
      (10L, 2L, 0L, Some(0L)),
      (11L, 2L, 2L, Some(1000L)),
      (12L, 2L, 1L, Some(500L)),
      (13L, 0L, 0L, None)))
  }

  test("gram store: stored probe == recompute; corpus change forces rebuild") {
    val corpus = Seq(
      (1L, "c1 c2 c3 c4 c5 c6"),
      (2L, "d1 d2 d3 d4 d5")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "c1 c2 c3 c4 c5 c6"),
      (11L, "n1 n2 n3 n4 n5 n6")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-gramstore")
      .toString
    TextOps.gramStoreEnsure(corpus, "doc_id", "text", 5, dir)
    def run() = TextOps
      .ngramNoveltyVsCorpusStored(fresh, "doc_id", "text", 5, dir)
      .orderBy("doc_id").as[(Long, Long, Long, Option[Long])].collect().toSeq
    val expect = TextOps.ngramNoveltyVsCorpus(corpus, fresh,
        "doc_id", "text", 5)
      .orderBy("doc_id").as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(run() == expect)
    // same corpus → the gate must not rebuild (tag file untouched)
    val fp = java.nio.file.Paths.get(dir, "FINGERPRINT")
    val mtime = java.nio.file.Files.getLastModifiedTime(fp)
    TextOps.gramStoreEnsure(corpus, "doc_id", "text", 5, dir)
    assert(java.nio.file.Files.getLastModifiedTime(fp) == mtime,
      "unchanged corpus must not rebuild the store")
    // changed corpus → rebuild, and the stored probe tracks the change
    val corpus2 = corpus.unionByName(
      Seq((3L, "n1 n2 n3 n4 n5 n6")).toDF("doc_id", "text"))
    TextOps.gramStoreEnsure(corpus2, "doc_id", "text", 5, dir)
    val expect2 = TextOps.ngramNoveltyVsCorpus(corpus2, fresh,
        "doc_id", "text", 5)
      .orderBy("doc_id").as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(run() == expect2 && expect2 != expect)
  }

  test("ngramNovelty: unique docs score 1000, exact dup pairs 0, short docs null") {
    val docs = Seq(
      (1L, "m1 m2 m3 m4 m5 m6 m7"),       // all grams unique → 1000
      (2L, "d1 d2 d3 d4 d5 d6"),          // duplicated in doc 3 → 0
      (3L, "d1 d2 d3 d4 d5 d6"),
      (4L, "s1 s2")).toDF("doc_id", "text") // too short → 0 grams, null
    val out = TextOps.ngramNovelty(docs, "doc_id", "text", n = 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(out == Seq(
      (1L, 3L, 3L, Some(1000L)),
      (2L, 2L, 0L, Some(0L)),
      (3L, 2L, 0L, Some(0L)),
      (4L, 0L, 0L, None)))
  }

  test("jsonSchemaProfile surfaces mixed types and optional keys as separate rows") {
    val j = Seq(
      """{"a": 1, "b": "x"}""",
      """{"a": 2.5, "b": "y", "c": true}""",
      """{"a": 3}"""
    ).toDF("props")
    val out = Stats.jsonSchemaProfile(j, col("props"))
      .as[(String, String, Long, String, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // key "a" drifts between long and double → two rows, THE drift report
    assert(out(("a", "long")) == (2L, "1", "3"))
    assert(out(("a", "double")) == (1L, "2.5", "2.5"))
    assert(out(("b", "string")) == (2L, "x", "y"))
    assert(out(("c", "bool"))._1 == 1L)
    assert(out.size == 4)
  }

  test("quantileNormalize: max maps to 1e6, ties share a quantile, ranks monotone") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 20L), ("a", 4L, 40L),
      ("b", 5L, 7L)
    ).toDF("g", "id", "v")
    val out = Stats.quantileNormalize(df, col("g"), col("v"), col("id"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(out(1L) == 250000L)            // cum 1 of 4
    assert(out(2L) == 750000L && out(3L) == 750000L) // tied at cum 3 of 4
    assert(out(4L) == 1000000L)           // the max always lands on 1e6
    assert(out(5L) == 1000000L)           // singleton group
  }

  test("histogramDrift: zero on identical distributions, positive on shift") {
    // old and new each: 50 rows in bucket 0, 50 in bucket 1 → no drift
    val same = ((0 until 100).map(i => (i < 50, i % 2)) ++
        (0 until 100).map(i => (i >= 50, i % 2)))
      .toDF("side", "bucket")
    val zero = Stats.histogramDrift(same, col("side"), col("bucket"))
      .as[(Long, Long, Long, Long)].collect()
    assert(zero.forall(_._4 == 0L), s"identical dists must give 0: ${zero.toSeq}")

    // new side concentrates in bucket 0 → positive drift in every bucket
    val shifted = ((0 until 100).map(i => (false, i % 2)) ++
        (0 until 100).map(i => (true, if (i < 90) 0 else 1)))
      .toDF("side", "bucket")
    val drift = Stats.histogramDrift(shifted, col("side"), col("bucket"))
      .as[(Long, Long, Long, Long)].collect()
    assert(drift.forall(_._4 > 0L), s"shifted dists must drift: ${drift.toSeq}")
  }

  test("skewProfile: top-N by count with deterministic ties, exact shares, partition-invariant") {
    // key 7 is hot (10 rows), 3 and 5 tie at 4, long tail of singletons
    val rows = Seq.fill(10)(7L) ++ Seq.fill(4)(3L) ++ Seq.fill(4)(5L) ++
      (100L to 105L)
    val df = rows.toDF("k").repartition(7)
    val got = Stats.skewProfile(df, col("k"), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = rows.size.toLong; val nKeys = 9L
    assert(got.toSeq == Seq(
      (7L, 10L, 10L * 1000000 / total, 10L * nKeys * 1000 / total),
      (3L, 4L, 4L * 1000000 / total, 4L * nKeys * 1000 / total),
      (5L, 4L, 4L * 1000000 / total, 4L * nKeys * 1000 / total)),
      s"got ${got.toSeq}")
    // partition-invariance: a different layout yields the identical rows
    val again = Stats.skewProfile(rows.toDF("k").repartition(2), col("k"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq == got.map(t => (t._1, t._2)).toSeq)
  }

  test("robustOutliers returns exactly the rows medianMad counts") {
    // group g: spread 1..21 (median 11, MAD 6) plus two extremes
    val rows = ((1L to 21L) ++ Seq(1000L, -500L))
      .zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
    val df = rows.toDF("g", "id", "v")
    val out = Stats.robustOutliers(df, col("g"), col("v"), col("id"), z = 3)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val counted = Stats.medianMad(df, col("g"), col("v"), z = 3)
      .select("n_outliers").as[Long].collect().head
    assert(out.length.toLong == counted,
      s"row-level extraction (${out.length}) != counted ($counted)")
    assert(out.map(_._3).toSet == Set(1000L, -500L))
    out.foreach { case (_, _, v, med, mad, dev) =>
      assert(dev == math.abs(v - med) && dev > 3 * mad)
    }
  }
}
