package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curate, Dedup, EventOps, Graph, Layout, Linkage, Similarity, Skew, Stats, TextOps}

/** Round-10 wave-5 operators: n-gram diversity, CUSUM change-point,
  * lag-1 autocorrelation, l-diversity, Benford profile, and the
  * peak-concurrency sweep (q198-q203). Each test pins the exact
  * integer/6dp contract the DuckDB oracle replays with hand-computed
  * micro cases.
  */
class Frontier2OpsSpec extends SparkSuite {
  import spark.implicits._

  test("ngramDiversity counts positional n-grams and distinct types") {
    val docs = Seq(("a", "x x y"), ("a", "x y")).toDF("src", "text")
    val out = TextOps.ngramDiversity(docs, col("src"), col("text"),
        Seq(1, 2))
      .orderBy("n")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // unigrams: 5 occurrences of 2 types; bigrams: "x x","x y","x y" →
    // 3 occurrences of 2 types
    assert(out == Seq(("a", 1L, 5L, 2L, 400000L),
      ("a", 2L, 3L, 2L, 666666L)))
  }

  test("cusumChangePoint localizes a level shift at the last low bucket") {
    // series 1,1,5,5: D_k = |4·P_k − k·12| = 8,16,8,0 → max at k=2,
    // cusum_ppm = 10⁶·16/(4·12) = 333333
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 3L), ("g", 3L),
      ("g", 3L), ("g", 3L), ("g", 4L), ("g", 4L), ("g", 4L), ("g", 4L),
      ("g", 4L), ("g", 1L)).toDF("grp", "day")
      .withColumn("one", lit(1L))
    val out = Stats.cusumChangePoint(df, col("grp"), col("day"),
        col("one"))
      .as[(String, Long, Long, Long, Long)].head()
    // counts per day: d1=2, d2=1, d3=5, d4=5 → n=4, S=13,
    // P=[2,3,8,13], D=|4P−k·13| = 5,14,7,0 → peak k=2 (day 2),
    // ppm = 10⁶·14/(4·13) = 269230
    assert(out == (("g", 4L, 13L, 2L, 269230L)))
  }

  test("lagAutocorr reports the exact 6dp ratio of integer sums") {
    // daily counts 1,2,4,8 → dev = 4x−15 = [−11,−7,1,17],
    // num = 77 − 7 + 17 = 87, den = 460 → round(87/460, 6) = 0.18913
    val rows = (1 to 1).flatMap(_ => Seq.fill(1)(("g", 1L))) ++
      Seq.fill(2)(("g", 2L)) ++ Seq.fill(4)(("g", 3L)) ++
      Seq.fill(8)(("g", 4L))
    val df = rows.toDF("grp", "day").withColumn("one", lit(1L))
    val out = Stats.lagAutocorr(df, col("grp"), col("day"), col("one"))
      .as[(String, Long, Double)].head()
    assert(out._1 == "g" && out._2 == 4L)
    assert(math.abs(out._3 - 0.18913) < 1e-9)
    // constant series → zero variance → defined 0.0, not null/NaN
    val flat = Seq(("f", 1L), ("f", 2L)).toDF("grp", "day")
      .withColumn("one", lit(1L))
    assert(Stats.lagAutocorr(flat, col("grp"), col("day"), col("one"))
      .as[(String, Long, Double)].head()._3 == 0.0)
  }

  test("lDiversity flags homogeneous classes kAnonymity would pass") {
    val df = Seq(("A", 1L), ("A", 1L), ("A", 2L), ("B", 5L), ("B", 5L))
      .toDF("qi", "sv0")
    val out = Curate.lDiversity(df, Seq(col("qi")), col("sv0"), l = 2L)
      .orderBy("qi")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // A: 3 members over 2 values (top share 2/3); B: 2 members, ONE
    // value → 1-diverse → below_l even though k-anonymity at k=2 passes
    assert(out == Seq(("A", 3L, 2L, 666666L, 0L),
      ("B", 2L, 1L, 1000000L, 1L)))
  }

  test("benfordProfile grids all 9 digits and deviates exactly") {
    val df = Seq(("g", 1L), ("g", 10L), ("g", 19L), ("g", 25L),
      ("g", 9L), ("g", 0L), ("g", -3L)).toDF("grp", "v")
    val out = Stats.benfordProfile(df, col("grp"), col("v"))
      .orderBy("digit")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out.size == 9, "all 9 digits must surface")
    val byDigit = out.map(r => r._2 -> r).toMap
    // n = 5 (zero and negative excluded); digit 1 observed 3× →
    // dev = |3·10⁶ − 5·301030| / 5 = 298970
    assert(byDigit(1L) == (("g", 1L, 3L, 301030L, 298970L)))
    // digit 3 unobserved → n_obs 0, dev = exp_ppm
    assert(byDigit(3L) == (("g", 3L, 0L, 124939L, 124939L)))
    assert(out.map(_._4).sum == 1000000L, "expectations sum to 1e6")
  }

  test("prefixFilterPairs finds exactly the J >= t pairs incl. the boundary") {
    val sh = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"), (1L, "e"),
      (2L, "a"), (2L, "b"), (2L, "c"), (2L, "d"), (2L, "f"),
      (3L, "x"), (3L, "y"),
      (4L, "p"), (4L, "q"), (4L, "r"), (4L, "s"),
      (5L, "p"), (5L, "q"), (5L, "r"), (5L, "t")
    ).toDF("id", "shingle")
    val out = Dedup.prefixFilterPairs(sh, 600000L, persist = false)
      .orderBy("id_a")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // (1,2): J = 4/6 = 0.6667; (4,5): J = 3/5 = 0.6 EXACTLY — the
    // boundary pair integral floor-div must keep; doc 3 matches nothing
    assert(out == Seq((1L, 2L, 4L, 5L, 5L, 666666L),
      (4L, 5L, 3L, 4L, 4L, 600000L)))
  }

  test("hits separates hub and authority roles with exact L1 integer norm") {
    val edges = Seq((1L, 10L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val out = Graph.hits(edges, iters = 2, persist = false)
      .orderBy("kind", "node")
      .as[(Long, String, Long)].collect().toSeq
    // hand-unrolled two rounds (see scaladoc arithmetic): node 2 is the
    // stronger hub (it reaches both authorities), node 10 the stronger
    // authority (both hubs point at it)
    assert(out == Seq(
      (10L, "auth", 625000000000L), (11L, "auth", 375000000000L),
      (1L, "hub", 384615384615L), (2L, "hub", 615384615384L)))
  }

  test("blockingAudit reports reduction and completeness combinatorially") {
    val df = Seq(("A", "x"), ("A", "x"), ("A", "y"), ("B", "x"))
      .toDF("blk", "truth")
    val out = Linkage.blockingAudit(df, col("blk"), col("truth"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    // blocks A(3)+B(1): cand C(3,2)=3 of total C(4,2)=6 → reduction
    // 500000 ppm; truth x(3): 3 true pairs, 1 found inside A →
    // completeness 333333 ppm
    assert(out == ((4L, 2L, 3L, 6L, 500000L, 3L, 1L, 333333L)))
  }

  test("sortedNeighborhoodPairs joins across bucket boundaries on global positions") {
    val df = Seq((1L, "aa"), (2L, "ab"), (3L, "ba"), (4L, "bb"))
      .toDF("id", "k0")
    val out = Linkage.sortedNeighborhoodPairs(df, "id", "k0",
        k => substring(k, 1, 1), window = 2, maxDist = 2)
      .orderBy("id_a")
      .as[(Long, Long, String, String, Long)].collect().toSeq
    // sort order aa,ab,ba,bb; window 2 = adjacent only; the (ab, ba)
    // pair CROSSES the first-char bucket boundary — it only appears if
    // the bucket-local ranks got exact global offsets
    assert(out == Seq((1L, 2L, "aa", "ab", 1L),
      (2L, 3L, "ab", "ba", 2L), (3L, 4L, "ba", "bb", 1L)))
  }

  test("conversionLatency cohorts by first-touch day with exact quantiles") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val e = Seq(
      (1L, ts(1000), "view"), (1L, ts(4000), "purchase"),
      (2L, ts(0), "view"), (2L, ts(0), "purchase"),
      (3L, ts(10), "purchase"), (3L, ts(20), "view"), // conv before view
      (4L, ts(50), "view") // never converts
    ).toDF("user_id", "ts", "event_type")
    val out = EventOps.conversionLatency(e, "user_id", "ts",
        "event_type", "view", "purchase")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // users 1 (3000 s) and 2 (0 s) convert; 3's purchase precedes its
    // view, 4 never converts. n=2 → median target 1 → 0 s, p90 target
    // ⌈1.8⌉=2 → 3000 s; both first touches are epoch day 0
    assert(out == Seq((0L, 2L, 0L, 3000L)))
  }

  test("pathTrigrams counts consecutive type triples in (ts, id) order") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val e = Seq(
      (1L, 101L, ts(1), "a"), (1L, 102L, ts(2), "b"),
      (1L, 103L, ts(3), "a"), (1L, 104L, ts(4), "b"),
      (2L, 201L, ts(1), "c") // too short for a trigram
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = EventOps.pathTrigrams(e, "user_id", "ts", "event_id",
        "event_type")
      .orderBy("step1")
      .as[(String, String, String, Long)].collect().toSeq
    assert(out == Seq(("a", "b", "a", 1L), ("b", "a", "b", 1L)))
  }

  test("skippingAudit counts zone-map hits per layout") {
    val rows = (1L to 20L).map(k => (k, k % 2)).toDF("k", "h")
    val probes = Seq(5L, 15L).toDF("p")
    val range = Layout.skippingAudit(rows, expr("k div 10"), col("k"),
        probes, col("p"), "range")
      .as[(String, Long, Long, Long, Long)].head()
    // range files [1..9],[10..19],[20]: each probe touches exactly one
    assert(range == (("range", 3L, 2L, 2L, 333333L)))
    val hash = Layout.skippingAudit(rows, col("h"), col("k"),
        probes, col("p"), "hash")
      .as[(String, Long, Long, Long, Long)].head()
    // both parity files span [1..20] → every probe touches both
    assert(hash == (("hash", 2L, 2L, 4L, 1000000L)))
  }

  test("fdAudit reports violation mass per candidate dependency") {
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"), (3L, "c"))
      .toDF("l0", "r0")
    val out = Stats.fdAudit(df, Seq(("l->r", col("l0"), col("r0"))))
      .as[(String, Long, Long, Long, Long)].head()
    // lhs group 2 carries two rhs values → one violating group, one
    // extra value, FD does not hold
    assert(out == (("l->r", 3L, 1L, 1L, 0L)))
  }

  test("kendallTau counts strict-order pair moves exactly") {
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    val df = Seq((1L, "S", ts(1), 10L), (1L, "S", ts(2), 20L),
      (1L, "S", ts(3), 15L), (2L, "S", ts(1), 7L)) // customer 2: no pair
      .toDF("k0", "seg", "od", "v0")
    val out = Stats.kendallTau(df, col("k0"), col("od"), col("v0"),
        col("seg"))
      .as[(String, Long, Long, Long, Long, Double)].head()
    // pairs (1,2) conc, (1,3) conc, (2,3) disc → tau = 1/3
    assert(out == (("S", 3L, 2L, 1L, 0L, 0.333333)))
  }

  test("fanoFactor is 0 for flat series and exact for dispersed ones") {
    val df = Seq(("g", 1L), ("g", 1L), ("g", 2L), ("g", 2L),
      ("b", 1L), ("b", 2L), ("b", 2L), ("b", 2L))
      .toDF("grp", "day").withColumn("one", lit(1L))
    val out = Stats.fanoFactor(df, col("grp"), col("day"), col("one"))
      .orderBy("g").as[(String, Long, Long, Double)].collect().toSeq
    // b: buckets [1,3] → (2·10 − 16)/(2·4) = 0.5; g: [2,2] → 0
    assert(out == Seq(("b", 2L, 4L, 0.5), ("g", 2L, 4L, 0.0)))
  }

  test("paretoCoverage finds the minimal 50%/90% unit counts") {
    val rows = Seq.fill(6)(("t", "a")) ++ Seq.fill(3)(("t", "b")) ++
      Seq(("t", "c"))
    val out = Stats.paretoCoverage(rows.toDF("g0", "u0"), col("g0"),
        col("u0"))
      .as[(String, Long, Long, Long, Long)].head()
    // a carries 6/10 → one unit reaches 50%; a+b = 9/10 reaches 90%
    assert(out == (("t", 3L, 10L, 1L, 2L)))
  }

  test("saltPlan emits only over-budget keys with minimal ceil factors") {
    val rows = Seq.fill(5)("x") ++ Seq.fill(12)("y")
    val out = Skew.saltPlan(rows.toDF("k0"), col("k0"),
        targetPerSalt = 5L)
      .as[(String, Long, Long)].collect().toSeq
    // x sits exactly AT budget → safe; y needs ⌈12/5⌉ = 3 shards
    assert(out == Seq(("y", 12L, 3L)))
  }

  test("joinExplosionAudit reports exact pair counts and shares") {
    val a = Seq("x", "x", "x", "y").toDF("ka")
    val b = Seq("x", "y", "y").toDF("kb")
    val out = Stats.joinExplosionAudit(a, col("ka"), b, col("kb"),
        topK = 2)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // x: 3·1 = 3 pairs, y: 1·2 = 2 → total 5
    assert(out == Seq(("x", 3L, 1L, 3L, 600000L),
      ("y", 1L, 2L, 2L, 400000L)))
  }

  test("joinExplosionAudit raises (not nulls) past the int64 pair edge") {
    // a planted 3.04e9 × 3.04e9 hot key prices ≈9.24e18 pairs — just
    // above Long.MaxValue (9.223e18). The decimal(38,0) product must
    // carry the ordering, and the int64 output cast must RAISE with the
    // documented message instead of silently nulling under non-ANSI
    // eval (which would corrupt both the top-k order and the count).
    // spark.range is codegen'd, so the two 3e9-row constant-key counts
    // stay cheap; no pair row is ever materialized.
    val n = 3040000000L
    val a = spark.range(n).select(lit("h").as("ka"))
    val b = spark.range(n).select(lit("h").as("kb"))
    val e = intercept[Exception] {
      Stats.joinExplosionAudit(a, col("ka"), b, col("kb"), topK = 1)
        .collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ::: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("pair count exceeds int64")),
      s"expected the raise-not-null contract, got: $e")
  }

  test("piiCensus counts matches and hit docs per pattern class") {
    val docs = Seq(("s", "mail a@b.co and c@d.io"),
      ("s", "phone 555-123-4567"), ("t", "clean")).toDF("src", "text")
    val out = TextOps.piiCensus(docs, col("src"), col("text"), Seq(
        ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"),
        ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}")))
      .orderBy("g", "pii_type")
      .as[(String, String, Long, Long)].collect().toSeq
    // group t surfaces with zero counts — absence of PII is a finding
    assert(out == Seq(("s", "email", 2L, 1L), ("s", "phone", 1L, 1L),
      ("t", "email", 0L, 0L), ("t", "phone", 0L, 0L)))
  }

  test("templateClusters groups digit-masked identical texts") {
    val docs = Seq((1L, "a 1 b"), (2L, "a 22 b"), (3L, "c"))
      .toDF("doc_id", "text")
    val out = TextOps.templateClusters(docs, "doc_id", "text",
        minDocs = 2L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.size == 1)
    // 'a # b' absorbs both variants; the singleton 'c' is filtered
    assert((out.head._2, out.head._3, out.head._4) == ((2L, 2L, 1L)))
  }

  test("zoneStore persists the exact zone map under a fingerprint gate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zs").toString
    val df = Seq((1L, 1L), (2L, 1L), (11L, 2L)).toDF("k", "id")
    val z = Layout.zoneStore(df, expr("k div 10"), col("k"), dir, "t1")
      .orderBy("f").as[(Long, Long, Long)].collect().toSeq
    assert(z == Seq((0L, 1L, 2L), (1L, 11L, 11L)))
    assert(graft.operators.ContentGate.recordedTag(dir) == "t1")
    // unchanged tag → served from disk (the parquet survives verbatim
    // even when the source frame is different — proves no rebuild ran)
    val other = Seq((99L, 9L)).toDF("k", "id")
    val again = Layout.zoneStore(other, expr("k div 10"), col("k"),
        dir, "t1")
      .orderBy("f").as[(Long, Long, Long)].collect().toSeq
    assert(again == z, "same tag must not rebuild")
  }

  test("ContentGate.ensure gates through an explicit Hadoop file: URI") {
    // the control files must resolve through Hadoop FileSystem (the
    // store's data files already do) — a scheme-qualified URI is the
    // portability probe: java.nio would reject or shadow it
    val base = java.nio.file.Files.createTempDirectory("graft-cg").toString
    val dir = s"file://$base/store"
    var builds = 0
    graft.operators.ContentGate.ensure(dir, "tagA") { builds += 1 }
    graft.operators.ContentGate.ensure(dir, "tagA") { builds += 1 }
    assert(builds == 1, "unchanged tag rebuilt")
    assert(graft.operators.ContentGate.recordedTag(dir) == "tagA")
    graft.operators.ContentGate.ensure(dir, "tagB") { builds += 1 }
    assert(builds == 2, "stale tag did not rebuild")
    assert(graft.operators.ContentGate.recordedTag(dir) == "tagB")
    // and it landed where the URI points, not under a local shadow path
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(base, "store", "FINGERPRINT")))
  }

  test("readability computes the integer Flesch formula per doc") {
    val docs = Seq(("g", "Run. The cat sat!")).toDF("src", "text")
    val out = TextOps.readability(docs, col("src"), col("text"))
      .as[(String, Long, Long, Double)].head()
    // w=4, sentence runs=2, vowel groups=4 →
    // 206835 − (1015·4)div2 − (84600·4)div4 = 120205
    assert(out == (("g", 1L, 4L, 120205.0)))
  }

  test("matryoshkaRecall catches rankings the prefix dims cannot hold") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.5f, 0.86f)),
      (2L, Array(0.6f, -0.8f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.matryoshkaRecall(vecs,
        vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
        dims = 1, k = 1)
      .as[(Long, Long, Long)].head()
    // full-dim top-1 of q0 is id 2 (cos 0.6 vs 0.5), but on the first
    // coordinate alone all cosines are 1.0 and the id tiebreak picks
    // id 1 → recall 0
    assert(out == ((0L, 0L, 0L)))
  }

  test("latenessProfile measures arrival lag behind the running watermark") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val e = Seq((1L, ts(100), "g"), (2L, ts(50), "g"), (3L, ts(200), "g"),
      (4L, ts(199), "g")).toDF("event_id", "ts", "event_type")
    val out = EventOps.latenessProfile(e, "event_type", "ts", "event_id")
      .as[(String, Long, Long, Long, Long, Long)].head()
    // lateness seconds in arrival order: 0, 50, 0, 1 → 2/4 late,
    // median 0, p99 50, max 50
    assert(out == (("g", 4L, 500000L, 0L, 50L, 50L)))
  }

  test("giniConcentration matches the closed-form for a tiny split") {
    val rows = Seq(("g", "a"), ("g", "b"), ("g", "b"), ("g", "b"))
    val out = Stats.giniConcentration(rows.toDF("g0", "u0"), col("g0"),
        col("u0"))
      .as[(String, Long, Long, Double)].head()
    // masses (1, 3): G = Σ|xi−xj| / (2n²μ) = 4/16 = 0.25
    assert(out == (("g", 2L, 4L, 0.25)))
  }

  test("seasonalityProfile grids all 24 hours with exact shares") {
    def ts(hr: Long) = new java.sql.Timestamp(hr * 3600 * 1000)
    val e = Seq((1L, ts(0), "g"), (2L, ts(0), "g"), (3L, ts(1), "g"))
      .toDF("event_id", "ts", "event_type")
    val out = EventOps.seasonalityProfile(e, "event_type", "ts")
      .orderBy("hour")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out.size == 24)
    assert(out.take(2) == Seq(("g", 0L, 2L, 666666L),
      ("g", 1L, 1L, 333333L)))
    assert(out.drop(2).forall(r => r._3 == 0L && r._4 == 0L))
  }

  test("cohortValueCurve accumulates cents per cohort and age week") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val wk = 604800L
    val e = Seq((1L, ts(0), 100L), (1L, ts(wk), 200L),
      (2L, ts(wk), 50L)).toDF("user_id", "ts", "vc")
    val out = EventOps.cohortValueCurve(e, "user_id", "ts", col("vc"))
      .orderBy("cohort_week", "age_week")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((0L, 0L, 1L, 100L, 100L),
      (0L, 1L, 1L, 200L, 300L), (1L, 0L, 1L, 50L, 50L)))
  }

  test("trimmedMean trims by boundary values from the radix descent") {
    val df = (1L to 10L).map(v => ("g", v)).toDF("g0", "v0")
    val out = Stats.trimmedMean(df, col("g0"), col("v0"),
        alphaPct = 20)
      .as[(String, Long, Long, Long, Long, Double)].head()
    // lo = value at rank ⌈0.2·10⌉ = 2, hi = at rank ⌈0.8·10⌉ = 8 →
    // keep 2..8, mean 5.0
    assert(out == (("g", 10L, 2L, 8L, 7L, 5.0)))
  }

  test("doubleFireAudit counts rapid same-user same-type repeats") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val e = Seq((1L, 1L, ts(0), "g"), (2L, 1L, ts(1800), "g"),
      (3L, 1L, ts(18000), "g")).toDF("event_id", "user_id", "ts",
      "event_type")
    val out = EventOps.doubleFireAudit(e, "user_id", "event_type",
        "ts", "event_id", maxGapUs = 3600000000L)
      .as[(String, Long, Long, Long)].head()
    // gaps 30 min (burst) and 4.5 h (not) → 1 of 3 events
    assert(out == (("g", 3L, 1L, 333333L)))
  }

  test("sourceCrossEntropy scores hand-computed floor-bits") {
    // corpus: a:2, b:1, c:1, N=4 → p_micro(a)=500000 (bits 21−19=2),
    // p_micro(b)=p_micro(c)=250000 (bits 21−18=3).
    // s1 = "a a b": n=3, types=2, xent=2·2+3=7, avg=(7·1000) div 3=2333
    // s2 = "c": n=1, types=1, xent=3, avg=3000
    val docs = Seq(("s1", "a A b"), ("s2", "c")).toDF("src", "text")
    val out = TextOps.sourceCrossEntropy(docs, col("src"), "text")
      .orderBy("g").as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("s1", 3L, 2L, 7L, 2333L), ("s2", 1L, 1L, 3L, 3000L)))
  }

  test("groupKFold keeps groups atomic and accounts every row") {
    val rows = (1 to 40).map(i => (s"grp${i % 7}", i.toLong))
    val df = rows.toDF("g0", "w")
    val out = Curate.groupKFold(df, col("g0"), col("w"), k = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1).forall(f => f >= 0 && f < 3))
    assert(out.map(_._2).sum == 7L, "every group in exactly one fold")
    assert(out.map(_._3).sum == 40L, "every row accounted")
    assert(out.map(_._4).sum == rows.map(_._2).sum, "weight conserved")
    assert(out.forall(_._5 == 1L), "a group never spans folds")
  }

  test("kFoldComposition shares and deviations reconcile exactly") {
    val rows = (1 to 60).map(i =>
      (s"g${i % 11}", if (i % 3 == 0) "s1" else "s2"))
    val df = rows.toDF("g0", "src")
    val out = Curate.kFoldComposition(df, col("g0"), col("src"), k = 3)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._3).sum == 60L, "every row in exactly one cell")
    // within a fold, share_ppm is (1e6·n) div fold_total — floor sums
    // to ≤ 1e6 per fold
    out.groupBy(_._1).foreach { case (_, cells) =>
      val tot = cells.map(_._3).sum
      cells.foreach { c =>
        assert(c._4 == c._3 * 1000000L / tot)
        assert(c._6 == c._4 - c._5, "dev = share - corpus")
      }
    }
    // corpus_ppm is fold-independent per stratum
    assert(out.groupBy(_._2).forall(_._2.map(_._5).distinct.size == 1))
  }

  test("peakConcurrency nets endpoint ties half-open") {
    // [0,10), [5,15), [10,20): at t=10 one ends as one starts — netted
    // to zero, so the peak stays 2, first reached at t=5
    val iv = Seq(("k", 0L, 10L), ("k", 5L, 15L), ("k", 10L, 20L),
      ("k", 30L, 30L)).toDF("key0", "s", "e")
    val out = EventOps.peakConcurrency(iv, "key0", "s", "e")
      .as[(String, Long, Long, Long)].head()
    // the empty [30,30) interval is dropped from both the sweep and
    // the interval count
    assert(out == (("k", 3L, 2L, 5L)))
  }
}
