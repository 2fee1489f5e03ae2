package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curate, Linkage, TextOps}

/** Round-6 pipeline operators: chunking, PII redaction, PPS sampling,
  * repeated n-grams, fuzzy linkage. Each test pins the semantic contract
  * the DuckDB oracle replays (q62-q67).
  */
class PipelineOpsSpec extends SparkSuite {
  import spark.implicits._

  test("chunkTable covers every token with stride windows; short docs get one chunk") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // 3 tokens < window
      (3L, "solo")                                    // 1 token
    ).toDF("id", "text")
    val out = TextOps.chunkTable(df, "id", "text", window = 4, stride = 3)
      .orderBy("id", "chunk_id")
      .as[(Long, Long, Long, String)].collect()
    // id=1: starts 0,3,6,9 → 4 chunks; last has 1 token
    val c1 = out.filter(_._1 == 1L)
    assert(c1.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(c1.map(_._3).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(c1.head._4 == "t1 t2 t3 t4")
    assert(c1(1)._4 == "t4 t5 t6 t7") // overlap of window−stride = 1 token
    assert(c1.last._4 == "t10")
    // short docs: exactly one chunk, the whole text
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 3L, "a b c")))
    assert(out.filter(_._1 == 3L).toSeq == Seq((3L, 0L, 1L, "solo")))
    // every token of id=1 appears in some chunk
    val covered = c1.flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("redactPii replaces emails/IPs/phones and counts them on the original") {
    val df = Seq(
      (1L, "write to bob@example.org or 10.0.0.1 call 555-123-4567 now"),
      (2L, "no pii here at all")
    ).toDF("id", "text")
    val out = df.select(col("id") +: TextOps.redactPii(col("text")): _*)
      .orderBy("id")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out(0)._2 == "write to <EMAIL> or <IP> call <PHONE> now")
    assert((out(0)._3, out(0)._4, out(0)._5) == ((1L, 1L, 1L)))
    assert(out(1)._2 == "no pii here at all")
    assert((out(1)._3, out(1)._4, out(1)._5) == ((0L, 0L, 0L)))
  }

  test("ppsSample takes k per stratum, proportional to weight, partition-invariant") {
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Curate.ppsSample(df, Seq("lang"), col("doc_id"), col("n_chars"), 5)
      .as[(String, Long, Long)].collect().toSet
    val b = Curate.ppsSample(df.repartition(7), Seq("lang"), col("doc_id"),
        col("n_chars"), 5)
      .as[(String, Long, Long)].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    val perLang = a.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perLang.values.forall(_ == 5), s"per-stratum counts: $perLang")
  }

  test("ppsSample favors heavy rows (inclusion probability ∝ weight)") {
    // one stratum: 99 rows of weight 1 + one row of weight 1000 → the
    // heavy row must be sampled at any k ≥ 1 (it spans > W/k for k ≤ 10)
    val df = ((1 to 99).map(i => (i.toLong, 1L)) :+ (100L, 1000L))
      .toDF("id", "w").withColumn("g", lit("all"))
    val picked = Curate.ppsSample(df, Seq("g"), col("id"), col("w"), 5)
      .as[(String, Long, Long)].collect()
    assert(picked.exists(_._2 == 100L), "heavy row must be in the sample")
    assert(picked.length <= 5)
  }

  test("repeatedNgrams counts occurrences (not distinct-per-doc) across the corpus") {
    val df = Seq(
      (1L, "x y z x y z x y z"), // "x y z" ×3 within ONE doc (via overlap: xyz at 0,3,6)
      (2L, "x y z only once"),
      (3L, "nothing shared here")
    ).toDF("id", "text")
    val out = TextOps.repeatedNgrams(df, "id", "text", n = 3, minCount = 2L)
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .as[(String, Long, Long)].collect()
    val xyz = out.find(_._1 == "x y z")
    assert(xyz.exists(r => r._2 == 2L && r._3 == 4L),
      s"expected (x y z, 2 docs, 4 occurrences), got $xyz; all=$out")
    assert(!out.exists(_._1 == "nothing shared"), "minCount filter")
  }

  test("simhashPairs64 matches brute-force 64-bit Hamming pairs (band completeness)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val pairs =
      graft.operators.Dedup.simhashPairs64(docs, "doc_id", "text", maxHamming = 7)
    val banded = pairs.as[(Long, Long, Long)].collect().toSet
    graft.PendingRelease.drain()
    // brute force over the collected 64-bit signatures
    val sims = graft.operators.Dedup.simhash64Table(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    val brute = (for {
      (a, ha, la) <- sims; (b, hb, lb) <- sims if a < b
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if d <= 7
    } yield (a, b, d.toLong)).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} " +
        s"missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)}")
  }

  test("zOrderKey interleaves bits exactly (vs JVM reference)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1023L, 1023L), (513L, 2L))
      .toDF("x", "y")
    val got = df.select(col("x"), col("y"),
        graft.operators.Layout.zOrderKey(Seq(col("x"), col("y")), 10).as("z"))
      .as[(Long, Long, Long)].collect().toSet
    def ref(x: Long, y: Long): Long =
      (0 until 10).map(i =>
        (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    assert(got == got.map { case (x, y, _) => (x, y, ref(x, y)) })
    assert(ref(1, 0) == 1L && ref(0, 1) == 2L && ref(1023, 1023) == (1L << 20) - 1)
  }

  test("clusterByZOrder writes files with tight 2-D bounding boxes (prunable layout)") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
      .select(pmod(col("o_custkey"), lit(1024)).cast("long").as("x"),
        pmod(datediff(col("o_orderdate"), to_date(lit("1970-01-01"))), lit(1024))
          .cast("long").as("y"))
    def meanBoxArea(dir: String): Double = {
      val boxes = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(((max(col("x")) - min(col("x")) + 1) *
          (max(col("y")) - min(col("y")) + 1)).cast("double").as("area"))
      boxes.agg(avg(col("area"))).head.getDouble(0)
    }
    val base = java.nio.file.Files.createTempDirectory("graft-zorder")
    val clusteredDir = s"$base/clustered"
    val plainDir = s"$base/plain"
    graft.operators.Layout.clusterByZOrder(
        orders, Seq(col("x"), col("y")), 10, numPartitions = 8)
      .write.parquet(clusteredDir)
    orders.repartition(8).write.parquet(plainDir)
    val (clustered, plain) = (meanBoxArea(clusteredDir), meanBoxArea(plainDir))
    // an unclustered shuffle gives every file the full ~1024x1024 domain;
    // contiguous z-ranges must bound both dimensions far tighter — this
    // per-file min/max tightness IS what row-group/file statistics prune on
    assert(clustered < plain / 4,
      s"clustered mean box area $clustered vs plain $plain")
    // and the data survives the round trip
    assert(spark.read.parquet(clusteredDir).count() == orders.count())
  }

  test("bigramLmScore: common transitions outscore rare ones; short docs null out") {
    val df = Seq(
      (1L, "a b a b a b"),  // bigrams a-b (3), b-a (2) — both common
      (2L, "a b z q"),      // contains rare transitions z->q, b->z
      (3L, "solo")          // no bigrams
    ).toDF("id", "text")
    val out = TextOps.bigramLmScore(df, "id", "text")
      .orderBy("id").as[(Long, Long, Option[Double])].collect()
    assert(out(0)._2 == 5L && out(1)._2 == 3L && out(2)._2 == 0L)
    assert(out(2)._3.isEmpty, "no-bigram doc must have null score")
    assert(out(0)._3.get > out(1)._3.get,
      s"fluent doc must outscore rare-transition doc: $out")
  }

  test("changedBuckets localizes exactly the perturbed/deleted buckets") {
    import graft.operators.AntiEntropy
    val a = (1L to 1000L).map(i => (i, i * 37 % 1000)).toDF("id", "v")
    // mutate two rows, delete one, and drop one whole bucket
    val b = a
      .withColumn("v", when(col("id").isin(13L, 487L), col("v") + 1)
        .otherwise(col("v")))
      .filter(col("id") =!= 700L && pmod(col("id"), lit(16L)) =!= 5L)
    def row = concat_ws("|", col("id"), col("v"))
    val changed = AntiEntropy
      .changedBuckets(a, b, pmod(col("id"), lit(16L)), row)
      .as[(Long, String, Long, Long)].collect()
    val expect = Set(13L % 16, 487L % 16, 700L % 16, 5L)
    assert(changed.map(_._1).toSet == expect,
      s"got ${changed.mkString(";")}")
    assert(changed.find(_._1 == 5L).get._2 == "only_left")
    assert(changed.filter(_._1 != 5L).forall(_._2 == "changed"))
    // identical snapshots → empty report, regardless of partitioning
    val none = AntiEntropy
      .changedBuckets(a.repartition(7), a.repartition(3),
        pmod(col("id"), lit(16L)), row)
      .count()
    assert(none == 0L)
  }

  test("linkEntities picks the argmin (dist, entity) within the block, bounded by maxDist") {
    val catalog = Seq("old plate", "cold plate", "red rod").toDF("entity")
    val mentions = Seq(
      (1L, "ol plate"),  // dist 1 to old plate, 2 to cold plate → old
      (2L, "red plate"), // dist 2 to old plate? (red→old = 3) ... 2? verify below
      (3L, "red rod"),   // exact
      (4L, "zzzzz bolt") // no block partner → dropped
    ).toDF("id", "name")
    val out = Linkage.linkEntities(mentions, "id", "name", catalog, "entity",
        nm => element_at(split(nm, " "), 2), maxDist = 2)
      .orderBy("id")
      .as[(Long, String, String, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 3L) ||
      out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // id=2 only if within 2
    val m1 = out.find(_._1 == 1L).get
    assert(m1._3 == "old plate" && m1._4 == 1L)
    val m3 = out.find(_._1 == 3L).get
    assert(m3._3 == "red rod" && m3._4 == 0L)
    assert(!out.exists(_._1 == 4L), "unblocked mention must be dropped")
  }

  test("dsirScore ranks target-vocabulary docs above off-target docs") {
    // target docs (is_t) share a vocabulary; source docs use another;
    // the held-out scored docs lean one way or the other
    val docs = Seq(
      (1L, true,  "alpha beta gamma alpha beta"),
      (2L, true,  "beta gamma delta alpha gamma"),
      (3L, false, "omega psi chi omega psi"),
      (4L, false, "psi chi phi omega chi"),
      (5L, false, "alpha beta gamma beta alpha"), // target-like content
      (6L, false, "omega psi chi phi psi")        // source-like content
    ).toDF("id", "is_t", "text")
    val out = TextOps.dsirScore(docs, "id", "text", col("is_t"), buckets = 64)
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, s) => id -> (n, s) }.toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(out.values.forall(_._1 == 5L), "every doc has 5 tokens")
    // the target-like held-out doc outscores the source-like one
    assert(out(5L)._2 > out(6L)._2,
      s"target-like ${out(5L)._2} !> source-like ${out(6L)._2}")
    // actual target docs outscore actual source docs
    assert(Seq(1L, 2L).map(out(_)._2).min > Seq(3L, 4L).map(out(_)._2).max)
  }

  test("contentDefinedChunks: boundaries survive an edit; fixed chunking's don't") {
    // one long synthetic doc; edit = insert a token near the front
    val words = (0 until 600).map(i => s"w$i")
    val orig = Seq((1L, words.mkString(" "))).toDF("id", "text")
    val edited = Seq((1L, ("zzz" +: words).mkString(" "))).toDF("id", "text")
    def hashes(df: org.apache.spark.sql.DataFrame) =
      TextOps.contentDefinedChunks(df, "id", "text", divisor = 16)
        .select("chunk_h").as[Long].collect().toSet
    val a = hashes(orig)
    val b = hashes(edited)
    // chunk identities are content-addressed: everything after the edited
    // neighborhood re-aligns, so most chunk hashes are shared
    val shared = (a & b).size.toDouble / a.size
    assert(a.size >= 5, s"expected several chunks, got ${a.size}")
    assert(shared >= 0.6, s"only ${(shared * 100).round}% of chunks survived the edit")

    // whole-doc coverage: chunk (start, n_tok) runs tile the token range
    val runs = TextOps.contentDefinedChunks(orig, "id", "text", divisor = 16)
      .orderBy("chunk_id").select("start", "n_tok")
      .as[(Long, Long)].collect()
    assert(runs.head._1 == 0L)
    runs.sliding(2).foreach { case Array((s1, n1), (s2, _)) =>
      assert(s1 + n1 == s2, "chunks must tile with no gaps/overlaps")
    case _ => }
    assert(runs.map(_._2).sum == 600L)
  }

  test("phraseSearch finds all starts incl. overlapping and duplicate-token phrases") {
    val docs = Seq(
      (1L, "a b a b a"),     // "a b a" at 0 AND 2 (overlapping)
      (2L, "x a b a y"),     // at 1
      (3L, "a b c"),         // no
      (4L, "b a b")          // no ("a b a" needs 3 from pos 0? b a b != a b a)
    ).toDF("doc_id", "text")
    val phrases = Seq((1L, "a b a"), (2L, "c")).toDF("phrase_id", "phrase")
    val out = TextOps.phraseSearch(docs, "doc_id", "text", phrases)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 0L), (1L, 1L, 2L), (1L, 2L, 1L),
      (2L, 3L, 2L)), s"got $out")
  }

  test("blocklistCounts: overlapping matches, suffix patterns via fail links") {
    val docs = Seq(
      (1L, "a a a b a a"), // "a a" at 0,1,4; "a b" at 2; "b a a" at 3
      (2L, "a b c"),       // "a b c" at 0 AND its suffix "b c" at 1
      (3L, "c c c")        // no hits at all → no rows
    ).toDF("doc_id", "text")
    val pats = Seq((1L, "a a"), (2L, "a b"), (3L, "b a a"),
      (4L, "a b c"), (5L, "b c")).toDF("pattern_id", "phrase")
    val out = TextOps.blocklistCounts(docs, "doc_id", "text", pats)
      .as[(Long, Long, Long)].collect().toSet
    // doc2's "b c" hit only fires through the a b c state's fail chain —
    // the emit-merging this test exists to pin
    assert(out == Set((1L, 1L, 3L), (1L, 2L, 1L), (1L, 3L, 1L),
      (2L, 2L, 1L), (2L, 4L, 1L), (2L, 5L, 1L)), s"got $out")
  }

  test("blocklistCounts matching plans map-only: no exchange in the matcher") {
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    val pats = Seq((1L, "b c")).toDF("pattern_id", "phrase")
    val plan = TextOps.blocklistCounts(docs, "doc_id", "text", pats)
      .queryExecution.executedPlan.toString
    // the automaton travels by broadcast variable, matching is
    // mapPartitions — a key-hash shuffle here would mean the postings
    // shape crept back in; Spread.ensure's explicit REPARTITION_BY_NUM
    // (single-row-group fan-out) is the one allowed exchange
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("REPARTITION_BY_NUM")),
      s"unexpected exchange:\n${exchanges.mkString("\n")}")
  }

  test("perplexityBuckets: hand-computed bits, OOV smoothing, tertile cut") {
    // train "x z x z": c2(x,z)=2, c2(z,x)=1; c1(x)=2, c1(z)=1; V=2
    //   p(z|x) = 3/4 -> 750000 -> bin len 20 -> 1 bit
    //   p(x|z) = 2/3 -> 666666 -> 1 bit
    //   OOV (y,y): 1/2 -> 500000 -> bin len 19 -> 2 bits
    val docs = Seq(
      (10L, "x z x z", true),  // 3 bigrams, 3 bits, avg 1000
      (11L, "x z x", false),   // 2 bigrams, 2 bits, avg 1000
      (12L, "y y y", false),   // 2 bigrams, 4 bits, avg 2000
      (13L, "x z", false),     // 1 bigram, 1 bit, avg 1000
      (14L, "q", false)        // <2 tokens: dropped
    ).toDF("id", "text", "is_train")
    val out = TextOps.perplexityBuckets(docs, "id", "text", col("is_train"))
      .orderBy("id")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // n=4 scored docs; tertile ranks ceil(4/3)=2 and ceil(8/3)=3 both
    // land on avg 1000 -> the three 1000s are head, 2000 is tail
    assert(out == Seq(
      (10L, 3L, 3L, 1000L, "head"),
      (11L, 2L, 2L, 1000L, "head"),
      (12L, 2L, 4L, 2000L, "tail"),
      (13L, 1L, 1L, 1000L, "head")), s"got $out")
  }

  test("stupidBackoffScore: hand-computed scores at every backoff level") {
    // train "a b c a b d": c123 each 1; c12(a,b)=2,(b,c)=1,(c,a)=1;
    // c23 ab=2,bc=1,ca=1,bd=1; c2s a=2,b=2,c=1; unigrams a2 b2 c1 d1 N=6
    val docs = Seq(
      (1L, "a b c a b d", true),
      (2L, "a b c", false),  // trigram hit: 1e6*1//2 = 500000
      (3L, "b c x", false),  // unseen at every level -> 0
      (4L, "x b d", false),  // bigram hit: 4e5*1//2 = 200000
      (5L, "x y d", false),  // unigram hit: 1.6e5*1//6 = 26666
      (6L, "a b", false)     // <3 tokens: dropped
    ).toDF("id", "text", "is_train")
    val out = TextOps.stupidBackoffScore(docs, "id", "text",
        col("is_train"))
      .orderBy("id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      // train doc: abc 500000, bca 1000000, cab 1000000, abd 500000
      (1L, 4L, 4L, 0L, 0L, 3000000L),
      (2L, 1L, 1L, 0L, 0L, 500000L),
      (3L, 1L, 0L, 0L, 0L, 0L),
      (4L, 1L, 0L, 1L, 0L, 200000L),
      (5L, 1L, 0L, 0L, 1L, 26666L)), s"got $out")
  }

  test("LmStore: stored-LM scoring equals the one-shot path exactly") {
    val docs = Seq(
      (10L, "x z x z", true), (11L, "x z x", false),
      (12L, "y y y", false), (13L, "x z", false)
    ).toDF("id", "text", "is_train")
    val dir = "/tmp/graft_lm_store_spec"
    TextOps.LmStore.save(docs, "id", "text", col("is_train"), dir)
    val stored = TextOps.LmStore.scoreFrom(spark, docs, "id", "text", dir)
      .orderBy("id").as[(Long, Long, Long, Long, String)].collect().toSeq
    val oneShot = TextOps.perplexityBuckets(docs, "id", "text",
        col("is_train"))
      .orderBy("id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(stored == oneShot, s"stored $stored vs one-shot $oneShot")
  }

  test("LmStore.ensure retrains on a changed train slice, skips when unchanged") {
    import java.nio.file.{Files, Paths}
    val dir = "/tmp/graft_lm_store_ensure_spec"
    val d1 = Seq((1L, "x z x z", true), (2L, "x z", false))
      .toDF("id", "text", "is_train")
    TextOps.LmStore.ensure(d1, "id", "text", col("is_train"), dir)
    val t1 = Files.getLastModifiedTime(Paths.get(dir, "FINGERPRINT"))
    TextOps.LmStore.ensure(d1, "id", "text", col("is_train"), dir)
    assert(Files.getLastModifiedTime(Paths.get(dir, "FINGERPRINT")) == t1,
      "unchanged train slice must not retrain")
    // changed train text -> fingerprint differs -> retrain with new counts
    val d2 = Seq((1L, "y y y y", true), (2L, "x z", false))
      .toDF("id", "text", "is_train")
    TextOps.LmStore.ensure(d2, "id", "text", col("is_train"), dir)
    val stored = TextOps.LmStore.scoreFrom(spark, d2, "id", "text", dir)
      .orderBy("id").as[(Long, Long, Long, Long, String)].collect().toSeq
    val oneShot = TextOps.perplexityBuckets(d2, "id", "text",
        col("is_train"))
      .orderBy("id").as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(stored == oneShot, "post-retrain store must match one-shot")
  }

  test("rrf: doc in both lists beats single-list docs; order within a list respected") {
    import graft.operators.Fusion
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "rank")
    val b = Seq((12L, 1L), (13L, 2L)).toDF("id", "rank")
    val out = Fusion.rrf(Seq(a, b), k = 60)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L))
    assert(out(12L)._1 == 2L && out.filterKeys(_ != 12L).values.forall(_._1 == 1L))
    // 12 appears in both lists → highest fused score
    assert(out(12L)._2 > out.filterKeys(_ != 12L).values.map(_._2).max)
    // within list a alone, rank 1 beats rank 2
    assert(out(10L)._2 > out(11L)._2)
    // exact integer contributions: 1e6 div 61, 62, 63
    assert(out(10L)._2 == 1000000L / 61)
    assert(out(12L)._2 == 1000000L / 63 + 1000000L / 61)
  }

  test("bm25TopTerms: tf saturates, doc length penalizes, rare terms weigh more") {
    val docs = Seq(
      (1L, "apple apple apple apple banana"),
      (2L, "apple banana"),
      (3L, "apple banana pear pear pear pear pear pear pear pear"),
      (4L, "cherry plum quince fig date")
    ).toDF("id", "text")
    val out = TextOps.bm25TopTerms(docs, "id", "text", nTerms = 2)
      .as[(Long, Long, Long)].collect()
      .map { case (id, h, s) => id -> (h, s) }.toMap
    // top-2 terms by occurrences: pear (8), apple (6) — doc 4 hits none
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L)._1 == 1L && out(2L)._1 == 1L && out(3L)._1 == 2L)
    // doc 1 (tf=4) must beat doc 2 (tf=1) on apple, but by less than 4×:
    // the saturation bound tf·(k1+1)/(tf+k1) < k1+1
    assert(out(1L)._2 > out(2L)._2 && out(1L)._2 < 4L * out(2L)._2)
    // pear is rarer (df=1) than apple (df=3): doc 3's two hits dominated
    // by the pear idf must beat doc 1's saturated apple despite dl=10
    assert(out(3L)._2 > out(1L)._2)
  }

  test("q179 curation DAG: stage cardinalities compose consistently") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.PipelineQueries
      .queries("q179_curation_dag")(spark, dir)
      .as[(String, String, Long)].collect().toSeq
    val m = rows.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val gate = m("1_gate")("n_docs")
    val exact = m("2_exact_dedup")("n_docs")
    // each stage only removes documents
    assert(gate >= exact && exact > 0)
    // the split partitions the exact-dedup survivors exactly
    assert(m("4_split").values.sum == exact,
      s"split sums ${m("4_split").values.sum} != $exact")
    // mixture: every selected doc is a train doc; copies ≥ docs
    val mixDocs = m("5_mixture")("n_docs")
    val copies = m("5_mixture")("total_copies")
    assert(mixDocs <= m("4_split").getOrElse("train", 0L))
    assert(copies >= mixDocs)
    // packing conserves every copy: histogram doc total == Σcopies
    val packDocs = m("6_packing").collect {
      case (k, v) if k.endsWith("_docs") => v }.sum
    assert(packDocs == copies, s"packing lost copies: $packDocs != $copies")
  }
}
