package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextOps}
import graft.sources.JdbcSync

/** Extension-operator properties that the SQL oracle can't express:
  * ANN recall vs brute force, LSH candidate soundness, multimodal
  * round-trips.
  */
class ExtensionOpsSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("AnnIndex build→probe equals the one-shot IVF+PQ chain; append is probeable") {
    import graft.operators.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    AnnIndex.build(e, "vec_id", "embedding", idx)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank", "adc")
      .as[(Long, Long, Long, Long)].collect().toSet
    val got = rows(AnnIndex.probe(spark, q, "vec_id", "embedding", idx, k = 5))
    val want = rows(Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 5))
    assert(got == want, "stored-index probe differs from the one-shot chain")

    // ingest without refit: a duplicate of query 5's vector appended
    // under a new id encodes to the same cell and codes, so it must
    // surface among query 5's top-5 immediately
    val dup = e.filter($"vec_id" === 5L)
      .select(lit(99999L).as("vec_id"), col("embedding"))
    AnnIndex.append(spark, dup, "vec_id", "embedding", idx)
    val after = AnnIndex.probe(spark, q, "vec_id", "embedding", idx, k = 5)
      .filter($"query_id" === 5L)
      .select("neighbor_id").as[Long].collect().toSet
    assert(after.contains(99999L),
      s"appended duplicate missing from query 5's top-5: $after")
  }

  test("AnnIndex cellAudit flags skewed appends; compactCells probes identically") {
    import graft.operators.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft-annaudit").toString
    AnnIndex.build(e, "vec_id", "embedding", idx)
    val clean = AnnIndex.cellAudit(spark, idx).collect()
    // a fresh build writes one file per cell — nothing to compact
    assert(clean.forall(_.getAs[String]("action") == "keep"),
      "fresh build already flagged for compaction")

    // skewed ingest: 3 waves × 60 copies of vector 0 — one cell
    // balloons (hot) and its directory accumulates one file per wave
    val seed = e.filter($"vec_id" === 0L).select("embedding")
    (1 to 3).foreach { wave =>
      val batch = seed
        .select(explode(sequence(lit(0L), lit(59L))).as("k"), col("embedding"))
        .select((lit(10000L) * wave + col("k")).as("vec_id"), col("embedding"))
      AnnIndex.append(spark, batch, "vec_id", "embedding", idx)
    }
    val audit = AnnIndex.cellAudit(spark, idx).collect()
    val hot = audit.filter(_.getAs[Long]("hot") == 1L)
    assert(hot.length == 1, s"expected exactly one hot cell, got ${hot.length}")
    assert(hot.head.getAs[Long]("n_files") == 4L, // build + 3 waves
      s"hot cell file count: ${hot.head.getAs[Long]("n_files")}")
    assert(hot.head.getAs[String]("action") == "compact")
    // untouched cells keep their single build-time file
    assert(audit.filter(_.getAs[Long]("hot") == 0L)
      .forall(r => r.getAs[Long]("n_files") == 1L &&
        r.getAs[String]("action") == "keep"))

    // compaction rewrites ONLY the flagged cells' layout; the probe is
    // bit-for-bit invariant (contents untouched) and the audit goes
    // all-keep with counts preserved
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rank", "adc")
      .as[(Long, Long, Long, Long)].collect().toSet
    val before = rows(AnnIndex.probe(spark, q, "vec_id", "embedding", idx, k = 5))
    val compacted = AnnIndex.compactCells(spark, idx)
    assert(compacted == Seq(hot.head.getAs[Int]("cell")),
      s"compacted $compacted, expected the hot cell only")
    val after = rows(AnnIndex.probe(spark, q, "vec_id", "embedding", idx, k = 5))
    assert(after == before, "probe changed across compactCells")
    val audit2 = AnnIndex.cellAudit(spark, idx).collect()
    assert(audit2.forall(r => r.getAs[Long]("n_files") == 1L &&
      r.getAs[String]("action") == "keep"), "compaction left multi-file cells")
    assert(audit2.map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n"))).sorted.toSeq
      == audit.map(r => (r.getAs[Int]("cell"), r.getAs[Long]("n"))).sorted.toSeq,
      "compaction changed per-cell contents")
    // idempotent: nothing left to compact
    assert(AnnIndex.compactCells(spark, idx).isEmpty)
  }

  test("AnnIndex.ensureBuild fires once per content tag; param change rebuilds") {
    import graft.operators.AnnIndex
    val e = Tables.embeddings(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft-anngate").toString
    AnnIndex.ensureBuild(e, "vec_id", "embedding", idx)
    val meta = java.nio.file.Paths.get(idx, "META")
    val t1 = java.nio.file.Files.getLastModifiedTime(meta)
    Thread.sleep(20)
    AnnIndex.ensureBuild(e, "vec_id", "embedding", idx) // same tag: no-op
    assert(java.nio.file.Files.getLastModifiedTime(meta) == t1,
      "second ensureBuild with an unchanged corpus rebuilt the index")
    // probe still answers from the gated index
    val q = e.filter(col("vec_id") < 5)
    assert(AnnIndex.probe(spark, q, "vec_id", "embedding", idx, k = 3)
      .count() > 0)
    // a quantizer-geometry change invalidates the tag and rebuilds
    Thread.sleep(20)
    AnnIndex.ensureBuild(e, "vec_id", "embedding", idx, nlist = 8)
    assert(java.nio.file.Files.getLastModifiedTime(meta) != t1,
      "parameter change did not rebuild the index")
  }

  test("ann lsh top-k achieves >=40% recall@5 vs brute force (8 tables x 4 planes)") {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.cosineTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(e, q, "vec_id", "embedding", 5,
        planesPerTable = 4, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (ann & brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
    // approximate results must still be true neighbors from the base set
    assert(ann.forall { case (q1, n) => q1 != n })
  }

  test("minhash lsh pairs are a subset of exact jaccard pairs at the same threshold") {
    val corpus = Tables.documents(spark, dir).select("doc_id", "text").limit(200)
    val sh = Dedup.shingleTable(corpus, "doc_id", "text", 3)
    val exact = Dedup.jaccardPairs(sh, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 16, 4, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // verify step guarantees no false positives
  }

  test("lshCalibration: deciles match exact pair Jaccards; S-curve is the literal chain") {
    val corpus = Tables.documents(spark, dir).select("doc_id", "text").limit(200)
    val (cal, cleanup) =
      Dedup.lshCalibration(corpus, "doc_id", "text", 3, 16, 4)
    val rows = cal.orderBy("decile").as[(Long, Long, Long)].collect().toSeq
    cleanup()
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 <= 9))
    assert(rows.forall(_._2 > 0))
    // total pairs across deciles == total candidate pairs at threshold 0
    val all = Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 16, 4, 0.0)
      .count()
    assert(rows.map(_._2).sum == all, s"decile counts ${rows.map(_._2).sum} != $all")
    // catch_p_micro replays the exact IEEE chain at the decile midpoint
    for ((d, _, p) <- rows) {
      val s = (d * 2 + 1).toDouble / 20.0
      val sr = s * s * s * s
      val q = 1.0 - sr
      val expect = math.floor((1.0 - q * q * q * q) * 1000000.0 + 0.5).toLong
      assert(p == expect, s"decile $d: $p != $expect")
    }
  }

  test("identical texts always collide in every LSH band") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", 3, 16, 4, 0.99)
      .as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("simhash of identical texts is identical; hamming distance small for near-identical") {
    val df = Seq(
      (1L, "spark merge join filter window sort group agg table scan"),
      (2L, "spark merge join filter window sort group agg table scan"),
      (3L, "spark merge join filter window sort group agg table extra"))
      .toDF("doc_id", "text")
    val m = df.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    val hamming = java.lang.Long.bitCount(m(1L) ^ m(3L))
    assert(hamming <= 12, s"hamming=$hamming")
  }

  test("exact dedup keeps min id and counts duplicates") {
    val df = Seq((5L, "x"), (3L, "x"), (7L, "y")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", col("text"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 2L), (7L, 1L)))
  }

  test("crossGroupDupMatrix equals the brute-force pair join, hot keys included") {
    // key "x" appears 3× in src a, 2× in b, 1× in c — a 6-doc duplicate
    // family; "y" only within a; "z" unique
    val docs = Seq(
      (1L, "a", "x"), (2L, "a", "x"), (3L, "a", "x"),
      (4L, "b", "x"), (5L, "b", "x"), (6L, "c", "x"),
      (7L, "a", "y"), (8L, "a", "y"), (9L, "c", "z"))
      .toDF("doc_id", "source", "text")
    val got = Dedup.crossGroupDupMatrix(docs, "doc_id", "source", col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // brute force over the 6-doc x-family: within a C(3,2)=3 (+1 for y),
    // within b C(2,2)=1, a×b 3·2=6, a×c 3·1=3, b×c 2·1=2
    assert(got == Map(
      ("a", "a") -> 4L, ("b", "b") -> 1L, ("a", "b") -> 6L,
      ("a", "c") -> 3L, ("b", "c") -> 2L))
  }

  test("hardNegatives never returns the anchor's own label and ranks by cosine") {
    val e = Tables.embeddings(spark, dir)
    val anchors = e.filter(col("vec_id") < 5)
    val got = Similarity.hardNegatives(e, anchors, "vec_id", "embedding",
      "label", k = 5).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getAs[Int]("query_label") !=
      r.getAs[Int]("neighbor_label")), "a negative must differ in label")
    // per anchor: ranks are 1..5 and cosine non-increasing in rank
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq == (1L to 5L).toSeq)
      val cosSeq = byRank.map(_.getAs[Double]("cos")).toSeq
      assert(cosSeq == cosSeq.sorted.reverse, "cos must be non-increasing")
    }
    // cross-check the top negative against a brute-force recompute: it
    // must dominate every other-label cosine for that anchor
    val all = Similarity.cosineTopK(e, anchors, "vec_id", "embedding",
      k = 100000) // full ranking at test scale — no truncation risk
    val labels = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bestNeg = all.collect()
      .filter(r => labels(r.getAs[Long]("neighbor_id")) !=
        labels(r.getAs[Long]("query_id")))
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.minBy(_.getAs[Long]("rank"))
        .getAs[Long]("neighbor_id") }
    got.filter(_.getAs[Long]("rank") == 1L).foreach { r =>
      assert(bestNeg(r.getAs[Long]("query_id")) ==
        r.getAs[Long]("neighbor_id"),
        "rank-1 hard negative must be the best other-label neighbor")
    }
  }

  test("multimodal feature extraction: md5 matches Spark's builtin, plumbing preserves ids") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val docs = Tables.documents(spark, dir).limit(50)
    val feats = Multimodal.extractFeatures(Multimodal.toMedia(docs)).toDF()
    val joined = feats.join(docs, feats("id") === docs("doc_id"))
    assert(joined.count() == 50)
    val bad = joined.filter(col("payload_md5") =!= md5(col("text").cast("binary")))
    assert(bad.count() == 0)
    val badLen = joined.filter(col("n_bytes") =!= length(col("text")))
    assert(badLen.count() == 0) // ascii corpus: bytes == chars
  }

  test("simhashTable matches the scalar simhash column on every doc") {
    val docs = Tables.documents(spark, dir).limit(50)
    val scalar = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val table = Dedup.simhashTable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(table == scalar)
  }

  test("fingerprintTable matches the scalar fingerprint column, incl. short docs") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text").limit(50)
      .unionByName(Seq((999000L, "one two"), (999001L, "")).toDF("doc_id", "text"))
    val scalar = docs.select(col("doc_id"), TextOps.fingerprint(col("text"), 4))
      .as[(Long, String)].collect().toMap
    val table = TextOps.fingerprintTable(docs, "doc_id", "text", 4)
      .as[(Long, String)].collect().toMap
    assert(table == scalar)
  }

  test("kmeansCentroids is deterministic and recovers directional clusters") {
    // 5 clusters along distinct axes (assignment is max-dot, so clusters
    // must differ in direction, not magnitude)
    val train = Array.tabulate(40) { i =>
      val k = i % 5
      Array.tabulate(5)(d => if (d == k) 1000L + (i / 5) else (i / 5).toLong)
    }
    val a = Similarity.kmeansCentroids(train, 5, 3)
    val b = Similarity.kmeansCentroids(train.map(_.clone()), 5, 3)
    assert(a.length == 5)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq) // deterministic
    // each centroid points along a distinct axis
    assert(a.map(_.zipWithIndex.maxBy(_._1)._2).toSet == Set(0, 1, 2, 3, 4))
  }

  test("jdbc script helpers: statement split and quote-aware requoting") {
    val script = "-- header\n\nINSERT INTO `t` (`a`) VALUES\n(1),\n(2);\n\n-- c\nDELETE FROM `t` WHERE `a` = 'x`;''y';"
    val stmts = JdbcSync.statements(script)
    assert(stmts.size == 2)
    assert(stmts.head.startsWith("INSERT INTO") && stmts.head.endsWith("(2);"))
    val requoted = JdbcSync.requoteIdentifiers(stmts(1), "\"")
    assert(requoted == "DELETE FROM \"t\" WHERE \"a\" = 'x`;''y';")
  }

  test("jdbc statement split: ';'-terminated line inside a literal does not split") {
    val script =
      "INSERT INTO `t` (`a`) VALUES ('line one;\nline two');\nDELETE FROM `t` WHERE `a` = 1;"
    val stmts = JdbcSync.statements(script)
    assert(stmts.size == 2)
    assert(stmts.head == "INSERT INTO `t` (`a`) VALUES ('line one;\nline two');")
    assert(stmts(1) == "DELETE FROM `t` WHERE `a` = 1;")
    // comment-looking line inside an open literal is content, not comment
    val s2 = JdbcSync.statements("UPDATE `t` SET `a` = 'x;\n-- not a comment\ny';")
    assert(s2 == Seq("UPDATE `t` SET `a` = 'x;\n-- not a comment\ny';"))
  }

  test("prefix delta pairs equal the batch prefix join restricted to fresh-involving") {
    // the exact-join counterpart of the LSH delta spec below: the
    // one-sided candidate join (fresh prefixes vs all prefixes, union
    // df order) must return EXACTLY the all-pairs prefix join over
    // corpus ∪ fresh restricted to pairs with >= 1 fresh member
    val base = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("text")).limit(300)
    val fresh = base.filter(col("id") % 7 === 0)
      .select((col("id") + 500000L).as("id"),
        concat(col("text"), lit(" xq xq")).as("text"))
    val shC = Dedup.hashedShingleTable(base, "id", "text", 3)
    val shF = Dedup.hashedShingleTable(fresh, "id", "text", 3)
    val delta = Dedup.prefixFilterPairsDelta(shC, shF, 500000L)
    val got = delta.select("id_a", "id_b", "jac_ppm")
      .as[(Long, Long, Long)].collect().toSet
    PendingRelease.drain()
    val shAll = Dedup.hashedShingleTable(
      base.unionByName(fresh), "id", "text", 3)
    val batch = Dedup.prefixFilterPairs(shAll, 500000L)
    val want = batch.select("id_a", "id_b", "jac_ppm")
      .as[(Long, Long, Long)].collect().toSet
      .filter(p => p._1 >= 500000L || p._2 >= 500000L)
    PendingRelease.drain()
    assert(got == want,
      s"delta=${got.size} batchRestricted=${want.size}; " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty, "fixture produced no fresh-involving pairs")
    assert(got.forall(p => p._1 >= 500000L || p._2 >= 500000L))
  }

  test("pathTag: stable on an untouched layout, changed by a rewrite") {
    // the O(files) freshness gate behind q116/q233's stores: a driver
    // regeneration REWRITES the parquet layout (new files, new mtimes)
    // and must change the tag even when the content is identical;
    // re-reading an untouched layout must not
    val dir = java.nio.file.Files.createTempDirectory("graft-pathtag")
      .resolve("t.parquet").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    val t1 = graft.operators.ContentGate.pathTag(spark, dir)
    assert(graft.operators.ContentGate.pathTag(spark, dir) == t1)
    Thread.sleep(1100) // mtime granularity on coarse filesystems
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    assert(graft.operators.ContentGate.pathTag(spark, dir) != t1,
      "an in-place rewrite (same content) must change the path tag")
  }

  test("prefix store probe == recompute delta; corpus change forces rebuild") {
    // the bucketed persisted index must answer the delta join
    // identically to the recompute path (different ranking order —
    // corpus df vs union df — same final pairs), and the fingerprint
    // gate must track corpus content
    val base = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("text")).limit(300)
    val fresh = base.filter(col("id") % 7 === 0)
      .select((col("id") + 500000L).as("id"),
        concat(col("text"), lit(" xq xq")).as("text"))
    val store = java.nio.file.Files
      .createTempDirectory("graft-prefixstore").toString
    Dedup.prefixStoreEnsure(base, "id", "text", 3, 500000L, store,
      buckets = 8)
    def probe() = {
      val (p, cleanup) =
        Dedup.prefixStoreProbeDelta(fresh, "id", "text", store)
      val got = p.select("id_a", "id_b", "inter", "sz_a", "sz_b", "jac_ppm")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      cleanup(); got
    }
    val shC = Dedup.hashedShingleTable(base, "id", "text", 3)
    val shF = Dedup.hashedShingleTable(fresh, "id", "text", 3)
    val delta = Dedup.prefixFilterPairsDelta(shC, shF, 500000L)
    val want = delta
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jac_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    PendingRelease.drain()
    val got = probe()
    assert(got == want, s"stored=${got.size} recompute=${want.size}; " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty, "fixture produced no fresh-involving pairs")
    // unchanged corpus: no rebuild
    val fp = java.nio.file.Paths.get(store, "FINGERPRINT")
    val mtime = java.nio.file.Files.getLastModifiedTime(fp)
    Dedup.prefixStoreEnsure(base, "id", "text", 3, 500000L, store,
      buckets = 8)
    assert(java.nio.file.Files.getLastModifiedTime(fp) == mtime)
    // grown corpus: rebuild, probe tracks the new corpus
    val base2 = base.unionByName(fresh
      .select((col("id") + 500000L).as("id"), col("text")))
    Dedup.prefixStoreEnsure(base2, "id", "text", 3, 500000L, store,
      buckets = 8)
    val shC2 = Dedup.hashedShingleTable(base2, "id", "text", 3)
    val delta2 = Dedup.prefixFilterPairsDelta(shC2, shF, 500000L)
    val want2 = delta2
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jac_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    PendingRelease.drain()
    assert(probe() == want2 && want2 != want)
  }

  test("incremental LSH pairs equal the batch pairs restricted to fresh-involving") {
    val base = Tables.documents(spark, dir).select(col("doc_id").as("id"), col("text"))
    val fresh = base.filter(col("id") % 7 === 0)
      .select((col("id") + 500000L).as("id"),
        concat(col("text"), lit(" xq xq")).as("text"))
    val delta = Dedup.minhashLshPairsDelta(
      base, fresh, "id", "text", threshold = 0.4)
    val got = delta.as[(Long, Long, Double)].collect().toSet
    PendingRelease.drain()
    val batch = Dedup.minhashLshPairs(
        base.unionByName(fresh), "id", "text", threshold = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val want = batch.filter(p => p._1 >= 500000L || p._2 >= 500000L)
    assert(got == want,
      s"delta=${got.size} batchRestricted=${want.size}; " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty, "fixture produced no fresh-involving near-dups")
    // and nothing corpus-only leaks in
    assert(got.forall(p => p._1 >= 500000L || p._2 >= 500000L))
  }

  test("connectedComponents closes multi-hop chains transitively") {
    // chain 1-2, 2-3 (no 1-3 edge) plus isolated pair 7-9: components
    // must close the chain to min-id 1 even though 1~3 was never emitted
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
    // longer chain: diameter forces several propagation rounds
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain)
      .select("comp").distinct().as[Long].collect().toSeq
    assert(comps == Seq(1L))
  }

  test("prefix-filtered pair cores equal the brute-force all-pairs replay") {
    // the round-12 prefix port's losslessness armor: across thresholds,
    // digit settings, and df caps, the prefix/positional-filtered cores
    // must return EXACTLY what the naive all-pairs formulation returns
    // — any over-tight candidate bar (the t' rounding slack) surfaces
    // here as a missing borderline pair
    val docs = Tables.documents(spark, dir).select("doc_id", "text").limit(200)
    val sh = Dedup.hashedShingleTable(docs, "doc_id", "text", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.count()
    def brute(cap: Option[Long]): org.apache.spark.sql.DataFrame = {
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
      val index = cap match {
        case None => sh
        case Some(c) =>
          val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
            .filter(col("df") > c).select("shingle")
          sh.join(hot, Seq("shingle"), "left_anti")
      }
      index.as("a").join(index.as("b"), Seq("shingle"))
        .filter(col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
    }
    for {
      (threshold, digits) <- Seq((0.8, 4), (0.5, 4), (0.31, 2), (0.97, 6))
      cap <- Seq(None, Some(12L))
    } {
      val want = brute(cap)
        .withColumn("jac", round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), digits))
        .filter(col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
        .as[(Long, Long, Double)].collect().toSet
      val got = Dedup.jaccardPairs(sh, threshold, digits, cap,
        persist = false).as[(Long, Long, Double)].collect().toSet
      assert(got == want,
        s"jaccard t=$threshold d=$digits cap=$cap: " +
          s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      val wantC = brute(cap)
        .withColumn("containment", round(col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")), digits))
        .filter(col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
      val gotC = Dedup.containmentPairs(sh, threshold, digits, cap,
        persist = false).as[(Long, Long, Double)].collect().toSet
      assert(gotC == wantC,
        s"containment t=$threshold d=$digits cap=$cap: " +
          s"missing=${(wantC -- gotC).take(3)} extra=${(gotC -- wantC).take(3)}")
    }
    sh.unpersist()
  }

  test("docFreq-pruned jaccard pairs are a subset of unpruned pairs") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val sh = Dedup.hashedShingleTable(docs, "doc_id", "text", 3)
    def pairs(cap: Option[Long]) =
      Dedup.jaccardPairs(sh, 0.5, maxDocFreq = cap, persist = false)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val unpruned = pairs(None)
    val pruned = pairs(Some(8L))
    assert(pruned.subsetOf(unpruned))
  }

  test("containmentPairs finds the sub/superset duplicates jaccard misses") {
    // B embeds A verbatim inside much longer unique text: every A
    // shingle is a B shingle → containment 1.0, while jaccard =
    // |A|/|B| ≈ 0.1 stays far under any useful dedup threshold
    val short = (1 to 8).map(i => s"a$i").mkString(" ")
    val long = ((1 to 40).map(i => s"u$i") ++ (1 to 8).map(i => s"a$i") ++
      (41 to 80).map(i => s"u$i")).mkString(" ")
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val sh = Dedup.hashedShingleTable(docs, "doc_id", "text", 3)
    val cont = Dedup.containmentPairs(sh, 0.9, persist = false)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont == Seq((1L, 2L, 1.0)))
    val jac = Dedup.jaccardPairs(sh, 0.5, persist = false).count()
    assert(jac == 0L) // jaccard at any dedup threshold misses the pair
  }

  test("containment >= jaccard on every candidate pair, same candidates") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text").limit(150)
    val sh = Dedup.hashedShingleTable(docs, "doc_id", "text", 3)
    val j = Dedup.jaccardPairs(sh, 0.05, persist = false)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val c = Dedup.containmentPairs(sh, 0.05, persist = false)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // min(|A|,|B|) <= |A∪B| ⇒ C >= J: every jaccard pair surfaces at
    // the same containment threshold, with a >= score
    assert(j.keySet.subsetOf(c.keySet))
    j.foreach { case (k, jv) => assert(c(k) >= jv, s"$k: ${c(k)} < $jv") }
  }

  test("hashed shingle index yields the same jaccard pairs as string shingles") {
    val docs = Tables.documents(spark, dir).select("doc_id", "text").limit(100)
    def run(sh: org.apache.spark.sql.DataFrame) =
      Dedup.jaccardPairs(sh, 0.3, persist = false)
        .as[(Long, Long, Double)].collect().toSet
    val str = run(Dedup.shingleTable(docs, "doc_id", "text", 3))
    val hashed = run(Dedup.hashedShingleTable(docs, "doc_id", "text", 3))
    assert(hashed == str)
  }

  test("kmv sketch estimate is within 25% of the exact distinct count") {
    val li = Tables.lineitem(spark, dir)
    val est = graft.operators.Sketches
      .kmvDistinct(li, Seq("l_returnflag"), col("l_partkey"), 64)
      .as[(String, Double)].collect().toMap
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).cast("double").as("n"))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (flag, n) =>
      val e = est(flag)
      assert(math.abs(e - n) / n <= 0.25, s"$flag: est=$e exact=$n")
    }
  }

  test("nearestPrototype recovers separable clusters and flags a flipped label") {
    // two orthogonal directions; vec 99 carries label 1 but lives in
    // cluster 0's direction — the label-noise case it must surface
    def v(axis: Int, mag: Double) =
      Seq.tabulate(4)(i => if (i == axis) mag.toFloat else 0.1f)
    val rows =
      (0 until 5).map(i => (i.toLong, v(0, 1.0 + i * 0.01), 0)) ++
      (0 until 5).map(i => (10L + i, v(2, 1.0 + i * 0.01), 1)) :+
      ((99L, v(0, 1.0), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.nearestPrototype(df, "vec_id", "embedding", "label")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    (0 until 5).foreach(i => assert(out(i.toLong) == (0L, 0L)))
    (0 until 5).foreach(i => assert(out(10L + i) == (1L, 1L)))
    // the mislabelled vector is re-assigned to its true cluster
    assert(out(99L) == (1L, 0L), s"flipped label not flagged: ${out(99L)}")
  }

  test("hllMerge from finer sketches equals the direct coarse-level estimate") {
    import graft.operators.Sketches
    val li = Tables.lineitem(spark, dir)
    val sk = Sketches.hllSketch(li, Seq("l_returnflag", "l_linestatus"),
      col("l_partkey"), p = 8)
    val merged = Sketches.hllMerge(sk, Seq("l_returnflag"), p = 8)
      .as[(String, Long)].collect().toMap
    val direct = Sketches.hllDistinct(li, Seq("l_returnflag"),
        col("l_partkey"), p = 8)
      .as[(String, Long)].collect().toMap
    assert(merged == direct,
      "register-max merge must reproduce the rescan estimate exactly")
    // accuracy only binds above the small-range zone (~2.5·m = 640 at
    // p=8): below it the raw estimator overestimates by design (the
    // ln()-based linear-counting correction is deliberately omitted —
    // see hllEstimate's scaladoc). Below-zone groups still must
    // overestimate, never undercount past HLL error.
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).cast("long").as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (flag, n) =>
      val e = merged(flag).toDouble
      if (n >= 640) assert(math.abs(e - n) / n <= 0.2, s"$flag: est=$e exact=$n")
      else assert(e >= 0.8 * n, s"$flag: small-range est=$e exact=$n")
    }
  }

  test("quantized cosine of a vector with itself is 1.0") {
    val e = Tables.embeddings(spark, dir).limit(20)
    val dup = e.select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val pairs = Similarity.nearDupPairs(
      e.select("vec_id", "embedding").unionByName(dup), "vec_id", "embedding", 0.9999)
    val cos = pairs.select("cos").as[Double].collect()
    assert(cos.length >= 20 && cos.forall(_ == 1.0))
  }

  test("randomProjection equals driver-side dots against the md5 planes") {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 40)
    val k = 16
    val got = Similarity.randomProjection(e, "vec_id", "embedding", k)
      .as[(Long, Long, Long)].collect()
      .map { case (id, p, proj) => ((id, p), proj) }.toMap

    val planes = Similarity.planeMatrix(k, 64)
    val vecs = e.select("vec_id", "embedding").as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.round(x * 1000)).toArray }
    val want = (for { (id, q) <- vecs; p <- 0 until k } yield
      ((id, p.toLong), q.zip(planes(p)).map { case (x, s) => x * s }.sum)).toMap
    assert(got == want, "projection coordinates differ from driver replay")
    assert(got.size == vecs.length * k)
  }

  test("gramMatrix equals the brute-force XtX on quantized vectors, upper triangle only") {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < 50)
    val scale = 1000
    val got = Similarity.gramMatrix(e, "embedding", scale)
      .as[(Long, Long, Long)].collect()
      .map { case (i, j, s) => ((i, j), s) }.toMap

    val vecs = e.select("embedding").as[Seq[Double]].collect()
      .map(_.map(x => math.floor(x * scale + 0.5d).toLong).toArray)
    val d = vecs.head.length
    val want = (for { i <- 0 until d; j <- i until d } yield
      ((i.toLong, j.toLong), vecs.map(v => v(i) * v(j)).sum)).toMap

    assert(got == want, "gram cells differ from brute-force XtX")
    // only the upper triangle is emitted: exactly d*(d+1)/2 cells, i <= j
    assert(got.size == d * (d + 1) / 2)
    assert(got.keys.forall { case (i, j) => i <= j })
    // diagonal cells are sums of squares, hence non-negative
    assert((0 until d).forall(i => got((i.toLong, i.toLong)) >= 0L))
  }

  test("maxBucket cap drops hot-cluster pairs, leaves everything else bit-identical") {
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    // 5-member identical clusters: the original + 4 exact copies share
    // every band bucket, so a cap of 4 skips them in ALL bands
    val hot = (2 to 5).map(k => d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + k * 1000000L).as("doc_id"), col("text")))
      .reduce(_.unionByName(_))
    val corpus = d.unionByName(hot)
    def pairs(cap: Option[Long]): Set[(Long, Long)] =
      Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 16, 4, 0.5,
          maxBucket = cap)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val uncapped = pairs(None)
    val capped = pairs(Some(4L))
    val hotIds = d.filter(col("doc_id") % 25 === 0)
      .select("doc_id").as[Long].collect().toSet
    def sameCluster(a: Long, b: Long) =
      hotIds.contains(a % 1000000L) && a % 1000000L == b % 1000000L
    // capping only ever REMOVES candidates
    assert(capped.subsetOf(uncapped))
    // uncapped finds every within-cluster pair: C(5,2) per planted cluster
    assert(hotIds.forall(h =>
      uncapped.count { case (a, b) => sameCluster(a, b) &&
        a % 1000000L == h } == 10))
    // every planted cluster's buckets exceed the cap in ALL bands, so no
    // within-cluster pair survives (the deliberate recall trade). Pairs
    // merely NEAR a hot doc may also drop — their only collision buckets
    // are the hot ones — so the surviving set is asserted as a subset
    // with the clusters gone, not as "everything else identical".
    assert(capped.forall { case (a, b) => !sameCluster(a, b) })
    assert(capped.nonEmpty, "cap must not wipe out ordinary near-dup pairs")
  }
}
