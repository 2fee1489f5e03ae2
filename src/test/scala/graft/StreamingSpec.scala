package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{EventAnalytics, StreamingSync}
import graft.streaming.StreamingSync.{CdcRecord, OpEvent}

/** Structured Streaming behavior: memory-sink micro-batch runs driven by
  * MemoryStream / the parquet file source (SURVEY.md §7.3).
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("windowedAgg as a real stream matches its own batch execution") {
    val batchEvents = Tables.events(spark, dir)
    val expected = EventAnalytics.windowedAgg(batchEvents)
      .orderBy("window_start", "event_type").collect().toSeq

    // declare the file's OWN on-disk schema (whatever this testdata
    // generation used) and normalize ts exactly like Tables.events
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file stream source requires a directory
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streamEvents = Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(streamDir.toString), "ts")
    val q = EventAnalytics.windowedAgg(streamEvents)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out")
        .orderBy("window_start", "event_type").collect().toSeq
      assert(got == expected)
    } finally q.stop()
  }

  test("windowedDistinct HLL streams == batch == the row-formulation sketch") {
    val batchEvents = Tables.events(spark, dir)
    val expected = EventAnalytics.windowedDistinct(batchEvents)
      .orderBy("window_start").collect().toSeq

    // the wide-column single-agg formulation must equal the
    // (group, bucket)-row formulation it streams in place of
    val rowForm = graft.operators.Sketches.hllDistinct(
        batchEvents.select(window(col("ts"), "1 hour").as("w"), col("user_id"))
          .select(col("w.start").as("window_start"), col("user_id")),
        Seq("window_start"), col("user_id"), p = 7)
      .orderBy("window_start").collect().toSeq
    assert(expected.map(r => (r.getTimestamp(0), r.getLong(1))) ==
      rowForm.map(r => (r.getTimestamp(0), r.getLong(1))),
      "column-form estimate must equal the row-form estimate")

    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-hllstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streamEvents = Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(streamDir.toString), "ts")
    val q = EventAnalytics.windowedDistinct(streamEvents)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hll_out").orderBy("window_start").collect().toSeq
      assert(got == expected)
    } finally q.stop()
  }

  test("windowedDistinct HLL state survives a checkpoint restart") {
    // All prior streaming tests are single uninterrupted drives; this
    // pins RECOVERY — the serialized HllRegsAggregator register buffer
    // must round-trip through the state store so a restarted query
    // continues the same registers (max-merge with post-restart data).
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
    val ck = java.nio.file.Files.createTempDirectory("graft-hllck").toString
    def startQuery() = EventAnalytics.windowedDistinct(
        in.toDS().toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("hll_restart").option("checkpointLocation", ck).start()
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:10:00")
    def row(u: Long) = (u, base, u, "view", 1.0)
    // overlapping user ranges across the restart: the post-restart
    // batch must MERGE into recovered registers, not rebuild them
    val q1 = startQuery()
    try { in.addData((1L to 25L).map(row): _*); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = startQuery()
    try {
      in.addData((20L to 40L).map(row): _*)
      q2.processAllAvailable()
      val got = spark.table("hll_restart")
        .orderBy("window_start").collect().toSeq
        .map(r => (r.getTimestamp(0), r.getLong(1)))
      val expected = EventAnalytics.windowedDistinct(
          (1L to 40L).map(row).toDF("event_id", "ts", "user_id", "event_type", "value"))
        .orderBy("window_start").collect().toSeq
        .map(r => (r.getTimestamp(0), r.getLong(1)))
      assert(got == expected,
        "restarted stream must produce the same registers as one batch pass")
    } finally q2.stop()
  }

  test("windowedValueSketch streams == batch (bounded per-window quantile state)") {
    val batchEvents = Tables.events(spark, dir)
    val expected = EventAnalytics.windowedValueSketch(batchEvents)
      .orderBy("window_start", "bucket").collect().toSeq
    assert(expected.nonEmpty)

    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-quant-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streamEvents = Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(streamDir.toString), "ts")
    val q = EventAnalytics.windowedValueSketch(streamEvents)
      .writeStream.outputMode("complete")
      .format("memory").queryName("quant_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("quant_out")
        .orderBy("window_start", "bucket").collect().toSeq
      assert(got == expected)
    } finally q.stop()
  }

  test("clickAttribution as a real stream-stream join matches its batch execution") {
    val batchEvents = Tables.events(spark, dir)
    val expected = EventAnalytics.clickAttribution(batchEvents)
      .orderBy("click_id", "view_id").collect().toSeq
    assert(expected.nonEmpty)

    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory("graft-join-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val streamEvents = Tables.normalizeTs(
      spark.readStream.schema(rawSchema).parquet(streamDir.toString), "ts")
    val q = EventAnalytics.clickAttribution(streamEvents)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .orderBy("click_id", "view_id").collect().toSeq
      assert(got == expected)
    } finally q.stop()
  }

  test("sessions produces gap-separated per-user sessions") {
    val sess = EventAnalytics.sessions(Tables.events(spark, dir), gap = "10 minutes")
    val n = sess.count()
    assert(n > 0)
    // session bounds are consistent
    assert(sess.filter(col("session_end") <= col("session_start")).count() == 0)
  }

  test("streaming CDC sync emits net INSERT/UPDATE/DELETE ops with state") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val input = MemoryStream[CdcRecord](spark)
    val q = StreamingSync.incrementalOps(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("cdc_out").start()
    try {
      // batch 1: two inserts + an unchanged re-send in the same batch
      input.addData(
        CdcRecord("t", "1", 10, deleted = false, Seq("1", "'a'")),
        CdcRecord("t", "1", 11, deleted = false, Seq("1", "'a'")),
        CdcRecord("t", "2", 12, deleted = false, Seq("2", "'b'")))
      q.processAllAvailable()
      // batch 2: update pk 1, delete pk 2, re-send identical pk 1 later
      input.addData(
        CdcRecord("t", "1", 20, deleted = false, Seq("1", "'z'")),
        CdcRecord("t", "2", 21, deleted = true, Nil))
      q.processAllAvailable()
      input.addData(
        CdcRecord("t", "1", 30, deleted = false, Seq("1", "'z'")))
      q.processAllAvailable()

      val got = spark.table("cdc_out").as[OpEvent].collect().toSeq
      assert(got.count(_.op == "INSERT") == 2)
      assert(got.filter(_.op == "UPDATE") == Seq(OpEvent("t", "1", "UPDATE", Seq("1", "'z'"))))
      assert(got.filter(_.op == "DELETE") == Seq(OpEvent("t", "2", "DELETE", Nil)))
      assert(got.size == 4) // unchanged re-sends emitted nothing
    } finally q.stop()
  }

  test("streaming LSH near-dup accumulates exactly the batch operator's pairs") {
    // corpus with planted near-dups (every 7th doc copied under a new
    // id), delivered as three micro-batches; the accumulated pair log
    // must equal the batch MinHash-LSH over the whole corpus, each pair
    // exactly once (found by the batch that delivers its later member)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val expectedDf =
      graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text")
    val expected = expectedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    PendingRelease.drain()
    assert(expected.nonEmpty)

    val all = corpus.as[(Long, String)].collect().toSeq
    val (copies, orig) = all.partition(_._1 >= 100000L)
    val (b1, b2) = orig.partition(_._1 < 250L)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamingDedup.start(
      input.toDF().toDF("doc_id", "text"), stateDir)
    try {
      Seq(b1, b2, copies).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
      def gotPairs() = graft.streaming.StreamingDedup.pairs(spark, stateDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val got = gotPairs()
      assert(got.size == got.toSet.size, "a pair was detected more than once")
      assert(got.toSet == expected)

      // crash-replay idempotence: re-running the LAST batch (same
      // batchId, same rows — exactly what a foreachBatch replay after a
      // crash-before-checkpoint delivers) must leave the state
      // byte-equivalent — batchId-keyed overwrites, not appends
      val lastId = graft.streaming.StreamingDedup
        .committedBatches(spark, stateDir).max
      graft.streaming.StreamingDedup.processBatch(spark,
        copies.toDF("doc_id", "text"), stateDir, lastId)
      val replayed = gotPairs()
      assert(replayed.size == replayed.toSet.size,
        "replaying a batch duplicated pairs")
      assert(replayed.toSet == expected)
      assert(spark.read.parquet(s"$stateDir/docs").count() == corpus.count(),
        "replaying a batch duplicated index docs")
    } finally q.stop()
  }

  test("streaming LSH gate compaction: pruned probe == raw dirs, idempotent") {
    // batches 1-2 ingest, compact to the band-bucketed projection, then
    // batch 3 (which plants the near-dups) probes THROUGH the
    // compaction: raw dirs covered by it are deleted first, so equality
    // with the batch operator PROVES the pruned projection served the
    // corpus side
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .limit(300)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val expectedDf =
      graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text")
    val expected = expectedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    PendingRelease.drain()
    assert(expected.nonEmpty)
    val all = corpus.as[(Long, String)].collect().toSeq
    val (copies, orig) = all.partition(_._1 >= 100000L)
    val (b1, b2) = orig.partition(_._1 < 150L)
    val sd = java.nio.file.Files.createTempDirectory("graft-sdcomp").toString
    val SD = graft.streaming.StreamingDedup
    SD.processBatch(spark, b1.toDF("doc_id", "text"), sd, 0L)
    SD.processBatch(spark, b2.toDF("doc_id", "text"), sd, 1L)
    SD.compact(spark, sd, buckets = 8)
    // idempotence: nothing new committed -> no-op (marker set unchanged)
    SD.compact(spark, sd, buckets = 8)
    assert(SD.committedCompactions(spark, sd) == Seq((1L, 8)))
    // force the probe through the projection: drop the covered raw dirs
    (0L to 1L).foreach { n =>
      val p = new org.apache.hadoop.fs.Path(s"$sd/docs/batch=$n")
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(p, true)
    }
    SD.processBatch(spark, copies.toDF("doc_id", "text"), sd, 2L)
    // covered raw dirs are gone — the incremental compact reads only
    // the projection + batch 2, never below its high-water mark (the
    // old full-rebuild re-read from batch 0 and threw here); keep-two
    // retention leaves the superseded upto=1 projection in place
    SD.compact(spark, sd, buckets = 8)
    assert(SD.committedCompactions(spark, sd) == Seq((1L, 8), (2L, 8)))
    val got = SD.pairs(spark, sd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.size == got.toSet.size, "a pair was detected more than once")
    assert(got.toSet == expected,
      s"missing=${(expected -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- expected).take(3)}")
  }

  test("streaming LSH gate survives an out-of-band vacuum racing the raw-scan probe") {
    // The auto-policy's rawIntact existence check and the lazy read of
    // the chosen docs/batch=N dirs are not atomic; `--gate-vacuum` runs
    // in its own JVM, so it can reclaim dirs mid-trigger. The seam
    // injects that deletion deterministically in the exact window; the
    // probe must retry through the projection instead of killing the
    // query, and the pairs must still match the batch operator.
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .limit(300)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val expectedDf =
      graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text")
    val expected = expectedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    PendingRelease.drain()
    assert(expected.nonEmpty)
    val all = corpus.as[(Long, String)].collect().toSeq
    val (copies, orig) = all.partition(_._1 >= 100000L)
    val (b1, b2) = orig.partition(_._1 < 150L)
    val sd = java.nio.file.Files.createTempDirectory("graft-sdrace").toString
    val SD = graft.streaming.StreamingDedup
    SD.processBatch(spark, b1.toDF("doc_id", "text"), sd, 0L)
    SD.processBatch(spark, b2.toDF("doc_id", "text"), sd, 1L)
    SD.compact(spark, sd, buckets = 8)
    // shallow depth (2 raw dirs ≤ CompactedSkipDepth) and intact dirs:
    // the auto-policy WILL choose the raw scan; the seam then deletes
    // the chosen dirs before the read — the race, made deterministic
    var fired = false
    SD.onCorpusChosen = () => {
      if (!fired) {
        fired = true
        (0L to 1L).foreach { n =>
          val p = new org.apache.hadoop.fs.Path(s"$sd/docs/batch=$n")
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        }
      }
    }
    try SD.processBatch(spark, copies.toDF("doc_id", "text"), sd, 2L)
    finally SD.onCorpusChosen = () => ()
    assert(fired, "race seam never fired — the spec exercised nothing")
    val got = SD.pairs(spark, sd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.size == got.toSet.size, "a pair was detected more than once")
    assert(got.toSet == expected,
      s"missing=${(expected -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- expected).take(3)}")
  }

  test("streaming LSH gate with auto-compaction accumulates the batch pairs") {
    // end-to-end through start(compactEvery=1): every batch compacts,
    // and raw dirs are vacuumed to the documented floor (at/below the
    // SECOND-newest mark) between triggers — so later batches probe the
    // vacuumed range entirely through the projection (the auto-policy
    // cannot fall back to raw dirs that no longer exist)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .limit(200)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val expectedDf =
      graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text")
    val expected = expectedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    PendingRelease.drain()
    assert(expected.nonEmpty)
    val all = corpus.as[(Long, String)].collect().toSeq
    val (copies, orig) = all.partition(_._1 >= 100000L)
    val (b1, rest) = orig.partition(_._1 < 70L)
    val (b2, b3) = rest.partition(_._1 < 140L)
    val sd = java.nio.file.Files.createTempDirectory("graft-sdauto").toString
    val fsys = new org.apache.hadoop.fs.Path(sd)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamingDedup.start(
      input.toDF().toDF("doc_id", "text"), sd,
      compactEvery = Some(1), compactBuckets = 8)
    try {
      // vacuum() implements the documented floor: raw dirs at/below
      // the SECOND-newest committed compaction mark are reclaimable
      Seq(b1, b2, b3, copies).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
        graft.streaming.StreamingDedup.vacuum(spark, sd)
      }
      // keep-two retention: each run start-sweeps to the newest two
      // projections then writes its own — after 4 compactions the
      // oldest (upto=0) is swept, the newest three remain
      assert(graft.streaming.StreamingDedup
        .committedCompactions(spark, sd).map(_._1) == Seq(1L, 2L, 3L))
      val projDirs = fsys
        .listStatus(new org.apache.hadoop.fs.Path(s"$sd/docs_compacted"))
        .map(_.getPath.getName).sorted.toSeq
      assert(projDirs == Seq("upto=1", "upto=2", "upto=3"),
        s"stale projections: $projDirs")
      val got = graft.streaming.StreamingDedup.pairs(spark, sd).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got.size == got.toSet.size)
      assert(got.toSet == expected)
    } finally q.stop()
  }

  test("streaming LSH gate: batch replay after compaction+vacuum probes the replay floor") {
    // Crash model: batch 2's foreachBatch committed AND compacted, raw
    // dirs at/below the second-newest mark were vacuumed, then the
    // engine replays batch 2 (the stream checkpoint commit was lost).
    // The replay's probe needs a compaction with upTo < 2 — keep-two
    // retention guarantees the upto=1 projection still exists even
    // though the upto=2 compaction superseded it. (The pre-round-15
    // commit-time sweep deleted it, crashing exactly this replay.)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .limit(300)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val expectedDf =
      graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text")
    val expected = expectedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    PendingRelease.drain()
    assert(expected.nonEmpty)
    val all = corpus.as[(Long, String)].collect().toSeq
    val (copies, orig) = all.partition(_._1 >= 100000L)
    val (b1, b2) = orig.partition(_._1 < 150L)
    val sd = java.nio.file.Files.createTempDirectory("graft-sdreplay").toString
    val SD = graft.streaming.StreamingDedup
    SD.processBatch(spark, b1.toDF("doc_id", "text"), sd, 0L)
    SD.compact(spark, sd, buckets = 8) // markers {0}
    SD.processBatch(spark, b2.toDF("doc_id", "text"), sd, 1L)
    SD.compact(spark, sd, buckets = 8) // markers {0,1}
    SD.processBatch(spark, copies.toDF("doc_id", "text"), sd, 2L)
    SD.compact(spark, sd, buckets = 8) // markers {0,1,2}
    // vacuum at/below the second-newest mark (=1): raw dirs 0 and 1
    assert(graft.streaming.StreamingDedup.vacuum(spark, sd).sorted
      == Seq("docs/batch=0", "docs/batch=1"))
    // REPLAY batch 2: its probe must select upto=1 (the replay floor)
    SD.processBatch(spark, copies.toDF("doc_id", "text"), sd, 2L)
    val got = SD.pairs(spark, sd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.size == got.toSet.size, "replay duplicated a pair")
    assert(got.toSet == expected,
      s"missing=${(expected -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- expected).take(3)}")
  }

  test("legacy flat projection: raw-intact rebuilds, vacuumed refuses loudly") {
    // a pre-round-15 projection (no bands/+arr/ split) can be neither
    // probed nor folded: with the covered raw dirs intact the engine
    // ignores/rebuilds it; with them vacuumed it must fail with the
    // real cause, not a lazy path-not-found mid-probe
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
      .limit(150)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val expectedDf =
      graft.operators.Dedup.minhashLshPairs(corpus, "doc_id", "text")
    val expected = expectedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    PendingRelease.drain()
    val all = corpus.as[(Long, String)].collect().toSeq
    val (copies, orig) = all.partition(_._1 >= 100000L)
    val sd = java.nio.file.Files.createTempDirectory("graft-sdflat").toString
    val SD = graft.streaming.StreamingDedup
    SD.processBatch(spark, orig.toDF("doc_id", "text"), sd, 0L)
    SD.compact(spark, sd, buckets = 8) // markers {0}
    val fsys = new org.apache.hadoop.fs.Path(sd)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // fake the pre-split layout: strip the bands/ + arr/ subdirs
    fsys.delete(
      new org.apache.hadoop.fs.Path(s"$sd/docs_compacted/upto=0/bands"), true)
    fsys.delete(
      new org.apache.hadoop.fs.Path(s"$sd/docs_compacted/upto=0/arr"), true)
    // raw dirs intact: the probe ignores the unreadable projection
    SD.processBatch(spark, copies.toDF("doc_id", "text"), sd, 1L)
    assert(SD.pairs(spark, sd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == expected)
    // compact sweeps the legacy projection and rebuilds from raw dirs
    SD.compact(spark, sd, buckets = 8)
    assert(SD.committedCompactions(spark, sd) == Seq((1L, 8)))
    // now fake legacy AGAIN and vacuum a covered raw dir: both the
    // probe and compact must refuse with the diagnostic
    fsys.delete(
      new org.apache.hadoop.fs.Path(s"$sd/docs_compacted/upto=1/bands"), true)
    fsys.delete(
      new org.apache.hadoop.fs.Path(s"$sd/docs_compacted/upto=1/arr"), true)
    fsys.delete(new org.apache.hadoop.fs.Path(s"$sd/docs/batch=0"), true)
    val e1 = intercept[IllegalStateException] {
      SD.processBatch(spark,
        Seq((900000L, "q w e r t y u")).toDF("doc_id", "text"), sd, 2L)
    }
    assert(e1.getMessage.contains("legacy-layout"))
    val e2 = intercept[IllegalStateException] {
      SD.compact(spark, sd, buckets = 8)
    }
    assert(e2.getMessage.contains("legacy-layout"))
  }

  test("streaming LSH gate refuses a pre-batchId state layout") {
    // a stateDir written by the old flat-append layout must fail fast,
    // not resume over a silently-empty corpus
    val stateDir = java.nio.file.Files.createTempDirectory("graft-sdlegacy")
    val docs = stateDir.resolve("docs")
    // a direct parquet write puts part files straight under docs/ —
    // exactly the legacy flat-append layout (no _commits manifest)
    Seq((1L, "a b c d e f")).toDF("doc_id", "text")
      .write.parquet(docs.toString)
    val err = intercept[IllegalStateException] {
      graft.streaming.StreamingDedup.processBatch(spark,
        Seq((2L, "a b c d e f")).toDF("doc_id", "text"),
        stateDir.toString, 0L)
    }
    assert(err.getMessage.contains("pre-batchId"))
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val input = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val events = input.toDF().toDF("event_id", "ts")
    val q = EventAnalytics.dedup(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      input.addData((1L, t0), (1L, t0), (2L, t0))
      q.processAllAvailable()
      input.addData((2L, t0), (3L, t0)) // 2 is a dup within the watermark
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(got == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("blocklist automaton streams == batch (stateless policy filter)") {
    import graft.operators.TextOps
    val rows = Seq((1L, "alpha beta gamma alpha beta"),
      (2L, "nothing to see here"), (3L, "beta gamma beta gamma beta"))
    val pats = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("pattern_id", "phrase")
    val expected = TextOps.blocklistCounts(rows.toDF("doc_id", "text"),
        "doc_id", "text", pats)
      .orderBy("id", "pattern_id")
      .as[(Long, Long, Long)].collect().toSeq
    // doc1: "alpha beta"×2 (pos 0, 3), "beta gamma"×1; doc2 clean
    // (hit rows only); doc3: "beta gamma"×2 (pos 0, 2)
    assert(expected == Seq((1L, 1L, 2L), (1L, 2L, 1L), (3L, 2L, 2L)))
    val input = MemoryStream[(Long, String)](spark)
    val q = TextOps.blocklistCountsStream(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", pats)
      .writeStream.outputMode("append")
      .format("memory").queryName("bl_out").start()
    try {
      input.addData(rows.take(2): _*); q.processAllAvailable()
      input.addData(rows.drop(2): _*); q.processAllAvailable()
      val got = spark.table("bl_out").orderBy("id", "pattern_id")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == expected, "stream must emit the batch counts exactly")
    } finally q.stop()
  }

  test("streaming digit counts finish to the exact batch Benford profile") {
    import graft.operators.Stats
    import graft.streaming.EventAnalytics
    val batchEvents = Tables.events(spark, dir)
    val expected = Stats.benfordProfile(batchEvents, col("event_type"),
        round(col("value") * 100).cast("long"))
      .orderBy("g", "digit").collect().toSeq

    val rows = batchEvents
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().toSeq
    val input =
      MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
    val q = EventAnalytics.digitCounts(
        input.toDF().toDF("event_id", "ts", "user_id", "event_type",
          "value"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("benford_out").start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      input.addData(h: _*); q.processAllAvailable()
      input.addData(t: _*); q.processAllAvailable()
      // the monitor's state is the (type × digit) domain; the finisher
      // over a sink SNAPSHOT must equal the batch audit bit-for-bit
      // (snapshotting also sidesteps the memory-sink view's self-join
      // attribute conflict inside benfordFromCounts' grid join)
      val snap = spark.table("benford_out")
        .as[(String, Long, Long)].collect().toSeq
        .toDF("g", "digit", "c")
      val got = Stats.benfordFromCounts(snap)
        .orderBy("g", "digit").collect().toSeq
      assert(got == expected)
    } finally q.stop()
  }

  test("streaming hour counts finish to the batch seasonality grid") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val batchEvents = Tables.events(spark, dir)
    val expected = graft.operators.EventOps
      .seasonalityProfile(batchEvents, "event_type", "ts")
      .orderBy("g", "hour").collect().toSeq

    val rows = batchEvents
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().toSeq
    val input =
      MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
    val q = EventAnalytics.hourCounts(
        input.toDF().toDF("event_id", "ts", "user_id", "event_type",
          "value"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("season_out").start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      input.addData(h: _*); q.processAllAvailable()
      input.addData(t: _*); q.processAllAvailable()
      // domain-bounded (type × 24) state; the finisher over a sink
      // snapshot must equal the batch grid bit-for-bit
      val snap = spark.table("season_out")
        .as[(String, Long, Long)].collect().toSeq
        .toDF("g", "hour", "c")
      val got = graft.operators.EventOps.seasonalityFromCounts(snap)
        .orderBy("g", "hour").collect().toSeq
      assert(got == expected)
    } finally q.stop()
  }
}
