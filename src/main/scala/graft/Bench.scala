package graft

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.engine.SyncJob
import graft.tools.DumpGen

/** Benchmark main: times every SparkEntry query plus the end-to-end sync
  * core (dump pair → diff → script) on SPARK_GRAFT_SF_DIR, printing one
  * JSON line. The sync timing is directly comparable to BASELINE.md's
  * reference wall times (same dump shapes, same perturbation rates).
  *
  * Noise defense (round 7): the round-6 artifact showed warm>cold
  * inversions up to 7× from mid-run co-tenancy that the single startup
  * load probe could not see. Every entry is now bracketed by short
  * CPU-spin probes recorded next to its timing; warm is the median of
  * three runs; an entry whose bracketing probe deviates >1.5× from the
  * session baseline is retried (up to 2 more attempts, keeping the
  * quietest), and entries still noisy after retries are listed under
  * `"noisy"` so the driver can discount them instead of reading
  * contamination as regression.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: JVM/codegen/parquet-reader init so the first timed query
    // isn't charged for session startup.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).limit(1000).count()

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }

    // Box-load probe: a fixed CPU-bound spin. Query timings from
    // different runs/hosts are only comparable after normalizing by
    // these — a co-scheduled process or cgroup CPU cap shows up here,
    // not in the engine.
    def spin(iters: Long): Long = {
      var h = 0x9E3779B97F4A7C15L; var i = 0L
      while (i < iters) { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; i += 1 }
      h
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    // Startup probes kept at the round-4..6 iteration counts so the
    // values stay comparable across round artifacts.
    val startupIters = 400000000L
    val probeSt = time(spin(startupIters))
    val probeMt = time {
      val ts = (0 until cpus.toInt).map(_ =>
        new Thread(() => { spin(startupIters); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    // Per-entry probes are short (~0.15 s) — they bracket every entry, so
    // their cost must stay a rounding error next to the timings they
    // guard. Deviation is a ratio, so the shorter spin changes nothing.
    val entryProbeIters = 100000000L
    def entryProbe(): Double = time(spin(entryProbeIters))
    val probeBase = median((1 to 5).map(_ => entryProbe()))
    val noisyFactor = 1.5

    // I/O probe: re-read a fixed 32 MiB window of the largest input
    // file through the page cache. The CPU spin is blind to I/O
    // stalls — a co-tenant evicting the page cache or saturating the
    // host disk slows every parquet scan while the spin stays quiet
    // (the round-9 signature: one entry at 25 s warm, clean CPU
    // probes, back to 1.5 s an hour later). This probe reads exactly
    // the bytes the queries read, so that contamination mode lands in
    // `noisy` instead of the artifact.
    // Guarded selection: listFiles() is null on a bad sfDir, parquet
    // inputs may be directory-shaped, or there may be no top-level
    // .parquet at all — in every such case SKIP the I/O probe (emit
    // -1, never flag) rather than crash the whole bench on a probe.
    val ioFileOpt = Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(f => f.isFile && f.getName.endsWith(".parquet")))
      .filter(_.nonEmpty).map(_.maxBy(_.length))
    def ioProbe(): Double = ioFileOpt match {
      case None => -1.0
      case Some(ioFile) =>
        val ioLen = math.min(ioFile.length(), 32L << 20)
        time {
          val ch = java.nio.channels.FileChannel.open(ioFile.toPath)
          try {
            val buf = java.nio.ByteBuffer.allocate(1 << 20)
            var pos = 0L
            while (pos < ioLen) {
              buf.clear()
              val r = ch.read(buf, pos)
              if (r <= 0) pos = ioLen else pos += r
            }
          } finally ch.close()
        }
    }
    ioProbe() // prime the page cache before the baseline
    val ioBase = math.max(median((1 to 5).map(_ => ioProbe())), 0.001)
    // I/O latency is far spikier than CPU: flag only multi-x
    // sustained slowdowns, with an absolute floor so a microsecond
    // baseline doesn't flag millisecond jitter. A skipped probe
    // (-1) never flags.
    def ioNoisy(p: Double): Boolean =
      ioFileOpt.nonEmpty && p > ioBase * 4 + 0.05

    // Full materialization (all output columns through the noop sink), so
    // expensive final projections aren't pruned the way .count() allows.
    // Operators defer their internal-cache release handles to this
    // thread's PendingRelease; draining here (post-materialization, on
    // the thread that built the frame, inside the timed body) charges
    // each run its own cleanup and prevents the per-warm-run cache
    // accumulation the round-11 q205 fix traded into an
    // eager-materialization regression.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      PendingRelease.drain()
    }

    // One entry = probe, cold from a cleared cache state (charged for
    // codegen compile + operator-internal persists), median-of-3 warm
    // (the steady-state number a long-running cluster sees), probe.
    //
    // An attempt counts as NOISY when any of three independent signals
    // fires — each catches a contamination mode the others miss:
    //  - bracketing CPU probe >1.5× the session baseline (co-scheduled
    //    CPU load, cgroup caps);
    //  - warm spread: median > 1.5×min (+0.2 s jitter floor) across the
    //    three warm runs — an episodic stall (I/O contention, GC debt
    //    from earlier entries) that hit ≥2 of the runs and so corrupted
    //    the reported median; one slow outlier run leaves the median
    //    clean and is NOT flagged (the round-6 artifact's warm>cold
    //    signature was exactly the corrupted-median case);
    //  - inversion: median warm > 1.5× cold (+0.5 s) — back-to-back runs
    //    in one JVM never legitimately do this; cold carries codegen and
    //    internal-persist costs warm doesn't;
    //  - cold outlier: cold > 4× the warm median (+1 s) — the legitimate
    //    cold/warm ratio tops out around 3-4× (codegen + first parquet
    //    reads); beyond that the single cold run ate a stall the warm
    //    median (being a median) shrugged off. Cold has no median of its
    //    own, so without this signal a contaminated cold is invisible.
    // Noisy attempts are retried (up to 2 more) after a System.gc() — if
    // the stall was this JVM's own GC debt, pay it between timings, not
    // inside one — keeping the attempt with the smallest cold+warm
    // (contamination only ever inflates). Entries still noisy after
    // retries are listed under "noisy" for the driver to discount.
    // A GLOBAL retry budget bounds worst-case wall time: on a box so
    // loaded that everything flags, the bench degrades to single-attempt
    // with honest noisy marks instead of tripling its runtime.
    var retryBudget = 30
    def runEntry(body: () => Unit)
        : (Double, Double, Double, Double, Boolean) = {
      // Pay the PREVIOUS entry's debt here, outside any timing: shuffle
      // files, broadcast refs and unpersisted cache blocks are reclaimed
      // by the ContextCleaner only after a driver GC, and a 245-entry
      // suite otherwise drags a growing heap through every later entry's
      // timed runs — the round-10 artifact showed a broad ~+0.3-0.5 s
      // same-entry warm drift vs round 9 at constant probe, exactly the
      // suite-size signature.
      System.gc()
      def attempt(): (Double, Seq[Double], Double, Double) = {
        val p0 = entryProbe()
        val io0 = ioProbe()
        spark.catalog.clearCache()
        val cold = try time(body()) catch { case _: Throwable => -1.0 }
        val warms =
          if (cold < 0) Seq(-1.0)
          else (1 to 3).map(_ =>
            try time(body()) catch { case _: Throwable => -1.0 })
        val p1 = entryProbe()
        val io1 = ioProbe()
        (cold, warms, math.max(p0, p1), math.max(io0, io1))
      }
      def noisy(a: (Double, Seq[Double], Double, Double)): Boolean = {
        val (cold, warms, probe, ioP) = a
        val ok = warms.filter(_ >= 0)
        if (cold < 0 || ok.isEmpty) false
        else probe > probeBase * noisyFactor ||
          ioNoisy(ioP) ||
          median(ok) > ok.min * 1.5 + 0.2 ||
          median(ok) > cold * 1.5 + 0.5 ||
          cold > median(ok) * 4.0 + 1.0
      }
      def score(a: (Double, Seq[Double], Double, Double)): Double = {
        val ok = a._2.filter(_ >= 0)
        a._1 + (if (ok.isEmpty) 0.0 else median(ok))
      }
      var best = attempt()
      var tries = 1
      while (noisy(best) && tries < 3 && retryBudget > 0) {
        retryBudget -= 1
        System.gc()
        val next = attempt()
        if (score(next) < score(best)) best = next
        tries += 1
      }
      val (cold, warms, probe, ioP) = best
      val ok = warms.filter(_ >= 0)
      val warm = if (ok.isEmpty) -1.0 else median(ok)
      // CPU and I/O probes are incommensurate baselines — emit each
      // against its own base rather than folding max() into one number.
      (cold, warm, probe, ioP, noisy(best))
    }

    // SPARK_GRAFT_BENCH_ONLY=prefix1,prefix2 restricts the run to
    // matching entry names — a dev filter for iterating on one entry
    // family without paying the full suite; the driver never sets it.
    val onlyPrefixes = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    def selected(name: String): Boolean =
      onlyPrefixes.forall(_.exists(name.startsWith))

    val queryTimes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(t => selected(t._1)).map { case (name, fn) =>
      val (cold, warm, probe, ioP, loud) = runEntry(() => materialize(fn(spark, sfDir)))
      (name, cold, warm, probe, ioP, loud)
    }

    // Sync core end-to-end (dump generation cached, not timed).
    val sfName = Paths.get(sfDir).getFileName.toString
    val cacheDir = s"/tmp/graft_bench_dumps_${sfName}_v${DumpGen.FormatVersion}"
    val (prodPath, backupPath) =
      if (Files.exists(Paths.get(cacheDir, "prod.sql")) &&
          Files.exists(Paths.get(cacheDir, "backup.sql")))
        (Paths.get(cacheDir, "prod.sql"), Paths.get(cacheDir, "backup.sql"))
      else DumpGen.generate(spark, sfDir, cacheDir)
    // Untimed page-cache prime of the dump pair: the sync entries run
    // AFTER the 229-query suite has cycled the page cache, so their
    // first runs were paying cold re-reads of ~100 MB dump text that
    // isolated runs (and round-9's smaller suite) did not — measured
    // 2.5 s isolated vs 3.7-4.4 s at suite tail for identical code.
    // Priming restores the same starting state every entry family gets
    // from the startup warmup + its own io-probe file.
    Seq(prodPath, backupPath).foreach { p =>
      val ch = java.nio.channels.FileChannel.open(p)
      try {
        val buf = java.nio.ByteBuffer.allocate(1 << 20)
        var pos = 0L
        while (pos < ch.size()) {
          buf.clear(); val r = ch.read(buf, pos)
          if (r <= 0) pos = ch.size() else pos += r
        }
      } finally ch.close()
    }
    val syncEntries = Seq[(String, () => Unit)](
      // the CLI default: the size-routed sink (a diff this small is
      // collected into one file). ONE output path for all runs (cold +
      // warms + retries): each run replaces it, and a fresh temp path
      // per timed run would accumulate script copies under /tmp
      ("sync_dump_diff", {
        val out = Paths.get(cacheDir, "sync_out.sql").toString
        () => {
          new SyncJob(spark).syncAuto(
            prodPath.toString, backupPath.toString, out, "bench")
          ()
        }
      }),
      // the at-scale sink forced (maxCollectedOps = 0): executor-rendered
      // sorted text parts, no driver collect — benched so that path's
      // cost is tracked even when the tile fits the collected route
      ("sync_dump_diff_distributed", {
        val out = Paths.get(cacheDir, "sync_distributed_out.sql").toString
        () => {
          new SyncJob(spark).syncAuto(prodPath.toString, backupPath.toString,
            out, "bench", maxCollectedOps = 0L)
          ()
        }
      }),
      // snapshot: repeated runs measure the steady-state cost of
      // snapshotting a NEW dump (the per-arrival price)
      ("sync_bucketed_snapshot", () => {
        graft.engine.BucketedSync.snapshot(spark, prodPath.toString, "bench_bk_prod")
        graft.engine.BucketedSync.snapshot(spark, backupPath.toString, "bench_bk_backup")
        ()
      }),
      // rediff: the per-comparison cost every repeated sync actually
      // pays — exchange-free by construction
      ("sync_bucketed_rediff", () => materialize(
        graft.engine.BucketedSync.diff(spark, "bench_bk_prod", "bench_bk_backup"))),
      // the CLI --state steady state: fingerprint-gated snapshot reuse +
      // Merkle changed-tables gate + full script assembly — the cost a
      // nightly re-sync against unchanged dumps actually pays
      ("sync_auto_rediff", () => {
        graft.engine.BucketedSync.ensureSnapshot(spark, prodPath.toString, "bench_auto_prod")
        graft.engine.BucketedSync.ensureSnapshot(spark, backupPath.toString, "bench_auto_backup")
        new SyncJob(spark).syncFromBucketed("bench_auto_prod",
          "bench_auto_backup", prodPath.toString,
          Paths.get(cacheDir, "sync_auto_out.sql").toString, "bench")
        ()
      })
    ).filter(t => selected(t._1)).map { case (name, body) =>
      val (cold, warm, probe, ioP, loud) = runEntry(body)
      (name, cold, warm, probe, ioP, loud)
    }

    // ---- Streaming micro-batch entries (round 10) ----
    // Latency/state tracking for the streaming surface: each entry
    // drives `nStreamBatches` event-time-ordered micro-batches through
    // one streaming operator (MemoryStream → noop sink); the entry's
    // time is the full drive, so per-batch wall = time / n (batch count
    // emitted as "stream_batches"), and the final progress's
    // state-store row total lands in "stream_state_rows" — streaming
    // regressions in either latency or state growth become visible
    // round-over-round.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import spark.implicits._

    // 4 batches: per-batch state-store checkpointing is the dominant
    // cost at bench scale (it's ~fixed per batch × shuffle partition),
    // so batch count — not row count — prices these entries; 4 keeps
    // the family's bench share bounded while still measuring multi-
    // batch steady state (watermark advance, store reuse).
    // SPARK_GRAFT_STREAM_BATCHES: dev-only knob (driver never sets it)
    // for decomposing the streaming entries' per-batch fixed cost vs
    // row-volume cost — same total rows, different batch count
    val nStreamBatches = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
      .map(_.toInt).filter(_ > 0).getOrElse(4)
    def sliced[A](rows: Array[A]): Seq[Seq[A]] = rows.grouped(
      math.max(1, (rows.length + nStreamBatches - 1) / nStreamBatches))
      .map(_.toSeq).toSeq
    val evSlices = sliced(Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().sortBy(_._2.getTime))
    val docSlices = sliced(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect())

    val streamStateRows = scala.collection.mutable.LinkedHashMap[String, Long]()
    def recordState(name: String,
        q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      streamStateRows(name) = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum

    def driveEv(name: String)(build: DataFrame => DataFrame)
        : (String, () => Unit) = (name, () => {
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
      val df = in.toDS()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val q = build(df).writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("graft-sb").toString)
        .outputMode("append").start()
      try {
        evSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
        recordState(name, q)
      } finally q.stop()
    })

    import graft.streaming.{EventAnalytics, StreamingAsOf, StreamingDedup, StreamingSync}
    // Streaming state ops are priced per (micro-batch × state store
    // instance): every stateful operator commits one store per shuffle
    // partition per batch, so 32 partitions for a few-hundred-row state
    // is ~all commit overhead (measured: stream-stream join 22.5 s warm
    // at 32 partitions for 133 state rows). Size the streaming section
    // like a deployment would — partitions matched to state volume —
    // and restore the batch setting afterwards.
    val batchShufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    // SPARK_GRAFT_STREAM_STORE: dev-only A/B knob (the driver never sets
    // it) — "rocksdb" routes the streaming section's state stores through
    // the RocksDB provider instead of the default HDFS-backed one, for
    // the r17 provider A/B on the stream-stream join commit floor.
    val streamStoreProvider = sys.env.get("SPARK_GRAFT_STREAM_STORE") match {
      case Some("rocksdb") => Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider")
      case _ => None
    }
    def withStreamPartitions(body: () => Unit): () => Unit = () => {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      streamStoreProvider.foreach(p =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
      try body() finally {
        spark.conf.set("spark.sql.shuffle.partitions", batchShufflePartitions)
        if (streamStoreProvider.nonEmpty)
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
    val streamEntries = Seq[(String, () => Unit)](
      driveEv("stream_windowed_agg")(EventAnalytics.windowedAgg(_)),
      driveEv("stream_hll_distinct")(EventAnalytics.windowedDistinct(_)),
      driveEv("stream_value_sketch")(EventAnalytics.windowedValueSketch(_)),
      driveEv("stream_sessionize")(EventAnalytics.sessions(_)),
      driveEv("stream_exact_dedup")(EventAnalytics.dedup(_)),
      driveEv("stream_click_attribution")(EventAnalytics.clickAttribution(_)),
      ("stream_cdc_ops", () => {
        val in = MemoryStream[StreamingSync.CdcRecord](spark)
        implicit val s: SparkSession = spark
        val q = StreamingSync.incrementalOps(in.toDS())
          .writeStream.format("noop")
          .option("checkpointLocation",
            Files.createTempDirectory("graft-sb").toString)
          .outputMode("append").start()
        try {
          evSlices.foreach { sl =>
            in.addData(sl.map(r => StreamingSync.CdcRecord("ev",
              (r._3 % 2000).toString, r._1, r._1 % 23 == 0,
              Seq(r._4, r._5.toString))): _*)
            q.processAllAvailable()
          }
          recordState("stream_cdc_ops", q)
        } finally q.stop()
      }),
      ("stream_asof", () => {
        import graft.streaming.StreamingAsOf.{ProbeRow, RefRow}
        implicit val s: SparkSession = spark
        val pIn = MemoryStream[ProbeRow](spark)
        val rIn = MemoryStream[RefRow](spark)
        val q = StreamingAsOf.asOfStream(pIn.toDS(), rIn.toDS(), "2 hours")
          .writeStream.format("noop")
          .option("checkpointLocation",
            Files.createTempDirectory("graft-sb").toString)
          .outputMode("append").start()
        try {
          evSlices.foreach { sl =>
            rIn.addData(sl.filter(_._1 % 5 == 0).map(r =>
              RefRow((r._3 % 100).toString, r._2, r._5.toString)): _*)
            pIn.addData(sl.filter(_._1 % 5 != 0).map(r =>
              ProbeRow((r._3 % 100).toString, r._2, r._1)): _*)
            q.processAllAvailable()
          }
          recordState("stream_asof", q)
        } finally q.stop()
      }),
      ("stream_blocklist", () => {
        val pats = Seq((1L, "the"), (2L, "of the"), (3L, "a and"))
          .toDF("pattern_id", "phrase")
        val in = MemoryStream[(Long, String)](spark)
        val df = in.toDS().toDF("doc_id", "text")
        val q = graft.operators.TextOps
          .blocklistCountsStream(df, "doc_id", "text", pats)
          .writeStream.format("noop")
          .option("checkpointLocation",
            Files.createTempDirectory("graft-sb").toString)
          .outputMode("append").start()
        try {
          docSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
          recordState("stream_blocklist", q)
        } finally q.stop()
      }),
      ("stream_lsh_gate", () => {
        // fresh state dir per run: the index grows per batch by design,
        // so reuse across repeats would compound the measured cost
        val stateDir = Files.createTempDirectory("graft-lshgate").toString
        val in = MemoryStream[(Long, String)](spark)
        val df = in.toDS().toDF("doc_id", "text")
        val q = StreamingDedup.start(df, stateDir)
        try {
          docSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
          streamStateRows("stream_lsh_gate") = 0L // foreachBatch: no store
        } finally q.stop()
      }),
      ("stream_seasonality", () => {
        // the online diurnal-baseline monitor: complete-mode
        // (type × hour) counts, state bounded by the 24-hour domain —
        // prices the per-batch commit of q224's online half
        val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
        val df = in.toDS()
          .toDF("event_id", "ts", "user_id", "event_type", "value")
        val q = EventAnalytics.hourCounts(df)
          .writeStream.format("noop")
          .option("checkpointLocation",
            Files.createTempDirectory("graft-sb").toString)
          .outputMode("complete").start()
        try {
          evSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
          recordState("stream_seasonality", q)
        } finally q.stop()
      }),
      ("stream_benford", () => {
        // the online feed-quality monitor: complete-mode digit counts,
        // state bounded by the (type × 9) digit domain — the entry
        // prices the per-batch commit of a domain-bounded aggregate
        val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)](spark)
        val df = in.toDS()
          .toDF("event_id", "ts", "user_id", "event_type", "value")
        val q = EventAnalytics.digitCounts(df)
          .writeStream.format("noop")
          .option("checkpointLocation",
            Files.createTempDirectory("graft-sb").toString)
          .outputMode("complete").start()
        try {
          evSlices.foreach { s => in.addData(s: _*); q.processAllAvailable() }
          recordState("stream_benford", q)
        } finally q.stop()
      }),
      ("stream_dump_watch", () => {
        // the CDC watcher's snapshot/op-log advance for two dump
        // versions (script emission is the already-benched sync core)
        val stateDir = Files.createTempDirectory("graft-watch").toString
        graft.streaming.DumpWatchSync.processDump(spark,
          prodPath.toString, stateDir, 1L, emitScripts = false)
        graft.streaming.DumpWatchSync.processDump(spark,
          backupPath.toString, stateDir, 2L, emitScripts = false)
        streamStateRows("stream_dump_watch") = 0L
      })
    ).filter(t => selected(t._1)).map { case (name, body) =>
      val (cold, warm, probe, ioP, loud) =
        runEntry(withStreamPartitions(body))
      (name, cold, warm, probe, ioP, loud)
    }

    // Per-entry input-row counts, so the artifact carries per-batch
    // wall and rows/sec explicitly — the fixed micro-batch trigger
    // overhead (~constant per batch × partition) otherwise hides
    // compute/state regressions inside the total entry time.
    val evRows = evSlices.map(_.size).sum.toLong
    val docRows = docSlices.map(_.size).sum.toLong
    val streamRows: Map[String, Long] = Map(
      "stream_windowed_agg" -> evRows, "stream_hll_distinct" -> evRows,
      "stream_value_sketch" -> evRows, "stream_sessionize" -> evRows,
      "stream_exact_dedup" -> evRows, "stream_click_attribution" -> evRows,
      "stream_cdc_ops" -> evRows, "stream_asof" -> evRows,
      "stream_benford" -> evRows, "stream_seasonality" -> evRows,
      "stream_blocklist" -> docRows,
      "stream_lsh_gate" -> docRows, "stream_dump_watch" -> 0L)

    // ---- JDBC partitioned-read entry (round 10) ----
    // A live-table read through the range-partitioned JDBC source
    // (embedded Derby — the only offline-available engine; a real
    // server differs only by connector jar). Seeding is one-time and
    // untimed; the entry times the 8-way partitioned scan + filter +
    // aggregate, with the predicate pushed into the remote WHERE
    // (JdbcSyncSpec pins the pushdown plan shape).
    val jdbcUrl = "jdbc:derby:memory:graftbench;create=true"
    val jdbcEntries = {
      val seeded = try {
        graft.sources.JdbcSync.save(
          Tables.customer(spark, sfDir)
            .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
          jdbcUrl, "customers_j",
          org.apache.spark.sql.SaveMode.Overwrite)
        true
      } catch { case _: Throwable => false }
      if (!seeded) Seq.empty[(String, Double, Double, Double, Double, Boolean)]
      else {
        val hi = Tables.customer(spark, sfDir)
          .agg(org.apache.spark.sql.functions.max(col("c_custkey")))
          .head.getLong(0)
        Seq(("jdbc_partitioned_read", () => {
          materialize(
            graft.sources.JdbcSync.load(spark, jdbcUrl, "customers_j",
                partition = Some(("c_custkey", 1L, hi, 8)))
              .filter(col("c_acctbal") > 0)
              .groupBy("c_nationkey")
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("n"),
                org.apache.spark.sql.functions.sum(col("c_acctbal")).as("bal")))
        })).map { case (name, body) =>
          val (cold, warm, probe, ioP, loud) = runEntry(body)
          (name, cold, warm, probe, ioP, loud)
        }
      }
    }

    val all = queryTimes ++ syncEntries ++ streamEntries ++ jdbcEntries
    def r3(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
    def jmap(entries: Seq[(String, Double, Double, Double, Double, Boolean)],
        f: ((String, Double, Double, Double, Double, Boolean)) => Double)
        : String =
      entries.map { case t @ (k, _, _, _, _, _) => "\"" + k + "\":" + r3(f(t)) }
        .mkString("{", ",", "}")
    val noisy = all.filter(_._6).map(_._1)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = all.map(_._2).filter(_ >= 0).sum
    val totalWarm = all.map(_._3).filter(_ >= 0).sum
    // Probe-normalized totals: totals × (reference probe / this box's
    // probe). ProbeRef is FIXED at the round-7 baseline box's
    // probe_base_sec, so round-over-round comparisons read the
    // normalized totals directly and box-speed drift (0.154 → 0.191 in
    // round 8, a 24% apparent regression) stops confounding them.
    val probeRef = 0.154
    val norm = probeRef / probeBase
    val totalNorm = total * norm
    val totalWarmNorm = totalWarm * norm
    // Per-entry-probe normalization (round 15): probe_base is measured
    // ONCE at JVM start, so load arriving MID-run (the r14 committed
    // pair: probes 0.22 → 0.25-0.30 across a 17-entry span) slips past
    // the global factor. Each entry's own bracketing probe translates
    // its warm time to reference-box terms individually. Probes are
    // fixed CPU work — they can read slow under load but never
    // spuriously fast — so the factor is uncapped (probe_i < probeRef
    // just means a genuinely faster box). This is the cross-round
    // comparable SURVEY §8 quotes; see docs/SCALE.md for the protocol.
    // Entries whose bracketing probe is non-positive (a sentinel or a
    // failed probe) fall back to the JVM-start probe_base instead of
    // the 1e-9 floor — the floor would silently inflate the comparable
    // by ~1e8× on a single bad probe.
    val totalWarmNormPe = all
      .filter(t => t._3 >= 0)
      .map(t => t._3 * (probeRef / (if (t._4 > 0) t._4 else probeBase)))
      .sum
    val probeMedian = median(all.map(_._4).filter(_ > 0))
    // Comparability gate: a run's cross-round number is honest only if
    // the box stayed as quiet DURING the run as it was at start (vs its
    // OWN idle baseline — box generations differ in absolute probe
    // speed; all recent boxes idle at ~0.22 vs the 0.154 reference).
    val comparable = probeMedian <= probeBase * 1.15
    // FULL per-entry evidence → bench_out.json (COMMITTED since round 7;
    // the driver's capture keeps only a ~2000-char tail of stdout, so the
    // file is the round's reproducible full bench record).
    val stateJson = streamStateRows
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // per-batch wall (warm/batches) and rows/sec from the warm median —
    // the numbers a streaming regression actually moves
    val warmByName = all.map(t => t._1 -> t._3).toMap
    // stream_dump_watch is excluded (streamRows 0): its "batches" are
    // file arrivals, not the nStreamBatches MemoryStream slices, so
    // warm/nStreamBatches would mislabel its per-batch figure
    val perBatchJson = streamStateRows.keys.toSeq
      .filter(k => warmByName.get(k).exists(_ > 0) &&
        streamRows.getOrElse(k, 0L) > 0)
      .map(k => "\"" + k + "\":" + r3(warmByName(k) / nStreamBatches))
      .mkString("{", ",", "}")
    val rowsPerSecJson = streamStateRows.keys.toSeq
      .filter(k => warmByName.get(k).exists(_ > 0) &&
        streamRows.getOrElse(k, 0L) > 0)
      .map(k => "\"" + k + "\":" +
        r3(streamRows(k) / warmByName(k)))
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${jmap(all, _._2)},"warm":${jmap(all, _._3)},"total_warm":${r3(totalWarm)},"total_norm":${r3(totalNorm)},"total_warm_norm":${r3(totalWarmNorm)},"total_warm_norm_pe":${r3(totalWarmNormPe)},"probe_median_sec":${r3(probeMedian)},"comparable":$comparable,"probe_ref_sec":${r3(probeRef)},"probe":${jmap(all, _._4)},"io_probe":${jmap(all, _._5)},"probe_base_sec":${r3(probeBase)},"io_probe_base_sec":${r3(ioBase)},"noisy":$noisy,"probe_st_sec":${r3(probeSt)},"probe_mt_sec":${r3(probeMt)},"stream_batches":$nStreamBatches,"stream_state_rows":$stateJson,"stream_per_batch_sec":$perBatchJson,"stream_rows_per_sec":$rowsPerSecJson,"n_entries":${all.size},"sf":"$sfDir"}"""
    // Full-output path is overridable so judge/dev targeted runs don't
    // clobber the committed round artifact in cwd (round-15 housekeeping
    // note: a judging re-run overwrote the driver's full per-entry map).
    val fullOut = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse("bench_out.json")
    Files.writeString(Paths.get(fullOut), full)
    // PRINTED line: must parse from the driver's 2000-char stdout tail
    // (BENCH_r06/r07 were parsed:null because the full map blew past it),
    // so it carries totals + the baseline-comparable sync entries + a
    // fixed headline subset, and points at bench_out.json for the rest.
    val headline = Set(
      "sync_dump_diff", "sync_bucketed_snapshot", "sync_bucketed_rediff",
      "q01_scan_filter", "q02_agg_pricing", "q03_join_agg", "q06_table_diff",
      "q07_last_wins_dedup", "q22_dedup_minhash_lsh", "q41_sessionize",
      "q54_simhash_neardup", "q58_bm25", "q76_dedup_survivors",
      "q80_pagerank", "q100_star_join", "q117_range_join_keyless")
    val head = all.filter(t => headline.contains(t._1))
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${jmap(head, _._2)},"warm":${jmap(head, _._3)},"total_warm":${r3(totalWarm)},"total_norm":${r3(totalNorm)},"total_warm_norm":${r3(totalWarmNorm)},"total_warm_norm_pe":${r3(totalWarmNormPe)},"probe_median_sec":${r3(probeMedian)},"comparable":$comparable,"probe_ref_sec":${r3(probeRef)},"probe_base_sec":${r3(probeBase)},"noisy":$noisy,"n_entries":${all.size},"full":"$fullOut","sf":"$sfDir"}"""
    // CONTRACT (r17 hardening; BENCH_r15 was parsed:null driver-side):
    // the headline JSON must be (a) ONE physical line, (b) the LAST
    // stdout line before exit so it sits inside any tail capture, and
    // (c) short enough (< ~1800 chars) that a 2000-char tail holds it
    // whole. It is ALSO persisted to bench_line.json next to the full
    // map so a truncated/garbled stdout capture can never lose the
    // round's result — a parser that misses the stdout line can read
    // the file instead.
    require(!line.contains("\n") && line.length < 1800,
      s"bench line contract violated: len=${line.length}")
    Files.writeString(
      Paths.get(fullOut).toAbsolutePath.resolveSibling("bench_line.json"),
      line)
    // stop BEFORE printing: shutdown logging can't land between the JSON
    // line and process exit, so the line stays inside any tail capture
    spark.stop()
    println(line)
    System.out.flush()
  }
}
