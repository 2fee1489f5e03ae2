package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** Streaming near-duplicate detection against a standing corpus index —
  * the ingest-time dedup gate of a training-data pipeline: every arriving
  * micro-batch of documents is probed for near-dups (MinHash-LSH,
  * exact-Jaccard verified) against everything ingested so far, then
  * joins the index itself.
  *
  * State layout (parquet under `stateDir`), **keyed by the stream's
  * batchId** so every write is an idempotent overwrite:
  *
  *   docs/batch=N/   (id, bk, toks, sz) — the batch's documents: LSH band
  *                   keys (probe side) + distinct-shingle array and size
  *                   (verify side); toks is null for docs shorter than
  *                   the shingle width (banded via the whole-text
  *                   fallback, dropped at verify — the batch operator's
  *                   convention)
  *   pairs/batch=N/  (id_a, id_b, jac) — the pairs detected BY batch N
  *   _commits/N      empty marker, created only after both of batch N's
  *                   outputs are fully written — the corpus manifest
  *
  * Restart semantics: a batch replayed after a crash re-writes
  * `docs/batch=N` and `pairs/batch=N` with `SaveMode.Overwrite` and
  * re-creates its marker, so replay is exactly-once at the directory
  * level — no directory diffing, no appends, no double rows. The
  * pre-batch corpus is *derived from the manifest* (`_commits` entries
  * with id < N), never from listing data files, so the layout works on
  * any Hadoop `FileSystem` (HDFS, S3A, local) regardless of committer or
  * part-file naming. A stateDir written by the pre-batchId layout (flat
  * `docs/` appends, or the older `shingles/`+`bands/` split) is detected
  * and refused loudly — resuming over it would silently present an empty
  * corpus and lose every cross-batch pair.
  *
  * Scale: per batch the candidate join fans out ONLY from the fresh
  * documents' band buckets — the fresh side (arrival-sized) is broadcast
  * and the standing corpus streams through ONE scan per batch, so cost
  * tracks corpus-scan + arrival size, never corpus×corpus, and the index
  * grows by O(batch) per batch. For the 100 TB steady state, [[compact]]
  * periodically rewrites the per-batch docs dirs into a BAND-BUCKETED
  * corpus projection (`docs_compacted/upto=N/bucket=K`, exploded band
  * rows hive-partitioned by a hash of the band key) named by a second
  * manifest (`_compactions/N`): the probe then statically prunes the
  * compacted corpus to the buckets the arrival's own band keys touch
  * (one bounded driver collect, ≤ `buckets` ids) and scans raw per-batch
  * dirs only for batches newer than the compaction — the per-batch
  * protocol is otherwise unchanged. Compaction is itself incremental
  * (previous projection ∪ newer raw dirs) and retains the NEWEST TWO
  * projections, sweeping older ones: the second-newest is the replay
  * floor — a batch the engine replays after a crash between its
  * foreachBatch commit and the stream checkpoint commit needs a
  * projection strictly OLDER than itself, and an out-of-band compact
  * must never delete a projection an in-flight probe already selected.
  * Correspondingly, raw batch dirs at or below the SECOND-NEWEST
  * committed compaction's high-water mark may be vacuumed (with a
  * single committed compaction, nothing is) — the newest projection's
  * raw coverage stays replayable for one more compaction cycle.
  *
  * Each unordered pair is detected exactly once: by the batch that
  * delivers its later member (same-batch pairs via fresh×fresh) — the
  * spec pins the accumulated pair set equal to the batch operator
  * ([[graft.operators.Dedup.minhashLshPairs]]) over the full corpus.
  */
object StreamingDedup {

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Batch ids committed so far, from the `_commits` markers. */
  def committedBatches(spark: SparkSession, stateDir: String): Seq[Long] = {
    val fs = fileSystem(spark, stateDir)
    val d = new HPath(s"$stateDir/_commits")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted
  }

  /** All pairs detected so far (the accumulated gate output). */
  def pairs(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = committedBatches(spark, stateDir)
      .map(n => s"$stateDir/pairs/batch=$n")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id_a BIGINT, id_b BIGINT, jac DOUBLE")
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
      .select("id_a", "id_b", "jac")
  }

  /** The per-batch docs schema (explicit everywhere a batch dir is read
    * back — schema inference over N batch dirs grows with corpus age).
    */
  private val docsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, " +
      "bk ARRAY<STRUCT<band: INT, band_key: STRING>>, " +
      "toks ARRAY<BIGINT>, sz BIGINT")

  /** Compaction ids committed so far (each upTo-batch id named by a
    * `_compactions/N=buckets` marker); returns (upTo, buckets) pairs.
    */
  def committedCompactions(spark: SparkSession,
      stateDir: String): Seq[(Long, Int)] = {
    val fs = fileSystem(spark, stateDir)
    val d = new HPath(s"$stateDir/_compactions")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .flatMap { n =>
        n.split("=", 2) match {
          case Array(u, b) if u.forall(_.isDigit) && b.forall(_.isDigit) =>
            Some((u.toLong, b.toInt))
          case _ => None
        }
      }.sortBy(_._1)
  }

  /** Fold the corpus into the band-bucketed projection
    * `docs_compacted/upto=N/bucket=K` (K = pmod(hash48(band_key),
    * buckets)) and commit it under `_compactions/N=buckets` —
    * INCREMENTALLY: each run reads the previous projection plus only
    * the raw batch dirs newer than it, so with compactEvery=1 the
    * steady-state raw read is one batch, not the whole corpus, and raw
    * `docs/batch=n` dirs at or below the SECOND-NEWEST committed
    * compaction's high-water mark are free to vacuum (compact never
    * reads below the newest; the probe's replay floor is the
    * second-newest — see the retention note below; `pairs/` and
    * `_commits/` are untouched either way).
    *
    * Retention: each run start-sweeps down to the newest two
    * projections, then writes its own — so disk holds at most three
    * (the keep-two replay window plus the one just written), never one
    * per compaction. The just-superseded projection is
    * deliberately NOT swept at commit time, for two reasons. (a) Replay
    * safety: the stream engine can replay batch N after a crash between
    * N's foreachBatch commit and the checkpoint commit; N's probe needs
    * a compaction with upTo < N, which right after a compaction at
    * upTo=N is exactly the second-newest — sweeping it would strand the
    * replay on raw dirs the vacuum contract just blessed deleting.
    * (b) Concurrent maintenance: an out-of-band compact racing an
    * in-flight processBatch that already selected the then-newest
    * projection must not delete files that probe reads lazily during
    * its pairs write. Compact runs must be serialized with EACH OTHER
    * (one maintenance scheduler — two concurrent compacts race on the
    * same projection dirs); racing processBatch is safe under keep-two.
    *
    * Run between batches (a maintenance job, or every K micro-batches
    * from the foreachBatch driver). Idempotent: re-running at the same
    * high-water mark only sweeps stale projections; a crash before the
    * marker replays as an overwrite. Only verify-able docs are written
    * (short docs can never pair — the batch operator's convention).
    *
    * A pre-round-15 FLAT projection (toks riding every band row, no
    * bands/+arr/ split) can be neither probed nor incrementally folded:
    * it is rebuilt from the raw dirs it covers (which the old contract
    * kept) — if those were vacuumed, compact refuses loudly rather than
    * present a partial corpus.
    *
    * The projection is SPLIT so band rows never carry verify arrays:
    * `bands/bucket=K` holds (id, sz, band, band_key) — tens of bytes a
    * row — and `arr/ab=K` (K = pmod(id, buckets)) holds each doc's toks
    * ONCE. The first cut of this projection rode toks on every band
    * row; the gate bench measured its probe ~1.5× SLOWER than scanning
    * the raw dirs it replaced — `bands`× read amplification of exactly
    * the fat column — so candidates now join light band rows and only
    * the SURVIVING candidate ids resolve their arrays from arr/.
    */
  /** True iff the projection at `upTo` has the round-15 split layout
    * (bands/ + arr/ subdirs) — the only layout this version reads.
    */
  private def projectionUsable(fs: FileSystem, stateDir: String,
      upTo: Long): Boolean =
    fs.exists(new HPath(s"$stateDir/docs_compacted/upto=$upTo/bands")) &&
      fs.exists(new HPath(s"$stateDir/docs_compacted/upto=$upTo/arr"))

  /** The committed batch ids ≤ `upTo` whose raw docs dir no longer
    * exists (vacuumed) — empty means the raw corpus below the mark is
    * still fully readable without the projection.
    */
  private def vacuumedBelow(fs: FileSystem, stateDir: String,
      batches: Seq[Long], upTo: Long): Seq[Long] =
    batches.filter(_ <= upTo)
      .filterNot(n => fs.exists(new HPath(s"$stateDir/docs/batch=$n")))

  def compact(spark: SparkSession, stateDir: String,
      buckets: Int = 64): Unit = {
    require(buckets > 0, s"buckets: $buckets")
    val fs = fileSystem(spark, stateDir)
    val batches = committedBatches(spark, stateDir)
    if (batches.isEmpty) return
    val upTo = batches.max
    val comps0 = committedCompactions(spark, stateDir)
    // legacy (pre-split) projections: rebuild from the raw dirs they
    // cover instead of folding a layout this version can't read — and
    // refuse loudly if those raw dirs were vacuumed under the old
    // contract (the corpus below the mark would exist only in the
    // unreadable layout; silently folding without it would present a
    // partial corpus and lose pairs)
    val (comps, legacy) =
      comps0.partition(c => projectionUsable(fs, stateDir, c._1))
    legacy.foreach { case (u, b) =>
      val missing = vacuumedBelow(fs, stateDir, batches, u)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"$stateDir holds a legacy-layout compaction upto=$u (no " +
            "bands/+arr/ split) and raw batch dirs " +
            s"${missing.mkString(",")} under its high-water mark were " +
            "vacuumed — the corpus below the mark exists only in a " +
            "layout this version cannot read. Restore the raw dirs or " +
            "re-ingest through a fresh stateDir.")
      fs.delete(new HPath(s"$stateDir/docs_compacted/upto=$u"), true)
      fs.delete(new HPath(s"$stateDir/_compactions/$u=$b"), false)
    }
    val last = comps.lastOption // newest usable (upTo, buckets), if any
    // Keep-two sweep: reclaim projections older than the newest two
    // (crash leftovers and generations the replay floor has moved past).
    comps.dropRight(2).foreach { case (u, b) =>
      fs.delete(new HPath(s"$stateDir/docs_compacted/upto=$u"), true)
      fs.delete(new HPath(s"$stateDir/_compactions/$u=$b"), false)
    }
    if (last.exists(_._1 >= upTo)) return
    import graft.functions.Portable
    // INCREMENTAL: fold only the raw batch dirs newer than the previous
    // projection into it — per compaction the raw read is O(new
    // batches), never a re-explode of the whole corpus, and raw dirs
    // covered by a committed compaction are free to vacuum (compact
    // never reads below its high-water mark).
    val newDirs = batches.filter(n => last.forall(n > _._1))
      .map(n => s"$stateDir/docs/batch=$n")
    val newDocs = spark.read.schema(docsSchema).parquet(newDirs: _*)
      .filter(col("toks").isNotNull && col("sz") > 0)
    val newBands = newDocs
      .select(col("id"), col("sz"), explode(col("bk")).as("e"))
      .select(col("id"), col("sz"),
        col("e.band").as("band"), col("e.band_key").as("band_key"),
        pmod(Portable.hash48(col("e.band_key")), lit(buckets.toLong))
          .as("bucket"))
    val newArr = newDocs.select(col("id"), col("toks"), col("sz"),
      pmod(col("id"), lit(buckets.toLong)).as("ab"))
    val (allBands, allArr) = last match {
      case None => (newBands, newArr)
      case Some((u, b)) =>
        // partition-value inference reads the dir names as int; the
        // fresh rows carry pmod's long — align before union
        val prevBands = spark.read
          .parquet(s"$stateDir/docs_compacted/upto=$u/bands")
          .select(col("id"), col("sz"), col("band"), col("band_key"),
            col("bucket").cast("long").as("bucket"))
        val prevArr = spark.read
          .parquet(s"$stateDir/docs_compacted/upto=$u/arr")
          .select(col("id"), col("toks"), col("sz"),
            col("ab").cast("long").as("ab"))
        if (b == buckets) (prevBands.unionByName(newBands),
          prevArr.unionByName(newArr))
        else (prevBands.drop("bucket")
            .withColumn("bucket",
              pmod(Portable.hash48(col("band_key")), lit(buckets.toLong)))
            .unionByName(newBands),
          prevArr.drop("ab")
            .withColumn("ab", pmod(col("id"), lit(buckets.toLong)))
            .unionByName(newArr))
    }
    allBands
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"$stateDir/docs_compacted/upto=$upTo/bands")
    allArr
      .repartition(col("ab"))
      .write.mode(SaveMode.Overwrite).partitionBy("ab")
      .parquet(s"$stateDir/docs_compacted/upto=$upTo/arr")
    fs.mkdirs(new HPath(s"$stateDir/_compactions"))
    fs.create(new HPath(s"$stateDir/_compactions/$upTo=$buckets"), true)
      .close()
    // NO sweep here: the projection `last` just became second-newest
    // and is KEPT — it is the replay floor and may be mid-read by a
    // concurrent probe (see the retention note above). The next run's
    // keep-two start-sweep reclaims anything older, by which time any
    // probe that could have selected it has finished its trigger.
  }

  /** Reclaim the raw `docs/batch=N` dirs the compaction contract
    * blesses deleting: those at or below the SECOND-NEWEST committed
    * compaction's high-water mark (the newest projection's raw coverage
    * stays replayable for one more compaction cycle — see [[compact]]'s
    * retention note). With fewer than two committed compactions, or a
    * legacy-layout projection in the keep-two window (its rebuild path
    * needs the raw dirs), nothing is reclaimed. `pairs/`, `_commits/`,
    * and the projections are never touched — the gate's output and
    * manifest survive; only probe inputs the projections supersede are
    * reclaimed. Returns the deleted dir names. Prefer running it from
    * the maintenance scheduler that runs [[compact]] (same
    * serialization contract); an out-of-band run (CLI `--gate-vacuum`
    * in its own JVM) racing an in-flight probe is TOLERATED — if it
    * reclaims raw dirs the probe's auto-policy already selected, the
    * probe's missing-path retry re-runs the trigger through the
    * projection (see [[processBatch]]'s retry wrapper) instead of
    * failing the streaming query.
    */
  def vacuum(spark: SparkSession, stateDir: String): Seq[String] = {
    val fs = fileSystem(spark, stateDir)
    val comps = committedCompactions(spark, stateDir).map(_._1)
    val window = comps.takeRight(2)
    if (window.size < 2 ||
        !window.forall(u => projectionUsable(fs, stateDir, u))) Seq.empty
    else {
      val floor = window.head
      committedBatches(spark, stateDir).filter(_ <= floor).flatMap { n =>
        val p = new HPath(s"$stateDir/docs/batch=$n")
        if (fs.exists(p)) { fs.delete(p, true); Some(s"docs/batch=$n") }
        else None
      }
    }
  }

  private def refuseLegacyLayout(spark: SparkSession, stateDir: String): Unit = {
    val fs = fileSystem(spark, stateDir)
    val legacySplit = fs.exists(new HPath(s"$stateDir/shingles")) ||
      fs.exists(new HPath(s"$stateDir/bands"))
    // pre-batchId flat layout: docs/ holds part files directly (no
    // batch= partition dirs) and there is no manifest
    val docs = new HPath(s"$stateDir/docs")
    val legacyFlat = !fs.exists(new HPath(s"$stateDir/_commits")) &&
      fs.exists(docs) && fs.listStatus(docs).exists(_.isFile)
    if (legacySplit || legacyFlat)
      throw new IllegalStateException(
        s"$stateDir holds a pre-batchId StreamingDedup state layout " +
          "(flat docs/ appends or shingles/+bands/); resuming over it " +
          "would silently present an empty corpus. Point the stream at " +
          "a fresh stateDir (or re-ingest the corpus through the gate).")
  }

  /** Probe one arriving batch against the pre-batch index, write its
    * pairs, then commit the batch into the index — all outputs keyed by
    * `batchId`, all writes idempotent overwrites.
    */
  /** Probe auto-policy knob: when the newest compaction covers at most
    * this many raw batch dirs AND those dirs still exist, the probe
    * scans them directly and skips the projection. Rationale, measured
    * (stream_gate_bench.json, both tiles): over a shallow corpus the
    * raw scan beats the projection by 0.5-1.5 s/batch — the
    * projection's arr-resolution step is pure overhead when the
    * arrival's band keys touch most buckets, and at ≥16-row arrivals
    * they statistically touch ≥50% of 64 buckets, so nothing prunes.
    * The projection wins once the raw corpus is DEEP (its probe cost is
    * bucket-pruned and independent of batch count; the raw scan pays
    * per-dir listing + footer opens that grow linearly and dominate on
    * object stores) or once the covered dirs are vacuumed (no choice).
    * The depth signal costs zero Spark jobs — a first cut keyed on
    * measured bucket coverage spent ~0.3-0.5 s/batch on the deciding
    * collect itself, wiping out the raw scan's win.
    */
  private val CompactedSkipDepth = 16

  /** Deterministic race-injection seam for the vacuum-retry spec: runs
    * after the corpus-source choice (rawIntact passed) and before the
    * chosen dirs are read — exactly the window an out-of-band
    * `--gate-vacuum` JVM can reclaim them in. No-op in production.
    */
  private[graft] var onCorpusChosen: () => Unit = () => ()

  // dev-only per-stage wall clock (GRAFT_SD_PROF=1): the gate's bench
  // entry is a single per-batch number; this decomposes it
  private val prof = sys.env.contains("GRAFT_SD_PROF")
  private def timed[A](label: String)(body: => A): A =
    if (!prof) body
    else {
      val t0 = System.nanoTime()
      val r = body
      System.err.println(f"[sd-prof] $label%-12s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
      batchId: Long, idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5): Unit = {
    if (timed("isEmpty")(batch.isEmpty)) return
    refuseLegacyLayout(spark, stateDir)
    import graft.functions.Portable
    val P = Portable.P
    // Fresh side computed ENTIRELY per-row — zero shuffles: the hashed
    // shingle array is bound ONCE per row behind a generator
    // (explode(array(...)) — projections don't collapse through
    // generators, so the tokenize→shingle→hash48 pipeline runs once,
    // not once per downstream reference — the ~20× trap documented on
    // graft.operators.Dedup.minhashSignatures), then each MinHash signature is an
    // array_min over the bound array and the band keys are plain
    // projections. Values are bit-identical to the grouped
    // minhashSignaturesFrom path (same per-element formula, min is
    // order-free; short docs fall back to hashing the whole lowercased
    // text exactly as there).
    val shArr = transform(
      Portable.shingles(Portable.tokens(col(textCol)), shingleN),
      s => Portable.hash48(s))
    // a micro-batch arrives with the source's partitioning (often one
    // block for a small trigger interval); the per-row shingle+minhash
    // pipeline is the gate's dominant compute, so balance it across the
    // executors first — the raw-text round trip is cheap next to 16
    // signature passes per document (measured: the unbalanced fresh-side
    // job was ~1.0 s/batch of the gate's 2.0, single-threaded)
    // parallelism = the session's shuffle-partition setting (the knob a
    // streaming deployment already sizes to its state volume), not raw
    // core count: each fresh partition becomes one docs/batch=N part
    // file, and a 32-way write of an arrival-sized batch pays 4× the
    // task/commit/file-open overhead of an 8-way one for zero compute win
    val spread = batch.repartition(
      spark.sessionState.conf.numShufflePartitions)
    val bound = spread.select(col(idCol).as("id"),
      lower(col(textCol)).as("_lt"), explode(array(shArr)).as("_toks"))
    val sigCols = (0 until numHashes).map { i =>
      def sig(h: Column) = (h % P * (i * 2 + 1) + lit(12289L) * i) % P
      when(size(col("_toks")) > 0,
        array_min(transform(col("_toks"), t => sig(t))))
        .otherwise(sig(Portable.hash48(col("_lt")))).as(s"s_$i")
    }
    val rpb = numHashes / bands
    val bandEntries = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_",
          (b * rpb until (b + 1) * rpb).map(i => col(s"s_$i")): _*)
          .as("band_key"))
    }
    // ONE per-doc state row: band keys (every doc — short docs band via
    // the whole-text fallback) plus the verify array (null toks for
    // short docs, dropped at verify exactly as the batch operator drops
    // sh-absent docs)
    val docsF = bound
      .select(col("id") +: col("_toks").as("_toks") +: sigCols: _*)
      .select(col("id"), array(bandEntries: _*).as("bk"),
        when(size(col("_toks")) > 0, col("_toks")).as("toks"),
        size(col("_toks")).cast("long").as("sz"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      // The docs write and the pairs write are INDEPENDENT jobs — the
      // pairs plan takes its fresh side from the docsF cache, never from
      // the batch=N files — so they run concurrently and the marker
      // waits for both. The cache fills under whichever job touches a
      // partition first (CacheManager locks serialize the compute, the
      // two commits overlap). A crash before the marker replays the
      // batch as two overwrites, same as the sequential order.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val docsWriteF = Future(timed("docsWrite")(
        docsF.write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/docs/batch=$batchId")))
      // a pairs-side failure must still wait for the docs job before
      // the finally-unpersist pulls the cache out from under it
      def awaitDocs(): Unit = Await.result(docsWriteF, Duration.Inf)
      val allPrior = committedBatches(spark, stateDir).filter(_ < batchId)
      // docs too short to shingle band via the whole-text fallback but
      // are dropped at verify (batch-operator convention), so they can
      // never yield a pair — exclude them before the candidate join
      def verifiable(d: DataFrame): DataFrame =
        d.filter(col("toks").isNotNull && col("sz") > 0)
      def bandRows(d: DataFrame): DataFrame =
        verifiable(d)
          .select(col("id"), col("toks"), col("sz"), explode(col("bk")).as("e"))
          .select(col("id"), col("toks"), col("sz"),
            col("e.band").as("band"), col("e.band_key").as("band_key"))
      // candidates: fresh bands vs (corpus ∪ fresh) bands — identical
      // rule to graft.operators.Dedup.minhashLshPairsFromFrames. The
      // fresh side (arrival-sized) is broadcast and carries its verify
      // arrays through the join; the corpus streams through one scan,
      // its own arrays riding along — so band match, candidate dedup
      // and exact-Jaccard verify happen in a single pass with one
      // small exchange (the dropDuplicates).
      val freshB = bandRows(docsF)
      // --- corpus-source choice: the newest compaction covering only
      // batches before this one, bucket-pruned to the fresh band keys'
      // buckets — UNLESS (auto-policy) the compaction covers a SHALLOW
      // raw corpus that still exists, in which case the plain raw scan
      // wins (see CompactedSkipDepth). The rawIntact existence sweep is
      // O(covered dirs) RPCs, paid only at shallow depth — bounded by
      // the same constant that triggers it.
      val fsState = fileSystem(spark, stateDir)
      def rawIntact(upTo: Long): Boolean =
        vacuumedBelow(fsState, stateDir, allPrior, upTo).isEmpty
      def corpusChoice(forceProjection: Boolean)
          : Option[(Long, Int, Seq[Long])] =
        committedCompactions(spark, stateDir)
          .filter(_._1 < batchId).sortBy(_._1).lastOption
          .flatMap { case (upTo, b) =>
            if (!projectionUsable(fsState, stateDir, upTo)) {
              // legacy (pre-split) projection: probe the raw dirs it
              // covers if they survive, else fail with the real cause
              // rather than a bare path-not-found from the lazy read
              if (rawIntact(upTo)) None
              else throw new IllegalStateException(
                s"$stateDir holds a legacy-layout compaction " +
                  s"upto=$upTo (no bands/+arr/ split) and raw batch " +
                  "dirs under its high-water mark were vacuumed — the " +
                  "corpus below the mark exists only in a layout this " +
                  "version cannot read. Restore the raw dirs or " +
                  "re-ingest through a fresh stateDir.")
            } else if (!forceProjection &&
                allPrior.count(_ <= upTo) <= CompactedSkipDepth &&
                rawIntact(upTo)) {
              None
            } else {
              val touched = timed("touched")(freshB
                .select(pmod(Portable.hash48(col("band_key")),
                  lit(b.toLong)).as("bucket"))
                .distinct().collect().map(_.getLong(0)).toSeq)
              Some((upTo, b, touched))
            }
          }
      def writePairs(comp: Option[(Long, Int, Seq[Long])]): Unit = {
        onCorpusChosen()
        val compUpTo = comp.map(_._1).getOrElse(-1L)
        val corpusDirs = allPrior.filter(_ > compUpTo)
          .map(n => s"$stateDir/docs/batch=$n")
        // corpus side: compacted projection (bucket-pruned to the fresh
        // band keys' buckets — one bounded collect of ≤ buckets ids from
        // the cached fresh frame) ∪ raw dirs newer than the compaction.
        // Explicit schema on the raw read: footer inference would grow
        // with corpus age.
        // the bands projection is deliberately array-free (tens of bytes
        // a row), so the compacted corpus side rides NULL toks through
        // the candidate join; survivors resolve their arrays below
        val compRows = comp.map { case (upTo, _, touched) =>
          spark.read.parquet(s"$stateDir/docs_compacted/upto=$upTo/bands")
            .filter(col("bucket").isin(touched: _*))
            .select(col("id"), lit(null).cast("array<bigint>").as("toks"),
              col("sz"), col("band"), col("band_key"))
        }
        val rawRows =
          if (corpusDirs.isEmpty) None
          else Some(bandRows(
            spark.read.schema(docsSchema).parquet(corpusDirs: _*)))
        val rightB = (compRows.toSeq ++ rawRows.toSeq)
          .foldLeft(freshB)(_.unionByName(_))
        val candRaw = rightB.as("b")
          .join(broadcast(freshB).as("a"), Seq("band", "band_key"))
          .filter(col("a.id") =!= col("b.id"))
          .select(least(col("a.id"), col("b.id")).as("id_a"),
            greatest(col("a.id"), col("b.id")).as("id_b"),
            when(col("a.id") < col("b.id"), col("a.toks"))
              .otherwise(col("b.toks")).as("ta"),
            when(col("a.id") < col("b.id"), col("b.toks"))
              .otherwise(col("a.toks")).as("tb"),
            when(col("a.id") < col("b.id"), col("a.sz"))
              .otherwise(col("b.sz")).as("sz_a"),
            when(col("a.id") < col("b.id"), col("b.sz"))
              .otherwise(col("a.sz")).as("sz_b"))
          .dropDuplicates("id_a", "id_b")
        // Resolve the compacted-side survivors' verify arrays from the
        // arr/ store: candidates are arrival-bounded, so this is ONE
        // bounded collect (the unresolved ids' ab buckets, ≤ buckets
        // longs), a pruned scan of those buckets semi-joined against the
        // broadcast id set, and two broadcast left joins back onto the
        // candidate frame — toks bytes never enter a shuffle. The first
        // cut read toks off every compacted band row instead; the gate
        // bench measured that probe ~1.5× slower than the raw dirs it
        // replaced (`bands`× amplification of the fat column).
        val (candidates, candCleanup): (DataFrame, () => Unit) = comp match {
          case None => (candRaw, () => ())
          case Some((upTo, b, _)) =>
            // one cache, one collect, one broadcast build: cand is the
            // only persisted frame (two consumers + the collect); needIds
            // recomputes from the cand cache inside the broadcast (cheap
            // — the frame is candidate-sized), and the two resolution
            // joins reference the SAME broadcast subplan, renaming join
            // keys on the probe side, so ReuseExchange ships the arr
            // lookup once instead of scanning/building it twice
            val cand = candRaw.persist(StorageLevel.MEMORY_ONLY)
            def needIds = cand.select(explode(array(
                when(col("ta").isNull, col("id_a")),
                when(col("tb").isNull, col("id_b")))).as("id"))
              .filter(col("id").isNotNull).distinct()
            val touchedAb = needIds
              .select(pmod(col("id"), lit(b.toLong)).as("ab"))
              .distinct().collect().map(_.getLong(0)).toSeq
            if (touchedAb.isEmpty) {
              (cand, () => { cand.unpersist(); () })
            } else {
              val matched = broadcast(spark.read
                .parquet(s"$stateDir/docs_compacted/upto=$upTo/arr")
                .filter(col("ab").isin(touchedAb: _*))
                .join(broadcast(needIds), "id")
                .select(col("id").as("_rid"), col("toks").as("_rtoks")))
              val resolved = cand
                .join(matched, col("id_a") === col("_rid"), "left")
                .withColumn("ta", coalesce(col("ta"), col("_rtoks")))
                .drop("_rid", "_rtoks")
                .join(matched, col("id_b") === col("_rid"), "left")
                .withColumn("tb", coalesce(col("tb"), col("_rtoks")))
                .select("id_a", "id_b", "ta", "tb", "sz_a", "sz_b")
              (resolved, () => { cand.unpersist(); () })
            }
        }
        try timed("pairsWrite")(candidates
          // exact-Jaccard verify over the stored per-doc arrays: identical
          // values to the flat (id, shingle) join+count (the arrays ARE
          // the distinct shingle sets)
          .withColumn("inter",
            size(array_intersect(col("ta"), col("tb"))).cast("long"))
          .withColumn("jac", round(col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")), 4))
          .filter(col("jac") >= threshold)
          .select("id_a", "id_b", "jac")
          // pairs are arrival-sized (a few per batch, bounded by the
          // fresh side): one part file, not one per shuffle partition —
          // the commit/file-open overhead is the entry's floor at bench
          // scale and pure waste at any scale
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/pairs/batch=$batchId"))
        finally candCleanup()
      }
      // vacuum() may run from a maintenance scheduler in a SEPARATE
      // JVM (CLI --gate-vacuum), so the rawIntact probe and the lazy
      // read of the chosen raw dirs are not atomic: an out-of-band
      // vacuum can reclaim dirs the auto-policy already selected.
      // A missing-path failure on the raw route re-runs the whole
      // choose→read→write path ONCE with the projection forced —
      // safe because vacuum only reclaims dirs at or below the
      // SECOND-newest compaction's mark, which the newest usable
      // projection covers; raw dirs above it are never reclaimed.
      def missingPathIn(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists {
            case _: java.io.FileNotFoundException => true
            case a: org.apache.spark.sql.AnalysisException =>
              a.getMessage.contains("PATH_NOT_FOUND") ||
                a.getMessage.contains("Path does not exist")
            case _ => false
          }
      try {
        try writePairs(corpusChoice(forceProjection = false))
        catch {
          case e: Throwable if missingPathIn(e) &&
              committedCompactions(spark, stateDir)
                .filter(_._1 < batchId).sortBy(_._1).lastOption
                .exists { case (u, _) =>
                  projectionUsable(fsState, stateDir, u) } =>
            writePairs(corpusChoice(forceProjection = true))
        }
      } finally {
        Await.ready(docsWriteF, Duration.Inf)
        ()
      }
      awaitDocs()
      // marker LAST: the batch joins the corpus only once both outputs
      // are complete; a crash before this line replays the whole batch
      // as an overwrite
      timed("commit") {
        val fs = fileSystem(spark, stateDir)
        fs.mkdirs(new HPath(s"$stateDir/_commits"))
        fs.create(new HPath(s"$stateDir/_commits/$batchId"), true).close()
      }
    } finally docsF.unpersist(blocking = false)
  }

  /** Run the ingest gate over a streaming document frame.
    *
    * `compactEvery = Some(k)` runs [[compact]] after every k-th
    * committed batch (k ≥ 1), so the raw-dir tail the probe scans stays
    * bounded at k batches while everything older serves from the
    * bucket-pruned projection. Compaction happens AFTER the batch's
    * marker, outside its exactly-once window — a crash between the two
    * just re-compacts on the next trigger (idempotent).
    */
  def start(docs: DataFrame, stateDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, compactEvery: Option[Int] = None,
      compactBuckets: Int = 64): StreamingQuery = {
    require(compactEvery.forall(_ >= 1), s"compactEvery: $compactEvery")
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        timed("fb_total")(
          processBatch(batch.sparkSession, batch, stateDir, batchId, idCol,
            textCol, shingleN, numHashes, bands, threshold))
        compactEvery.foreach { k =>
          if ((batchId + 1) % k == 0)
            timed("compact")(
              compact(batch.sparkSession, stateDir, compactBuckets))
        }
        // the batch's outputs are committed — release anything an
        // operator deferred, so a long-lived stream never accumulates
        // caches the host has no other channel to drain
        graft.PendingRelease.drain()
      }
      .start()
  }
}
