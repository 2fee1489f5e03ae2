package graft.streaming

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.engine.{Differ, Ivm, Scd, SchemaDiff, SyncJob}
import graft.model.TableMeta
import graft.operators.ContentGate
import graft.sources.DumpSource

/** Incremental dump-directory sync (SURVEY.md §7.3): watch a directory
  * for arriving full-dump files; each micro-batch diffs the newest dump
  * against the current target snapshot and appends the net
  * INSERT/UPDATE/DELETE ops to an op log, then advances the snapshot —
  * the reference's two-snapshot batch semantics, repeated per arrival.
  *
  * State layout (all parquet under `stateDir`):
  *   snapshot_v<N>/   records of the last-applied dump: (table, pk,
  *                    ord_off, ord_row, vals, ver_from) — the script
  *                    order keys of [[graft.engine.SyncJob.records]]
  *                    and the start of each row's open SCD-2 run
  *   catalog_snapshot_v<N>/       that dump's catalog sidecar
  *   stats_snapshot_v<N>/         maintained per-table row counts
  *   history_open_snapshot_v<N>/  open SCD-2 runs (the snapshot's
  *                                table, pk, vals, ver_from; ver_to NULL)
  *   history_closed/  append-only closed SCD-2 runs
  *   LATEST           text file naming the current snapshot version
  *   LATEST_DUMP      text file naming the last-applied dump file (read
  *                    only to upgrade a snapshot without order keys)
  *   ops/             append-only op log with batch_id + source file
  *   schema_changes/  column-level DDL drift between consecutive arrivals
  *   scripts/         per-arrival full sync scripts, byte-identical to
  *                    the batch CLI run on (arrival, previous arrival)
  *
  * Scale: each arriving dump is parsed once, and ONE record diff
  * ([[graft.engine.Differ.classify]] on (table, pk) over `vals`) of it
  * against the snapshot feeds everything the arrival writes; the
  * previous dump is never re-read. Snapshots are plain parquet
  * (partitionable by table), and the stream source only carries file
  * *metadata* — dump bytes are read by the splittable DumpSource, never
  * through the stream.
  */
object DumpWatchSync {

  // All driver-side state I/O (LATEST markers, vacuum, script
  // concatenation) goes through Hadoop FileSystem, exactly like the
  // parquet state Spark itself writes — a stateDir on HDFS/S3A works
  // end-to-end, not just the data files.
  private def fileSystem(dir: String): FileSystem =
    new HPath(dir).getFileSystem(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf())
        .getOrElse(new org.apache.hadoop.conf.Configuration()))

  private def readLatest(stateDir: String): Option[String] =
    ContentGate.readSmall(stateDir, "LATEST").map(_.trim)

  private def readLatestDump(stateDir: String): Option[String] =
    ContentGate.readSmall(stateDir, "LATEST_DUMP").map(_.trim)

  /** Diff one arriving dump against the snapshot; append the net ops to
    * the op log and advance the snapshot. With `emitScripts`, also write
    * the full sync script of (arriving dump, previous dump) to
    * `stateDir/scripts/` — byte-identical to the batch CLI's output on
    * the same pair (DumpWatchSyncSpec asserts it).
    */
  def processDump(spark: SparkSession, dumpPath: String, stateDir: String,
      batchId: Long, emitScripts: Boolean = true,
      scriptTs: String = "STREAM"): Unit =
    processBatch(spark, Seq(dumpPath), stateDir, batchId, emitScripts, scriptTs)

  /** Process one micro-batch of arrivals (oldest first):
    *
    *  - per-arrival SCRIPTS: one per consecutive (previous, arriving)
    *    pair, each byte-identical to the batch CLI on that pair, rendered
    *    in order from the pair's record diff. The first pair's backup
    *    side is the snapshot, each later pair's the previous arrival's
    *    records;
    *  - the snapshot / op-log / stats / SCD-2 advance is COALESCED to
    *    latest-wins: all of it reads one diff of (newest dump, snapshot) —
    *    for a single arrival, its script's diff. The op log then carries
    *    the burst's NET row changes (a row inserted by dump 2 and deleted
    *    by dump 5 never surfaces), which is exactly the semantics of
    *    diffing snapshots — the intermediate dumps were never "current"
    *    for any downstream reader;
    *  - schema drift stays per consecutive pair (the alert channel must
    *    not skip a migration that appeared and was reverted mid-burst).
    *
    * Each arriving dump's statement scan is read once and cached: its
    * catalog, its records and its drift baseline all come from it. The
    * first arrival diffs against an empty snapshot.
    */
  def processBatch(spark: SparkSession, dumpPaths: Seq[String],
      stateDir: String, batchId: Long, emitScripts: Boolean = true,
      scriptTs: String = "STREAM"): Unit = {
    if (dumpPaths.isEmpty) return
    val job = new SyncJob(spark)
    // per-batch caches are released even when a stage throws — a batch
    // API caller catching the failure must not accumulate orphaned
    // cached frames across retries
    val held = ArrayBuffer[Dataset[_]]()
    def cached[T](ds: Dataset[T]): Dataset[T] = {
      held += ds
      ds.persist(StorageLevel.MEMORY_AND_DISK)
    }
    def release(ds: Seq[Dataset[_]]): Unit =
      ds.foreach { d => d.unpersist(); held -= d }
    def diff(prod: DataFrame, backup: DataFrame): DataFrame =
      cached(Differ.classify(prod, backup, Seq("table", "pk"), Seq("vals")))
    try {
      val latest = readLatest(stateDir)
      val snapshot = latest.map(previous(spark, job, stateDir, _, cached(_)))
      // the next pair's backup side (catalog, records), its diff, and the
      // caches of the arrival before it
      var backup = snapshot
      var pair = Option.empty[DataFrame]
      var older = Seq.empty[Dataset[_]]
      val burst = dumpPaths.size > 1
      dumpPaths.zipWithIndex.foreach { case (path, i) =>
        val stmts = cached(DumpSource.statements(spark, path))
        val info = job.catalogInfo(stmts)
        // a burst reads each arrival's records twice: as production of
        // its own pair and as backup of the next
        val recs = job.records(stmts, info.metas)
        val kept = if (burst) cached(recs) else recs
        // schema-drift log: column-level DDL changes (engine.SchemaDiff —
        // added/dropped/retyped columns, PK changes) appended to
        // `stateDir/schema_changes/`, the alert channel that surfaces an
        // unreviewed migration the moment it lands
        for ((backupCat, _) <- backup) {
          val changes = SchemaDiff.changes(info.metas, backupCat)
          if (changes.nonEmpty) {
            import spark.implicits._
            changes.toDF()
              .withColumn("batch_id", lit(batchId))
              .withColumn("source_file", lit(path))
              .write.mode(SaveMode.Append).parquet(s"$stateDir/schema_changes")
          }
        }
        pair = for ((backupCat, backupRecs) <- backup if emitScripts) yield {
          val d = diff(kept, backupRecs)
          // scripts are numbered by pair along (snapshot, arrivals...)
          val n = i + snapshot.size - 1
          writeScript(job, stateDir, f"b$batchId%05d_$n%03d", path, info,
            backupCat, d, scriptTs)
          d
        }
        // rendered: the previous arrival's caches go, and a burst's pair
        // diff too (the state diff below is its own)
        release((if (burst) pair.toSeq else Nil) ++ older)
        older = Seq(kept, stmts)
        backup = Some(info.metas -> kept)
      }
      val (cat, recs) = backup.get
      val base = snapshot.fold( // the first arrival's: empty
        recs.limit(0).withColumn("ver_from", lit(null).cast("long")))(_._2)
      val state = pair.filterNot(_ => burst).getOrElse(diff(recs, base))
      writeState(spark, stateDir, latest, batchId, dumpPaths.last, cat, state)
    } finally held.reverseIterator.foreach(_.unpersist())
  }

  /** The current snapshot as the backup side of the next diff: its
    * catalog from the `catalog_<version>` sidecar, and its records with
    * their order keys and SCD-2 run starts. A snapshot written before
    * those columns were stored holds only (table, pk, vals): its records
    * come from one re-parse of `LATEST_DUMP`, their run starts from
    * `history_open_<version>`, and a state dir from before catalog
    * sidecars takes the catalog from that parse too.
    */
  private def previous(spark: SparkSession, job: SyncJob, stateDir: String,
      version: String, cached: DataFrame => DataFrame)
      : (ListMap[String, TableMeta], DataFrame) = {
    val snap = spark.read.parquet(s"$stateDir/$version")
    val sidecar = s"$stateDir/catalog_$version"
    if (snap.columns.contains("ver_from"))
      (SyncJob.readCatalog(spark, sidecar)._1, snap)
    else {
      val dump = readLatestDump(stateDir).getOrElse(throw new IllegalStateException(
        s"$stateDir/$version stores no order keys and LATEST_DUMP is missing"))
      val stmts = DumpSource.statements(spark, dump)
      val cat =
        if (fileSystem(stateDir).exists(new HPath(sidecar)))
          SyncJob.readCatalog(spark, sidecar)._1
        else job.catalog(stmts)
      val starts = spark.read.parquet(s"$stateDir/history_open_$version")
        .select("table", "pk", "ver_from")
      (cat, cached(job.records(stmts, cat).join(starts, Seq("table", "pk"), "left")))
    }
  }

  /** One pair's script, rendered from its record diff into `scripts/`
    * through the sync core's summary and size-routed sink. Only the
    * parts route stages text parts, under `_script_parts/`, and
    * concatenates them.
    */
  private def writeScript(job: SyncJob, stateDir: String, tag: String,
      prodPath: String, prod: SyncJob.CatalogInfo,
      backupCat: ListMap[String, TableMeta], diff: DataFrame,
      now: String): Unit = {
    val target = s"$stateDir/scripts/sync_${tag}_${new HPath(prodPath).getName}.sql"
    val d = job.summarize(prodPath, Nil)((prod,
      SyncJob.CatalogInfo(backupCat, None, Map.empty),
      common => diff.filter(col("table").isInCollection(common))))
    job.syncAuto(d, target, s"$stateDir/_script_parts/$tag", now,
      SyncJob.DefaultMaxCollectedOps)
      .foreach(writeConcatenated(fileSystem(stateDir), _, target))
  }

  /** Everything an arrival writes, from its one diff `state` of (newest
    * dump, snapshot): the op log, the maintained stats, the SCD-2 runs
    * and the next snapshot, then the markers.
    */
  private def writeState(spark: SparkSession, stateDir: String,
      latest: Option[String], batchId: Long, dumpPath: String,
      cat: ListMap[String, TableMeta], state: DataFrame): Unit = {
    val ops = state.filter(col("op").isNotNull)
    ops.select(col("table"), col("pk"), col("op"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("source_file", lit(dumpPath))
      .write.mode(SaveMode.Append).parquet(s"$stateDir/ops")

    // maintained per-table row counts (engine.Ivm): advanced from the op
    // delta alone — O(changed rows) per arrival, no snapshot rescan. A
    // state dir without a previous stats version counts the arrival.
    val prevStats = latest.map(v => s"$stateDir/stats_$v")
      .filter(p => fileSystem(stateDir).exists(new HPath(p)))
    val newStats = prevStats match {
      case Some(p) =>
        val dn = ops.groupBy(col("table").as("g"))
          .agg(sum(when(col("op") === Differ.OP_INSERT, 1L)
            .when(col("op") === Differ.OP_DELETE, -1L)
            .otherwise(0L)).as("dn"))
        Ivm.maintainCounts(spark.read.parquet(p), dn)
      case None =>
        state.filter(col("p_present").isNotNull)
          .groupBy(col("table").as("g")).agg(count(lit(1)).as("n"))
    }
    newStats.write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/stats_snapshot_v$batchId")

    // maintained SCD-2 history (engine.Scd.outcome): the snapshot's rows
    // carry their open run's start, so the one diff is also the SCD-2
    // step — O(snapshot) per batch, never a rescan of the version stack.
    // Runs CLOSED this batch append to an immutable log (closed runs
    // never change again), and the open runs, with the arrival's order
    // keys, are the next snapshot. Full history = history_closed ∪
    // history_open_<latest>. The CLI's stack replay
    // (Scd.historyFromState) stays the manifest-free fallback;
    // watcher-fed state dirs keep both paths equal (ScdSpec pins it).
    val runs = Scd.outcome(state, batchId, Seq("table", "pk"), Seq("vals"),
      carry = Seq("ord_off", "ord_row"))
    runs.filter(col("ver_to").isNotNull).drop("ord_off", "ord_row")
      .write.mode(SaveMode.Append).parquet(s"$stateDir/history_closed")
    val open = runs.filter(col("ver_to").isNull)
    val newVersion = s"snapshot_v$batchId"
    open.select("table", "pk", "ord_off", "ord_row", "vals", "ver_from")
      .write.mode(SaveMode.Overwrite).parquet(s"$stateDir/$newVersion")
    open.drop("ord_off", "ord_row").write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/history_open_$newVersion")

    ContentGate.writeSmall(stateDir, "LATEST_DUMP", dumpPath)
    // catalog sidecar: the next batch's backup catalog and schema-drift
    // baseline (written before LATEST so a reader of the new LATEST
    // always finds its catalog)
    SyncJob.writeCatalog(spark, s"$stateDir/catalog_$newVersion", cat)
    ContentGate.writeSmall(stateDir, "LATEST", newVersion)
  }

  /** Reclaim superseded per-version state. Every arrival writes a full
    * `snapshot_v<N>`, `stats_snapshot_v<N>` and
    * `history_open_snapshot_v<N>`, so a long-running watcher's state dir
    * grows by O(table size) per dump — the operational scale-killer for
    * a 100 TB deployment. Only the newest `keepLast` of each family is
    * read going forward (the diff consumes LATEST only), and no history
    * is lost: the append-only `history_closed` log plus the newest open
    * frame are a LOSSLESS SCD-2 encoding of every vacuumed snapshot —
    * [[graft.engine.Scd.snapshotAt]] reconstructs any deleted version
    * row-for-row (DumpWatchSyncSpec pins it). The audit logs (`ops/`,
    * `scripts/`, `schema_changes/`) are never touched. Returns the
    * deleted directory names.
    */
  def vacuum(stateDir: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val latest = readLatest(stateDir) // never delete the live snapshot
    // Protect by pinned version NUMBER, not directory name: when LATEST
    // pins a version older than keepLast reaches, a name-only guard kept
    // `snapshot_vN` but reclaimed its `catalog_snapshot_vN` /
    // `stats_snapshot_vN` / `history_open_snapshot_vN` siblings — the
    // catalog sidecar exists precisely to amortize the previous dump's
    // re-parse, so deleting the pinned version's sidecar is the perf
    // pothole round 15 flagged (degrades gracefully to a re-parse, but
    // needlessly).
    val pinnedVersion: Option[Long] =
      latest.flatMap(_.stripPrefix("snapshot_v").toLongOption)
    val fsys = fileSystem(stateDir)
    val root = new HPath(stateDir)
    val entries: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fsys.exists(root)) fsys.listStatus(root).toSeq else Seq.empty
    def versioned(prefix: String): Seq[(Long, HPath)] = entries
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .flatMap(st => st.getPath.getName.stripPrefix(prefix).toLongOption
        .map(_ -> st.getPath))
    Seq("snapshot_v", "stats_snapshot_v", "history_open_snapshot_v",
      "catalog_snapshot_v")
      .flatMap { prefix =>
        versioned(prefix).sortBy(-_._1).drop(keepLast)
          .filterNot { case (v, _) => pinnedVersion.contains(v) }
          .map { case (_, p) => fsys.delete(p, true); p.getName }
      }
  }

  /** Concatenate a text sink's sorted part files into one script file,
    * dropping the sink's trailing newline so the bytes equal
    * SyncSqlGenerator.assemble's output; the parts dir is removed.
    * Streams file-to-file — never holds the script in driver memory —
    * and copies exactly (total − 1) bytes instead of truncating after
    * the fact: Hadoop FileSystems (S3A in particular) have no truncate,
    * and the part lengths are already in the listing.
    */
  private def writeConcatenated(fsys: FileSystem, partsDir: String,
      target: String): Unit = {
    val parts = fsys.listStatus(new HPath(partsDir)).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    // raw (checksum-free) create: the scripts dir is a user-facing
    // output consumed by external glob — no hidden .sql.crc sidecars
    val out = graft.operators.ContentGate.rawFs(fsys)
      .create(new HPath(target), true)
    try {
      // drop the text sink's final '\n' for byte parity with assemble()
      var remaining = math.max(0L, parts.map(_.getLen).sum - 1)
      val buf = new Array[Byte](1 << 20)
      parts.foreach { st =>
        if (remaining > 0) {
          val in = fsys.open(st.getPath)
          try {
            var r = in.read(buf)
            while (r > 0 && remaining > 0) {
              val w = math.min(r.toLong, remaining).toInt
              out.write(buf, 0, w)
              remaining -= w
              r = if (remaining > 0) in.read(buf) else -1
            }
          } finally in.close()
        }
      }
    } finally out.close()
    fsys.delete(new HPath(partsDir), true)
    ()
  }

  /** Start watching `watchDir` for *.sql dump arrivals. */
  def start(spark: SparkSession, watchDir: String, stateDir: String,
      emitScripts: Boolean = true, scriptTs: String = "STREAM"): StreamingQuery = {
    fileSystem(stateDir).mkdirs(new HPath(stateDir))
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.sql")
      .load(watchDir)
      .select("path", "modificationTime")
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val files = batch.select("path", "modificationTime")
          .collect()
          .sortBy(r => (r.getTimestamp(1).getTime, r.getString(0)))
          .map(_.getString(0).stripPrefix("file:"))
        processBatch(spark, files.toSeq, stateDir, batchId,
          emitScripts, scriptTs)
        // the batch's state + scripts are committed — release anything
        // an operator deferred, so a long-lived watcher never
        // accumulates caches the host has no other channel to drain
        graft.PendingRelease.drain()
      }
      .start()
  }
}
