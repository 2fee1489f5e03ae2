package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{Differ, SyncJob}
import graft.operators.ContentGate
import graft.sources.DumpSource

/** Incremental dump-directory sync (SURVEY.md §7.3): watch a directory
  * for arriving full-dump files; each micro-batch diffs the newest dump
  * against the current target snapshot and appends the net
  * INSERT/UPDATE/DELETE ops to an op log, then advances the snapshot —
  * the reference's two-snapshot batch semantics, repeated per arrival.
  *
  * State layout (all parquet under `stateDir`):
  *   snapshot_v<N>/   records of the last-applied dump (table, pk, vals)
  *   LATEST           text file naming the current snapshot version
  *   LATEST_DUMP      text file naming the last-applied dump file
  *   ops/             append-only op log with batch_id + source file
  *   scripts/         per-arrival full sync scripts, byte-identical to
  *                    the batch CLI run on (arrival, previous arrival)
  *
  * Scale: the per-batch work is the batch engine's one-shuffle record
  * diff ([[graft.engine.Differ.classify]] on (table, pk) over `vals`);
  * snapshots are plain parquet (partitionable by table), and the stream
  * source only carries file *metadata* — dump bytes are read by the
  * splittable DumpSource, never through the stream.
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

  /** Process one micro-batch of arrivals (oldest first). A burst of N
    * queued dumps used to serialize N full diff+snapshot+script jobs on
    * the driver; instead:
    *
    *  - per-arrival SCRIPTS keep their contract — one script per
    *    consecutive (previous, arriving) pair, each byte-identical to the
    *    batch CLI on that pair — but the N independent script jobs are
    *    submitted CONCURRENTLY (Spark schedules jobs from multiple
    *    driver threads fine; syncDistributed touches no session-level
    *    mutable state);
    *  - the snapshot / op-log / maintained-stats advance is COALESCED to
    *    latest-wins: one diff of (previous snapshot → newest dump). The
    *    op log then carries the burst's NET row changes (a row inserted
    *    by dump 2 and deleted by dump 5 never surfaces), which is
    *    exactly the semantics of diffing snapshots — the intermediate
    *    dumps were never "current" for any downstream reader;
    *  - schema drift stays per consecutive pair (the alert channel must
    *    not skip a migration that appeared and was reverted mid-burst).
    */
  def processBatch(spark: SparkSession, dumpPaths: Seq[String],
      stateDir: String, batchId: Long, emitScripts: Boolean = true,
      scriptTs: String = "STREAM"): Unit = {
    if (dumpPaths.isEmpty) return
    val job = new SyncJob(spark)
    val prevDump = readLatestDump(stateDir)
    val chain = prevDump.toSeq ++ dumpPaths

    if (emitScripts && chain.size >= 2) {
      val fsys = fileSystem(stateDir)
      fsys.mkdirs(new HPath(stateDir, "scripts"))
      val pairs = chain.sliding(2).toSeq
        .collect { case Seq(prev, cur) => (prev, cur) }.zipWithIndex
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, pairs.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val renders = pairs.map { case ((prev, cur), i) =>
          scala.concurrent.Future {
            // per-render parts dir under the stateDir (unique per
            // batch×pair), so the whole script path — distributed
            // render, concatenation, final script — lives on ONE FS
            val partsDir =
              f"$stateDir/_script_parts/b$batchId%05d_$i%03d"
            job.syncDistributed(cur, prev, partsDir, scriptTs)
            val name =
              f"sync_b$batchId%05d_$i%03d_${new HPath(cur).getName}.sql"
            writeConcatenated(fsys, partsDir, s"$stateDir/scripts/$name")
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(renders),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    }

    // schema-drift log: column-level DDL changes between consecutive
    // arrivals (engine.SchemaDiff — added/dropped/retyped columns, PK
    // changes) appended to `stateDir/schema_changes/`. This is the alert
    // channel that surfaces an unreviewed migration the moment it lands.
    // Each ARRIVING dump's catalog is parsed ONCE here (and the newest
    // one feeds the snapshot path below); the PREVIOUS dump's catalog
    // comes from the sidecar the last batch wrote — pre-sidecar state
    // dirs fall back to one re-parse of the previous dump. Before this,
    // the per-pair diffDumps re-parsed both sides of every pair: ~3
    // full-text parses per steady-state arrival on this path alone.
    // the newest dump's statements frame is cached: its catalog job
    // materializes it and the records build below reads the cache — one
    // text parse for the whole snapshot path instead of two
    val lastStmts = DumpSource.statements(spark, dumpPaths.last)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // per-batch caches are released even when a stage throws — a batch
    // API caller catching the failure must not accumulate orphaned
    // cached frames across retries (`incoming`/`ops` register here as
    // soon as they persist)
    val releases = scala.collection.mutable.ArrayBuffer[() => Unit](
      () => { lastStmts.unpersist(); () })
    try {
    val arrivalCats = dumpPaths.map { p =>
      if (p == dumpPaths.last) p -> job.catalog(lastStmts)
      else p -> job.catalog(DumpSource.statements(spark, p))
    }
    val prevCat = prevDump.map { p =>
      p -> readCatalogSidecar(spark, stateDir).getOrElse(
        job.catalog(DumpSource.statements(spark, p)))
    }
    (prevCat.toSeq ++ arrivalCats).sliding(2).foreach {
      case Seq((_, prev), (cur, curCat)) =>
        val changes = graft.engine.SchemaDiff.changes(curCat, prev)
        if (changes.nonEmpty) {
          import spark.implicits._
          changes.toDF()
            .withColumn("batch_id", lit(batchId))
            .withColumn("source_file", lit(cur))
            .write.mode(SaveMode.Append).parquet(s"$stateDir/schema_changes")
        }
      case _ => ()
    }

    // snapshot / op log / stats: latest-wins — only the newest dump
    // becomes current state; the diff below carries the burst's net ops.
    // `incoming` is CACHED for the batch: it has up to four consumers
    // (op diff, stats seed, SCD-2 advance, the snapshot write) and each
    // would otherwise re-run the full dump parse — measured at ~100 MB
    // of text per re-read, the entry's dominant cost and its noise
    // source (page-cache sensitivity × re-parses).
    val dumpPath = dumpPaths.last
    val cat = arrivalCats.last._2
    val incoming = job.records(lastStmts, cat)
      .select("table", "pk", "vals")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    releases += (() => { incoming.unpersist(); () })

    val prevSnapshot: Option[DataFrame] = readLatest(stateDir)
      .map(v => spark.read.parquet(s"$stateDir/$v"))

    // ops is cached too: the op-log append and the stats delta both
    // consume it, and recomputing means re-running the full-outer diff
    val ops = (prevSnapshot match {
      case Some(prev) =>
        Differ.classify(incoming, prev.select("table", "pk", "vals"),
          Seq("table", "pk"), Seq("vals")).filter(col("op").isNotNull)
          .select(col("table"), col("pk"), col("op"))
      case None =>
        incoming.select(col("table"), col("pk"), lit(Differ.OP_INSERT).as("op"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    releases += (() => { ops.unpersist(); () })

    ops
      .withColumn("batch_id", lit(batchId))
      .withColumn("source_file", lit(dumpPath))
      .write.mode(SaveMode.Append).parquet(s"$stateDir/ops")

    // maintained per-table row counts (engine.Ivm): advanced from the op
    // delta alone — O(changed rows) per arrival, no snapshot rescan. The
    // first arrival seeds from the incoming records; every later arrival
    // folds +INSERT/−DELETE into the previous stats version.
    val prevStats: Option[DataFrame] = readLatest(stateDir)
      .filter(v => fileSystem(stateDir)
        .exists(new HPath(stateDir, s"stats_$v")))
      .map(v => spark.read.parquet(s"$stateDir/stats_$v"))
    val newStats = prevStats match {
      case Some(ps) =>
        val dn = ops.groupBy(col("table").as("g"))
          .agg(sum(when(col("op") === Differ.OP_INSERT, 1L)
            .when(col("op") === Differ.OP_DELETE, -1L)
            .otherwise(0L)).as("dn"))
        graft.engine.Ivm.maintainCounts(ps, dn)
      case None =>
        incoming.groupBy(col("table").as("g")).agg(count(lit(1)).as("n"))
    }
    newStats.write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/stats_snapshot_v$batchId")

    // maintained SCD-2 history (engine.Scd.advance): the temporal layer,
    // advanced per arrival from the OPEN runs + the incoming snapshot —
    // O(open + snapshot) per batch, never a rescan of the version stack.
    // Storage matches the compute bound: runs CLOSED this batch append
    // to an immutable log (closed runs never change again), and only the
    // open-run frame — bounded by the live table size — is rewritten.
    // Full history = history_closed ∪ history_open_<latest>. The CLI's
    // stack replay (Scd.historyFromState) stays the manifest-free
    // fallback; DumpWatchSync-fed state dirs keep both paths equal
    // (ScdSpec pins it).
    val openPrev: Option[DataFrame] = readLatest(stateDir)
      .filter(v => fileSystem(stateDir)
        .exists(new HPath(stateDir, s"history_open_$v")))
      .map(v => spark.read.parquet(s"$stateDir/history_open_$v"))
    val advanced = (openPrev match {
      case Some(h) => graft.engine.Scd.advance(h, incoming, batchId,
        Seq("table", "pk"), Seq("vals"))
      case None => incoming.select(col("table"), col("pk"), col("vals"),
        lit(batchId).as("ver_from"), lit(null).cast("long").as("ver_to"))
    }).cache() // two consumers below — diff once, not twice
    try {
      advanced.filter(col("ver_to").isNotNull)
        .write.mode(SaveMode.Append).parquet(s"$stateDir/history_closed")
      advanced.filter(col("ver_to").isNull)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$stateDir/history_open_snapshot_v$batchId")
    } finally advanced.unpersist()

    // always track the last-applied dump, so the schema-drift log works
    // with emitScripts off (the at-scale watcher default elsewhere)
    ContentGate.writeSmall(stateDir, "LATEST_DUMP", dumpPath)

    val newVersion = s"snapshot_v$batchId"
    incoming.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/$newVersion")
    // catalog sidecar: next batch's schema-drift baseline without
    // re-parsing this dump (written before LATEST so a reader of the
    // new LATEST always finds its catalog)
    SyncJob.writeCatalog(spark, s"$stateDir/catalog_$newVersion", cat)
    ContentGate.writeSmall(stateDir, "LATEST", newVersion)
    } finally releases.foreach(r => r())
  }

  /** The newest snapshot's dump catalog from its sidecar, if the state
    * dir has one (pre-round-15 state dirs don't — callers fall back to
    * re-parsing the previous dump).
    */
  private def readCatalogSidecar(spark: SparkSession, stateDir: String)
      : Option[scala.collection.immutable.ListMap[String, graft.model.TableMeta]] =
    readLatest(stateDir)
      .filter(v => fileSystem(stateDir)
        .exists(new HPath(stateDir, s"catalog_$v")))
      .map(v => SyncJob.readCatalog(spark, s"$stateDir/catalog_$v")._1)

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
