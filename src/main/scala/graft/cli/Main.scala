package graft.cli

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.SparkSession

import graft.engine.SyncJob
import graft.report.SummaryReporter

/** CLI with the reference's argv contract (/root/reference/sync.py:629-642):
  *
  *   graft.cli.Main [production.sql] [backup.sql] [output.sql]
  *
  * defaulting to prod.sql / backup.sql / database_sync_crud.sql.
  *
  * Every sync writes through one size-routed sink (SyncJob.syncAuto): a
  * diff that fits the driver is written as the single file
  * `output.sql`; a larger one goes through the executor-rendered text
  * sink as sorted part files under `output.sql.parts`, which
  * concatenate to the single-file script plus a final newline. Each run
  * deletes the other route's output.
  *
  * `--state <dir>` enables the repeated-sync fast path: both dumps are
  * snapshotted as bucketed tables under `<dir>` (fingerprint-gated, so
  * an unchanged dump is never re-parsed), and the diff runs as the
  * Merkle-gated changed-tables-only exchange-free rediff
  * (engine.BucketedSync). Only the diff differs: the script goes
  * through the same sink, byte-identical to the default path; the
  * second sync against the same dumps costs the digest scan, not the
  * parse.
  *
  * `--schema-diff` switches to report-only mode: print the column-level
  * schema evolution between the dumps (engine.SchemaDiff — columns
  * added/dropped/retyped, PK changes) and exit without generating a
  * sync script.
  *
  * `--history <stateDir> <table> [pk]` switches to the temporal report:
  * SCD-2 validity runs (engine.Scd) over the versioned snapshots a
  * DumpWatchSync watcher wrote under `stateDir` — every value a row held
  * and for which version range, optionally filtered to one pk.
  *
  * `--vacuum <stateDir> [keepLast]` reclaims superseded per-version
  * watcher state (old snapshots / stats / open-history frames), keeping
  * the newest `keepLast` (default 1) of each family; the maintained
  * SCD-2 history losslessly encodes every vacuumed version, so time
  * travel still works afterwards.
  *
  * `--gate-vacuum <stateDir>` reclaims a streaming dedup gate's raw
  * batch dirs at/below the SECOND-newest committed compaction mark
  * (the documented replay floor — [[graft.streaming.StreamingDedup
  * .vacuum]]); pairs, manifests, and projections are never touched.
  */
object Main {

  def main(rawArgs: Array[String]): Unit = {
    val vacIdx = rawArgs.indexOf("--vacuum")
    if (vacIdx >= 0) {
      if (vacIdx + 1 >= rawArgs.length) {
        System.err.println("❌ Usage: --vacuum <stateDir> [keepLast]")
        sys.exit(1)
      }
      val stateDir = rawArgs(vacIdx + 1)
      val keep = rawArgs.lift(vacIdx + 2).flatMap(_.toIntOption).getOrElse(1)
      val deleted = graft.streaming.DumpWatchSync.vacuum(stateDir, keep)
      println(s"Vacuumed ${deleted.size} superseded state " +
        (if (deleted.size == 1) "directory" else "directories") +
        s" (kept newest $keep per family):")
      deleted.foreach(d => println(s"  $d"))
      return
    }
    val gvIdx = rawArgs.indexOf("--gate-vacuum")
    if (gvIdx >= 0) {
      if (gvIdx + 1 >= rawArgs.length) {
        System.err.println("❌ Usage: --gate-vacuum <stateDir>")
        sys.exit(1)
      }
      val stateDir = rawArgs(gvIdx + 1)
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-gate-vacuum")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      try {
        val deleted = graft.streaming.StreamingDedup.vacuum(spark, stateDir)
        println(s"Vacuumed ${deleted.size} raw batch " +
          (if (deleted.size == 1) "directory" else "directories") +
          " at/below the second-newest compaction mark:")
        deleted.foreach(d => println(s"  $d"))
      } finally spark.stop()
      return
    }
    val histIdx = rawArgs.indexOf("--history")
    if (histIdx >= 0) {
      if (histIdx + 2 >= rawArgs.length) {
        System.err.println("❌ Usage: --history <stateDir> <table> [pk]")
        sys.exit(1)
      }
      val stateDir = rawArgs(histIdx + 1)
      val table = rawArgs(histIdx + 2)
      val pk = rawArgs.lift(histIdx + 3)
      val spark = SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .appName("graft-history")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val hist = graft.engine.Scd.historyFromState(spark, stateDir, table, pk)
          .collect()
        println(s"History for `$table`${pk.fold("")(p => s" pk=$p")}:")
        if (hist.isEmpty) println("  (no runs)")
        else hist.foreach { r =>
          val vals = r.getAs[Seq[String]]("vals").mkString(", ")
          val to = Option(r.get(r.fieldIndex("ver_to")))
            .map(_.toString).getOrElse("current")
          println(s"  pk=${r.getAs[String]("pk")} [v${r.getAs[Long]("ver_from")}" +
            s" → $to): ($vals)")
        }
      } finally spark.stop()
      return
    }
    val stateIdx = rawArgs.indexOf("--state")
    val stateDir =
      if (stateIdx >= 0 && stateIdx + 1 < rawArgs.length) Some(rawArgs(stateIdx + 1))
      else None
    val args0 = if (stateIdx >= 0) rawArgs.patch(stateIdx, Nil, 2) else rawArgs
    val schemaDiffOnly = args0.contains("--schema-diff")
    val args = args0.filterNot(_ == "--schema-diff")
    // an unknown or removed flag would otherwise be taken as a file name
    args.find(_.startsWith("--")).foreach { f =>
      System.err.println(s"❌ Error: Unknown option: $f")
      sys.exit(1)
    }

    val prodFile = if (args.length >= 2) args(0) else "prod.sql"
    val backupFile = if (args.length >= 2) args(1) else "backup.sql"
    val outputFile = if (args.length >= 3) args(2) else "database_sync_crud.sql"

    for (f <- Seq(prodFile, backupFile)) {
      if (!Files.exists(Paths.get(f))) {
        System.err.println(s"❌ Error: File not found: $f")
        sys.exit(1)
      }
    }

    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-sync")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // --state: snapshots live under the state dir as the warehouse, so
    // they survive across CLI invocations
    val spark = stateDir.fold(builder)(d =>
      builder.config("spark.sql.warehouse.dir",
        Paths.get(d).toAbsolutePath.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      if (schemaDiffOnly) {
        // report-only mode: column-level schema evolution, no sync script
        val changes = graft.engine.SchemaDiff.diffDumps(spark, prodFile, backupFile)
        println(s"Schema diff (production vs backup):")
        if (changes.isEmpty) println("  (no column-level changes)")
        else changes.foreach { c =>
          val detail = (c.prodType, c.backupType) match {
            case (Some(p), Some(b)) => s" $b -> $p"
            case (Some(p), None) => s" $p"
            case (None, Some(b)) => s" $b"
            case _ => ""
          }
          println(s"  ${c.table}.${c.column}: ${c.change}$detail")
        }
        return
      }
      println(s"Comparing SQL dumps:\n  Production: $prodFile\n  Backup: $backupFile")
      val now = LocalDateTime.now.format(
        DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val job = new SyncJob(spark)
      val (outcome, partsDir) = stateDir match {
        case Some(_) =>
          // bucketed fast path: parse each dump at most once per content
          // (fingerprint-gated snapshots in the state dir), then a
          // Merkle-gated changed-tables-only exchange-free rediff
          val freshP = graft.engine.BucketedSync.ensureSnapshot(
            spark, prodFile, "graft_state_prod")
          val freshB = graft.engine.BucketedSync.ensureSnapshot(
            spark, backupFile, "graft_state_backup")
          println(s"  State: prod snapshot ${if (freshP) "written" else "reused"}, " +
            s"backup snapshot ${if (freshB) "written" else "reused"}")
          job.syncFromBucketed("graft_state_prod", "graft_state_backup",
            prodFile, outputFile, now)
        case None => job.syncAuto(prodFile, backupFile, outputFile, now)
      }
      SummaryReporter.print(outcome)
      partsDir match {
        case Some(dir) => println(
          s"\n💾 Sync script parts written to: $dir (diff too large to " +
            "collect; concatenate sorted parts for the single-file script)")
        case None => println(s"\n💾 Sync script written to: $outputFile")
      }
    } finally spark.stop()
  }
}
