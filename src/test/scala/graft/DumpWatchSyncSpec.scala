package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.codegen.SyncSqlGenerator
import graft.engine.SyncJob
import graft.streaming.DumpWatchSync

/** Dump-directory watcher: arriving dumps produce net ops vs the
  * previous snapshot, and the snapshot advances.
  */
class DumpWatchSyncSpec extends SparkSuite {

  private def ddl = """CREATE TABLE `t` (
                      |  `id` INT,
                      |  `v` INT,
                      |  PRIMARY KEY (`id`)
                      |) ENGINE=InnoDB;
                      |""".stripMargin

  test("arriving dumps emit incremental INSERT/UPDATE/DELETE ops") {
    val watchDir = Files.createTempDirectory("graft-watch")
    val stateDir = Files.createTempDirectory("graft-state").toString

    val q = DumpWatchSync.start(spark, watchDir.toString, stateDir)
    try {
      // arrival 1: baseline dump — everything is an INSERT vs empty state
      Files.write(watchDir.resolve("dump1.sql"),
        (ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 10),\n(2, 20),\n(3, 30);\n")
          .getBytes("UTF-8"))
      q.processAllAvailable()

      // arrival 2: 1 updated, 3 deleted, 4 inserted
      Files.write(watchDir.resolve("dump2.sql"),
        (ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 11),\n(2, 20),\n(4, 40);\n")
          .getBytes("UTF-8"))
      q.processAllAvailable()

      val ops = spark.read.parquet(s"$stateDir/ops")
        .collect()
        .map(r => (r.getAs[String]("pk"), r.getAs[String]("op"),
          r.getAs[Long]("batch_id")))
        .toSet
      val batch1 = ops.filter(_._3 == 0).map(t => (t._1, t._2))
      val batch2 = ops.filter(_._3 == 1).map(t => (t._1, t._2))
      assert(batch1 == Set(("1", "INSERT"), ("2", "INSERT"), ("3", "INSERT")))
      assert(batch2 == Set(("1", "UPDATE"), ("3", "DELETE"), ("4", "INSERT")))

      // snapshot advanced to the latest dump's records
      val latest = new String(Files.readAllBytes(Paths.get(stateDir, "LATEST")), "UTF-8")
      val snap = spark.read.parquet(s"$stateDir/$latest")
        .collect().map(_.getAs[String]("pk")).toSet
      assert(snap == Set("1", "2", "4"))

      // maintained per-table stats (engine.Ivm.maintainCounts): advanced
      // from the op delta alone, must equal a recount of each snapshot
      val stats1 = spark.read.parquet(s"$stateDir/stats_snapshot_v0")
        .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("n"))).toSet
      assert(stats1 == Set(("t", 3L)))
      val stats2 = spark.read.parquet(s"$stateDir/stats_snapshot_v1")
        .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("n"))).toSet
      assert(stats2 == Set(("t", 3L))) // 3 − 1 delete + 1 insert
    } finally q.stop()
  }

  test("watcher state works end-to-end through a Hadoop file: URI stateDir") {
    // markers, scripts, vacuum and the parquet state must all resolve
    // through Hadoop FileSystem: a scheme-qualified stateDir is the
    // portability probe — any java.nio remnant shadows or rejects it
    val dumps = Files.createTempDirectory("graft-uri-dumps")
    val d1 = dumps.resolve("d1.sql")
    val d2 = dumps.resolve("d2.sql")
    Files.write(d1,
      (ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n")
        .getBytes("UTF-8"))
    Files.write(d2,
      (ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 11),\n(3, 30);\n")
        .getBytes("UTF-8"))
    val base = Files.createTempDirectory("graft-uri-state").toString
    val stateDir = s"file://$base"
    DumpWatchSync.processDump(spark, d1.toString, stateDir, 0L)
    DumpWatchSync.processDump(spark, d2.toString, stateDir, 1L)
    // markers landed where the URI points (not a local shadow path)
    assert(new String(Files.readAllBytes(Paths.get(base, "LATEST")),
      "UTF-8") == "snapshot_v1")
    val ops = spark.read.parquet(s"$stateDir/ops").collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => (r.getAs[String]("pk"), r.getAs[String]("op"))).toSet
    assert(ops == Set(("1", "UPDATE"), ("2", "DELETE"), ("3", "INSERT")))
    // the per-arrival script renders + concatenates through the FS too
    val scripts = Files.list(Paths.get(base, "scripts")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".sql")).toSeq.sorted
    assert(scripts.size == 1 && scripts.head.endsWith("d2.sql.sql"))
    val script = new String(Files.readAllBytes(
      Paths.get(base, "scripts", scripts.head)), "UTF-8")
    assert(script.nonEmpty && !script.endsWith("\n"))
    // vacuum lists and deletes through the FS
    val deleted = DumpWatchSync.vacuum(stateDir, keepLast = 1).sorted
    assert(deleted.contains("snapshot_v0"))
    assert(!Files.exists(Paths.get(base, "snapshot_v0")))
    assert(Files.exists(Paths.get(base, "snapshot_v1")))
  }

  test("vacuum reclaims superseded versions; maintained history still time-travels to them") {
    val watchDir = Files.createTempDirectory("graft-watch-vac")
    val stateDir = Files.createTempDirectory("graft-state-vac").toString
    def dump(rows: (Int, Int)*): String =
      ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n" +
        rows.map { case (id, v) => s"($id, $v)" }.mkString(",\n") + ";\n"
    val q = DumpWatchSync.start(spark, watchDir.toString, stateDir,
      emitScripts = false)
    try {
      // v0: {1→10, 2→20}; v1: 2 updated; v2: 2 deleted, 3 inserted
      Seq(dump(1 -> 10, 2 -> 20), dump(1 -> 10, 2 -> 21),
          dump(1 -> 10, 3 -> 30)).zipWithIndex.foreach { case (d, i) =>
        Files.write(watchDir.resolve(s"d$i.sql"), d.getBytes("UTF-8"))
        q.processAllAvailable()
      }
    } finally q.stop()

    def snapRows(v: Long): Set[(String, String)] =
      spark.read.parquet(s"$stateDir/snapshot_v$v").collect()
        .map(r => (r.getAs[String]("pk"),
          r.getAs[Seq[String]]("vals").mkString("|"))).toSet
    val before = (0L to 2L).map(v => v -> snapRows(v)).toMap

    val deleted = DumpWatchSync.vacuum(stateDir, keepLast = 1).sorted
    assert(deleted == Seq(
      "catalog_snapshot_v0", "catalog_snapshot_v1",
      "history_open_snapshot_v0", "history_open_snapshot_v1",
      "snapshot_v0", "snapshot_v1",
      "stats_snapshot_v0", "stats_snapshot_v1"))
    assert(!Files.exists(Paths.get(stateDir, "snapshot_v0")))
    assert(Files.exists(Paths.get(stateDir, "snapshot_v2")))
    assert(Files.exists(Paths.get(stateDir, "ops"))) // audit logs untouched

    // the maintained history is a lossless encoding: every vacuumed
    // version reconstructs row-for-row via snapshotAt
    val hist = spark.read.parquet(s"$stateDir/history_closed")
      .unionByName(spark.read.parquet(s"$stateDir/history_open_snapshot_v2"))
    (0L to 2L).foreach { v =>
      val got = graft.engine.Scd.snapshotAt(hist, v).collect()
        .map(r => (r.getAs[String]("pk"),
          r.getAs[Seq[String]]("vals").mkString("|"))).toSet
      assert(got == before(v), s"version $v reconstruction differs")
    }

    // idempotent: nothing left to reclaim
    assert(DumpWatchSync.vacuum(stateDir, keepLast = 1).isEmpty)
  }

  test("vacuum protects ALL siblings of a LATEST-pinned old version (r15 #2)") {
    // When LATEST pins a version older than keepLast reaches (an
    // operator rolled the marker back, or a stale reader holds it), the
    // round-15 name-only guard kept `snapshot_vN` but reclaimed its
    // catalog/stats/history siblings — in particular the catalog
    // sidecar, whose whole point is to skip the previous dump's
    // re-parse. The guard now derives the protected set from the pinned
    // version NUMBER.
    val watchDir = Files.createTempDirectory("graft-watch-pin")
    val stateDir = Files.createTempDirectory("graft-state-pin").toString
    def dump(rows: (Int, Int)*): String =
      ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n" +
        rows.map { case (id, v) => s"($id, $v)" }.mkString(",\n") + ";\n"
    val q = DumpWatchSync.start(spark, watchDir.toString, stateDir,
      emitScripts = false)
    try {
      Seq(dump(1 -> 10), dump(1 -> 11), dump(1 -> 12)).zipWithIndex
        .foreach { case (d, i) =>
          Files.write(watchDir.resolve(s"d$i.sql"), d.getBytes("UTF-8"))
          q.processAllAvailable()
        }
    } finally q.stop()

    // pin LATEST back to v0 — older than keepLast=1 reaches
    graft.operators.ContentGate.writeSmall(stateDir, "LATEST", "snapshot_v0")
    val deleted = DumpWatchSync.vacuum(stateDir, keepLast = 1).sorted
    // v1's whole family reclaimed; v0 (pinned) and v2 (newest) intact
    assert(deleted == Seq(
      "catalog_snapshot_v1", "history_open_snapshot_v1",
      "snapshot_v1", "stats_snapshot_v1"), s"deleted = $deleted")
    Seq("snapshot_v0", "catalog_snapshot_v0", "stats_snapshot_v0",
      "history_open_snapshot_v0", "snapshot_v2", "catalog_snapshot_v2")
      .foreach { d =>
        assert(Files.exists(Paths.get(stateDir, d)), s"$d was reclaimed")
      }
    // the pinned version's catalog sidecar still loads — the next
    // arrival diffs against v0 without re-parsing its dump
    val cat = spark.read.parquet(s"$stateDir/catalog_snapshot_v0")
      .collect().map(_.getAs[String]("table")).toSet
    assert(cat == Set("t"))
  }

  test("schema drift between arrivals lands in the schema_changes log") {
    val watchDir = Files.createTempDirectory("graft-watch-drift")
    val stateDir = Files.createTempDirectory("graft-state-drift").toString
    val ddl2 = """CREATE TABLE `t` (
                 |  `id` INT,
                 |  `v` BIGINT,
                 |  `w` VARCHAR(16),
                 |  PRIMARY KEY (`id`)
                 |) ENGINE=InnoDB;
                 |""".stripMargin
    val q = DumpWatchSync.start(spark, watchDir.toString, stateDir)
    try {
      Files.write(watchDir.resolve("d1.sql"),
        (ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 10);\n").getBytes("UTF-8"))
      q.processAllAvailable()
      // arrival 2 retypes v INT->BIGINT and adds w
      Files.write(watchDir.resolve("d2.sql"),
        (ddl2 + "INSERT INTO `t` (`id`, `v`, `w`) VALUES\n(1, 10, 'x');\n")
          .getBytes("UTF-8"))
      q.processAllAvailable()

      val drift = spark.read.parquet(s"$stateDir/schema_changes")
        .collect()
        .map(r => (r.getAs[String]("table"), r.getAs[String]("column"),
          r.getAs[String]("change"), r.getAs[Long]("batch_id")))
        .toSet
      assert(drift == Set(
        ("t", "w", "column_added", 1L),
        ("t", "v", "column_retyped", 1L)), s"got $drift")
      // no drift dir content for the unchanged-schema first arrival
      assert(!drift.exists(_._4 == 0L))
    } finally q.stop()
  }

  test("a 5-dump burst in ONE batch: per-arrival scripts byte-match the batch CLI, state coalesces latest-wins") {
    val watchDir = Files.createTempDirectory("graft-watch-burst")
    val stateDir = Files.createTempDirectory("graft-state-burst").toString
    def dump(rows: Seq[(Int, Int)]): String =
      ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n" +
        rows.map { case (id, v) => s"($id, $v)" }.mkString(",\n") + ";\n"
    // d3/d4 insert pk 99 and d5 removes it again: latest-wins op-log
    // coalescing must never surface the mid-burst transient
    val dumps = Seq(
      dump(Seq(1 -> 10)),
      dump(Seq(1 -> 20)),
      dump(Seq(1 -> 30, 99 -> 1)),
      dump(Seq(1 -> 40, 99 -> 2)),
      dump(Seq(1 -> 50)),
      dump(Seq(1 -> 60, 2 -> 6)))

    val q = DumpWatchSync.start(spark, watchDir.toString, stateDir, scriptTs = "T")
    try {
      // arrival 1 alone seeds the snapshot (batch 0)
      Files.write(watchDir.resolve("d1.sql"), dumps(0).getBytes("UTF-8"))
      q.processAllAvailable()
      // the remaining 5 dumps queue up into ONE micro-batch (batch 1)
      (1 to 5).foreach { i =>
        Files.write(watchDir.resolve(s"d${i + 1}.sql"), dumps(i).getBytes("UTF-8"))
      }
      q.processAllAvailable()

      // one script per consecutive pair, each byte-identical to the
      // batch CLI on (arriving, previous)
      val scripts = Files.list(Paths.get(stateDir, "scripts")).iterator().asScala
        .toSeq.filter(_.getFileName.toString.endsWith(".sql"))
        .sortBy(_.getFileName.toString)
        .map(p => new String(Files.readAllBytes(p), "UTF-8"))
      assert(scripts.size == 5)
      val job = new SyncJob(spark)
      def batchScript(prod: String, backup: String): String = {
        val p = Files.createTempFile("burst-p", ".sql")
        Files.write(p, prod.getBytes("UTF-8"))
        val b = Files.createTempFile("burst-b", ".sql")
        Files.write(b, backup.getBytes("UTF-8"))
        SyncSqlGenerator.assemble(job.run(p.toString, b.toString), "T")
      }
      (0 until 5).foreach { i =>
        assert(scripts(i) == batchScript(dumps(i + 1), dumps(i)),
          s"burst script $i differs from the batch CLI on the same pair")
      }

      // op log for the burst batch carries the NET change d1 → d6 only:
      // pk 1 updated, pk 2 inserted, and pk 99 (inserted then deleted
      // mid-burst) never surfaces
      val ops = spark.read.parquet(s"$stateDir/ops").collect()
        .map(r => (r.getAs[String]("pk"), r.getAs[String]("op"),
          r.getAs[Long]("batch_id"))).toSet
      assert(ops.filter(_._3 == 1L).map(t => (t._1, t._2)) ==
        Set(("1", "UPDATE"), ("2", "INSERT")))

      // snapshot + maintained stats advanced to the newest dump
      val latest = new String(
        Files.readAllBytes(Paths.get(stateDir, "LATEST")), "UTF-8")
      val snap = spark.read.parquet(s"$stateDir/$latest")
        .collect().map(_.getAs[String]("pk")).toSet
      assert(snap == Set("1", "2"))
      val stats = spark.read.parquet(s"$stateDir/stats_snapshot_v1")
        .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("n"))).toSet
      assert(stats == Set(("t", 2L)))
    } finally q.stop()
  }

  test("watched seed-42 dump sequence emits scripts byte-identical to the batch CLI") {
    def res(name: String): String = {
      val in = getClass.getResourceAsStream(s"/refdumps/$name")
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val backupDump = res("backup_sf0.001.sql")
    val prodDump = res("prod_sf0.001.sql")

    val watchDir = Files.createTempDirectory("graft-watch-parity")
    val stateDir = Files.createTempDirectory("graft-state-parity").toString
    val q = DumpWatchSync.start(spark, watchDir.toString, stateDir, scriptTs = "T")
    try {
      // sequence: backup → prod → backup (a sync and its exact reverse)
      Files.write(watchDir.resolve("d1.sql"), backupDump.getBytes("UTF-8"))
      q.processAllAvailable()
      Files.write(watchDir.resolve("d2.sql"), prodDump.getBytes("UTF-8"))
      q.processAllAvailable()
      Files.write(watchDir.resolve("d3.sql"), backupDump.getBytes("UTF-8"))
      q.processAllAvailable()

      val scripts = Files.list(Paths.get(stateDir, "scripts")).iterator().asScala
        .toSeq.filter(_.getFileName.toString.endsWith(".sql"))
        .sortBy(_.getFileName.toString)
        .map(p => new String(Files.readAllBytes(p), "UTF-8"))
      assert(scripts.size == 2) // first arrival has no previous dump

      // batch equivalents on the same pairs
      val job = new SyncJob(spark)
      def batchScript(prod: String, backup: String): String = {
        val p = Files.createTempFile("wp-p", ".sql")
        Files.write(p, prod.getBytes("UTF-8"))
        val b = Files.createTempFile("wp-b", ".sql")
        Files.write(b, backup.getBytes("UTF-8"))
        SyncSqlGenerator.assemble(job.run(p.toString, b.toString), "T")
      }
      assert(scripts(0) == batchScript(prodDump, backupDump),
        "step 2 (prod vs backup) script differs from batch")
      assert(scripts(1) == batchScript(backupDump, prodDump),
        "step 3 (backup vs prod) script differs from batch")
    } finally q.stop()
  }

  private def refdump(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/refdumps/$name")
    try in.readAllBytes() finally in.close()
  }

  private def scriptsOf(stateDir: String): Seq[String] =
    Files.list(Paths.get(stateDir, "scripts")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".sql"))
      .sortBy(_.getFileName.toString)
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))

  test("the script needs no previous dump file: a rotated-away dump still diffs") {
    val dumps = Files.createTempDirectory("graft-rotate-dumps")
    val d1 = dumps.resolve("d1.sql")
    val d2 = dumps.resolve("d2.sql")
    Files.write(d1, refdump("backup_sf0.001.sql"))
    Files.write(d2, refdump("prod_sf0.001.sql"))
    val copy = Files.createTempFile("graft-rotate-copy", ".sql")
    Files.copy(d1, copy, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stateDir = Files.createTempDirectory("graft-rotate-state").toString
    DumpWatchSync.processDump(spark, d1.toString, stateDir, 0L, scriptTs = "T")
    Files.delete(d1) // rotated away before the next arrival
    DumpWatchSync.processDump(spark, d2.toString, stateDir, 1L, scriptTs = "T")
    val want = SyncSqlGenerator.assemble(
      new SyncJob(spark).run(d2.toString, copy.toString), "T")
    assert(scriptsOf(stateDir) == Seq(want))
  }

  test("a state dir whose snapshot holds only (table, pk, vals) advances like a fresh one") {
    import org.apache.spark.sql.functions.col
    val dumps = Files.createTempDirectory("graft-layout-dumps")
    val d1 = dumps.resolve("d1.sql")
    val d2 = dumps.resolve("d2.sql")
    Files.write(d1, refdump("backup_sf0.001.sql"))
    Files.write(d2, refdump("prod_sf0.001.sql"))
    def watch(rewrite: Boolean): String = {
      val stateDir = Files.createTempDirectory("graft-layout-state").toString
      DumpWatchSync.processDump(spark, d1.toString, stateDir, 0L, scriptTs = "T")
      if (rewrite) {
        // the snapshot layout written before order keys and SCD-2 run
        // starts were stored in it
        val snap = s"$stateDir/snapshot_v0"
        val narrow = s"$stateDir/narrow_v0"
        spark.read.parquet(snap).select("table", "pk", "vals")
          .write.parquet(narrow)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(snap))
        Files.move(Paths.get(narrow), Paths.get(snap))
        assert(spark.read.parquet(snap).columns.toSeq == Seq("table", "pk", "vals"))
      }
      DumpWatchSync.processDump(spark, d2.toString, stateDir, 1L, scriptTs = "T")
      stateDir
    }
    val (fresh, narrow) = (watch(rewrite = false), watch(rewrite = true))
    assert(scriptsOf(narrow) == scriptsOf(fresh))
    def rows(stateDir: String, dir: String): Set[String] =
      spark.read.parquet(s"$stateDir/$dir").drop("source_file")
        .collect().map(_.toSeq.map {
          case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")).toSet
    Seq("history_closed", "history_open_snapshot_v1", "snapshot_v1").foreach { d =>
      assert(rows(narrow, d) == rows(fresh, d), s"$d differs")
    }
    val ops = (dir: String) => spark.read.parquet(s"$dir/ops")
      .filter(col("batch_id") === 1L).select("table", "pk", "op")
      .collect().map(_.mkString("|")).toSet
    assert(ops(narrow) == ops(fresh) && ops(fresh).nonEmpty)
    assert(rows(fresh, "history_closed").nonEmpty)
  }
}
