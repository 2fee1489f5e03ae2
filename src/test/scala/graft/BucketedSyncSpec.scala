package graft

import java.nio.file.Files

import graft.codegen.SyncSqlGenerator
import graft.engine.{BucketedSync, SyncJob}

/** The bucketed fast-path must classify identically to the streaming
  * sync core AND plan its diff join without a single shuffle exchange.
  */
class BucketedSyncSpec extends SparkSuite {

  private def tmpFile(text: String): String = {
    val p = Files.createTempFile("bsync", ".sql")
    Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  /** The script the `--state` route collects from two snapshots. */
  private def fromState(prodTable: String, backupTable: String,
      prodPath: String, now: String): String = {
    val out = Files.createTempDirectory("bsync-out").resolve("out.sql")
    val (_, parts) = new SyncJob(spark).syncFromBucketed(prodTable,
      backupTable, prodPath, out.toString, now)
    assert(parts.isEmpty)
    new String(Files.readAllBytes(out), "UTF-8")
  }

  private val ddl =
    """CREATE TABLE `t` (
      |  `id` INT(11),
      |  `s` VARCHAR(255),
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB;
      |CREATE TABLE `u` (
      |  `id` INT(11),
      |  `v` BIGINT,
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB;
      |""".stripMargin

  private val prod = ddl +
    "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'b'),\n(4, 'new');\n" +
    "INSERT INTO `u` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n"
  private val backup = ddl +
    "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'CHANGED'),\n(3, 'gone');\n" +
    "INSERT INTO `u` (`id`, `v`) VALUES\n(1, 10),\n(2, 99);\n"

  test("bucketed diff matches SyncJob.run op-for-op and plans exchange-free") {
    val (pf, bf) = (tmpFile(prod), tmpFile(backup))
    BucketedSync.snapshot(spark, pf, "bsync_prod", buckets = 4)
    BucketedSync.snapshot(spark, bf, "bsync_backup", buckets = 4)
    val diff = BucketedSync.diff(spark, "bsync_prod", "bsync_backup")

    val plan = diff.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"diff plan has a shuffle:\n$plan")

    val got = diff.select("table", "pk", "op").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val ref = new SyncJob(spark).run(pf, bf).ops
      .map(o => (o.table, o.pk, o.op)).toSet
    assert(got == ref)
    assert(got == Set(
      ("t", "2", "UPDATE"), ("t", "3", "DELETE"), ("t", "4", "INSERT"),
      ("u", "2", "UPDATE")))
  }

  test("diffChanged skips unchanged tables yet matches the full diff op-for-op") {
    // t differs between the dumps, u is identical — the digest pre-filter
    // must name ONLY t, and the filtered rediff must still equal diff
    val prod2 = ddl +
      "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'b');\n" +
      "INSERT INTO `u` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n"
    val backup2 = ddl +
      "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'OLD');\n" +
      "INSERT INTO `u` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n"
    val (pf, bf) = (tmpFile(prod2), tmpFile(backup2))
    BucketedSync.snapshot(spark, pf, "bsync_ch_prod", buckets = 4)
    BucketedSync.snapshot(spark, bf, "bsync_ch_backup", buckets = 4)
    val fast = BucketedSync.diffChanged(spark, "bsync_ch_prod", "bsync_ch_backup")
    val full = BucketedSync.diff(spark, "bsync_ch_prod", "bsync_ch_backup")
    def ops(df: org.apache.spark.sql.DataFrame) =
      df.select("table", "pk", "op").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ops(fast) == ops(full))
    assert(ops(fast) == Set(("t", "2", "UPDATE")))
    // the pre-filter restricted the rediff to t: u never enters the scan
    val plan = fast.queryExecution.executedPlan.toString
    assert(plan.contains("table#") || plan.contains("isnotnull"),
      "sanity: plan rendered")
    assert(!plan.contains("Exchange"),
      s"filtered rediff lost the exchange-free plan:\n$plan")
  }

  test("diffChangedBuckets prunes snapshot directories yet matches the full diff") {
    // 40 rows in t; exactly one differs. Partitioned snapshots (8
    // dbuckets) must let the rediff read ONLY the changed row's
    // directory — proven by counting distinct input files, not by
    // trusting the plan string.
    def rows(changed: Boolean) = (1 to 40).map { i =>
      val s = if (changed && i == 17) "CHANGED" else s"v$i"
      s"($i, '$s')"
    }.mkString(",\n")
    val prod3 = ddl +
      s"INSERT INTO `t` (`id`, `s`) VALUES\n${rows(changed = true)};\n" +
      "INSERT INTO `u` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n"
    val backup3 = ddl +
      s"INSERT INTO `t` (`id`, `s`) VALUES\n${rows(changed = false)};\n" +
      "INSERT INTO `u` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n"
    val (pf, bf) = (tmpFile(prod3), tmpFile(backup3))
    BucketedSync.snapshot(spark, pf, "bsync_db_prod", buckets = 4, dbuckets = 8)
    BucketedSync.snapshot(spark, bf, "bsync_db_backup", buckets = 4, dbuckets = 8)

    val fast = BucketedSync.diffChangedBuckets(spark, "bsync_db_prod", "bsync_db_backup")
    val full = BucketedSync.diff(spark, "bsync_db_prod", "bsync_db_backup")
    def ops(df: org.apache.spark.sql.DataFrame) =
      df.select("table", "pk", "op").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(ops(fast) == ops(full))
    assert(ops(fast) == Set(("t", "17", "UPDATE")))
    assert(!fast.queryExecution.executedPlan.toString.contains("Exchange"),
      "partitioned rediff lost the exchange-free plan")

    // directory pruning: the dbucket IN (changed) filter must reach the
    // file listing — the pruned scan touches strictly fewer files
    import org.apache.spark.sql.functions.{col, input_file_name}
    def nFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val allFiles = nFiles(spark.table("bsync_db_prod"))
    val changedBucket = spark.table("bsync_db_prod")
      .filter(col("table") === "t" && col("pk") === "17")
      .select("dbucket").collect().head.getLong(0)
    val prunedFiles = nFiles(spark.table("bsync_db_prod")
      .filter(col("dbucket") === changedBucket))
    assert(prunedFiles < allFiles,
      s"dbucket filter did not prune files ($prunedFiles vs $allFiles)")
  }

  test("diffChangedBuckets on identical snapshots is empty without a row scan") {
    val (pf, bf) = (tmpFile(prod), tmpFile(prod))
    BucketedSync.snapshot(spark, pf, "bsync_id_prod", buckets = 4, dbuckets = 8)
    BucketedSync.snapshot(spark, bf, "bsync_id_backup", buckets = 4, dbuckets = 8)
    val fast = BucketedSync.diffChangedBuckets(spark, "bsync_id_prod", "bsync_id_backup")
    assert(fast.count() == 0L)
  }

  test("ensureSnapshot + rediff work through file: URI dump paths") {
    // The --state gate stats the dump to fingerprint it; the stat must
    // resolve through the Hadoop FS like the parse does, so a
    // scheme-qualified URI (which java.nio.Paths would reject) works
    // end to end: snapshot, reuse, change-detect, and the rediff script.
    val (pf0, bf0) = (tmpFile(prod), tmpFile(backup))
    val (pf, bf) = ("file:" + pf0, "file:" + bf0)
    val job = new SyncJob(spark)
    val now = "URI-TEST"
    val expected = SyncSqlGenerator.assemble(job.run(pf, bf), now)

    assert(BucketedSync.ensureSnapshot(spark, pf, "bsync_uri_prod"))
    assert(BucketedSync.ensureSnapshot(spark, bf, "bsync_uri_backup"))
    val s1 = fromState("bsync_uri_prod", "bsync_uri_backup", pf, now)
    assert(s1 == expected)

    // unchanged dump at the same URI: snapshot reused, same bytes
    assert(!BucketedSync.ensureSnapshot(spark, pf, "bsync_uri_prod"))
    val s2 = fromState("bsync_uri_prod", "bsync_uri_backup", pf, now)
    assert(s2 == expected)

    // a changed dump at the same URI re-snapshots
    Files.write(java.nio.file.Paths.get(pf0), (prod +
      "INSERT INTO `t` (`id`, `s`) VALUES\n(9, 'added');\n")
      .getBytes("UTF-8"))
    assert(BucketedSync.ensureSnapshot(spark, pf, "bsync_uri_prod"))
    val s3 = fromState("bsync_uri_prod", "bsync_uri_backup", pf, now)
    assert(s3 != expected)
    assert(s3 == SyncSqlGenerator.assemble(job.run(pf, bf), now))
  }

  test("syncAuto writes the collected script through a file: URI, no crc sidecar") {
    val (pf, bf) = (tmpFile(prod), tmpFile(backup))
    val job = new SyncJob(spark)
    val now = "URI-AUTO"
    val expected = SyncSqlGenerator.assemble(job.run(pf, bf), now)
    val outDir = Files.createTempDirectory("bsync-uri")
    val out = outDir.resolve("script.sql")
    val (_, parts) = job.syncAuto(pf, bf, "file:" + out, now)
    assert(parts.isEmpty)
    assert(new String(Files.readAllBytes(out), "UTF-8") == expected)
    // user-facing script: raw create, no hidden .script.sql.crc sidecar
    assert(!Files.exists(outDir.resolve(".script.sql.crc")))
  }

  test("--state rediff sees an UPDATE whose values concatenate to the same text") {
    // (1, 12, 3) and (1, 1, 23) join to the same text under an empty
    // separator; the change gates must still name the table and bucket
    val ddl3 =
      """CREATE TABLE `c` (
        |  `id` INT(11),
        |  `a` INT(11),
        |  `b` INT(11),
        |  PRIMARY KEY (`id`)
        |) ENGINE=InnoDB;
        |""".stripMargin
    val (pf, bf) = (
      tmpFile(ddl3 + "INSERT INTO `c` (`id`, `a`, `b`) VALUES\n(1, 12, 3);\n"),
      tmpFile(ddl3 + "INSERT INTO `c` (`id`, `a`, `b`) VALUES\n(1, 1, 23);\n"))
    val job = new SyncJob(spark)
    val now = "CONCAT-TEST"
    BucketedSync.snapshot(spark, pf, "bsync_cc_prod", buckets = 4, dbuckets = 8)
    BucketedSync.snapshot(spark, bf, "bsync_cc_backup", buckets = 4, dbuckets = 8)
    val expected = SyncSqlGenerator.assemble(job.run(pf, bf), now)
    assert(expected.contains("-- Updating 1 records in c"))
    val got = fromState("bsync_cc_prod", "bsync_cc_backup", pf, now)
    assert(got == expected)

    def ops(df: org.apache.spark.sql.DataFrame) =
      df.select("table", "pk", "op").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val full = ops(BucketedSync.diff(spark, "bsync_cc_prod", "bsync_cc_backup"))
    assert(full == Set(("c", "1", "UPDATE")))
    assert(ops(BucketedSync.diffChangedBuckets(
      spark, "bsync_cc_prod", "bsync_cc_backup")) == full)
  }

  test("tables present in only one snapshot yield NO row ops (DDL concern)") {
    val extraDdl =
      """CREATE TABLE `w` (
        |  `id` INT(11),
        |  `x` BIGINT,
        |  PRIMARY KEY (`id`)
        |) ENGINE=InnoDB;
        |""".stripMargin
    val prod2 = prod + extraDdl +
      "INSERT INTO `w` (`id`, `x`) VALUES\n(1, 7),\n(2, 8);\n"
    val (pf, bf) = (tmpFile(prod2), tmpFile(backup))
    BucketedSync.snapshot(spark, pf, "bsync_prod2", buckets = 4)
    BucketedSync.snapshot(spark, bf, "bsync_backup2", buckets = 4)
    val got = BucketedSync.diff(spark, "bsync_prod2", "bsync_backup2")
      .select("table", "pk", "op").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // `w` exists only in prod: CREATE-section territory, zero row ops —
    // exactly how SyncJob classifies it
    assert(!got.exists(_._1 == "w"))
    val ref = new SyncJob(spark).run(pf, bf).ops
      .map(o => (o.table, o.pk, o.op)).toSet
    assert(got == ref)
  }

  test("--state rediff reads each catalog sidecar once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    val (pf, bf) = (tmpFile(prod), tmpFile(backup))
    BucketedSync.snapshot(spark, pf, "bsync_rd_prod", buckets = 4)
    BucketedSync.snapshot(spark, bf, "bsync_rd_backup", buckets = 4)
    // every action whose plan scans a `<name>_cat` sidecar
    val sidecarReads = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.collect { case r: LogicalRelation => r.relation }.exists {
              case h: HadoopFsRelation =>
                h.location.rootPaths.exists(_.getName.endsWith("_cat"))
              case _ => false
            }) sidecarReads.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      fromState("bsync_rd_prod", "bsync_rd_backup", pf, "SIDECAR-TEST")
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // one catalog read per snapshot: the change gate takes the common
    // tables from the restored catalogs instead of re-reading them
    assert(sidecarReads.get == 2)
  }
}
