package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.codegen.SyncSqlGenerator
import graft.engine.{Differ, SyncJob}

/** End-to-end sync-core tests: small synthetic dumps plus a differential
  * golden test against the unmodified reference's output on the
  * seed-42 sf0.001 dump pair (SURVEY.md §5.2 items 1, 5).
  */
class SyncJobSpec extends SparkSuite {

  private def tmpFile(content: String): Path = {
    val p = Files.createTempFile("graft-dump", ".sql")
    Files.write(p, content.getBytes("UTF-8"))
    p.toFile.deleteOnExit()
    p
  }

  private def ddl(table: String, cols: String*): String =
    s"CREATE TABLE `$table` (\n" +
      cols.map(c => s"  `$c` INT,\n").mkString +
      s"  PRIMARY KEY (`${cols.head}`)\n) ENGINE=InnoDB;\n"

  private def job = new SyncJob(spark)

  private def res(name: String): String = {
    val in = getClass.getResourceAsStream(s"/refdumps/$name")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** The sorted part files under `dir`, concatenated. */
  private def concatenated(dir: String): String = new java.io.File(dir).listFiles()
    .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    .map(f => read(f.toPath)).mkString

  /** The collected script the `--state` route writes from two snapshots. */
  private def fromState(prodTable: String, backupTable: String,
      prodPath: String, now: String): String = {
    val out = Files.createTempDirectory("graft-state").resolve("out.sql")
    val (_, parts) = job.syncFromBucketed(prodTable, backupTable, prodPath,
      out.toString, now)
    assert(parts.isEmpty)
    read(out)
  }

  test("identical dumps produce zero operations (sync.py:489-490)") {
    val dump = ddl("t", "id", "v") +
      "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n"
    val o = job.run(tmpFile(dump).toString, tmpFile(dump).toString)
    assert(o.ops.isEmpty && o.missingTables.isEmpty && o.extraTables.isEmpty)
    val script = SyncSqlGenerator.assemble(o, "T")
    assert(script.contains("-- Total operations: 0"))
  }

  test("3-way classification: INSERT, UPDATE, DELETE") {
    val prod = ddl("t", "id", "v") +
      "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 10),\n(2, 21),\n(4, 40);\n"
    val backup = ddl("t", "id", "v") +
      "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 10),\n(2, 20),\n(3, 30);\n"
    val o = job.run(tmpFile(prod).toString, tmpFile(backup).toString)
    val byOp = o.ops.groupBy(_.op).view.mapValues(_.map(_.pk).toSet).toMap
    assert(byOp(Differ.OP_INSERT) == Set("4"))
    assert(byOp(Differ.OP_UPDATE) == Set("2"))
    assert(byOp(Differ.OP_DELETE) == Set("3"))
    val script = SyncSqlGenerator.assemble(o, "T")
    assert(script.contains("DELETE FROM `t` WHERE `id` = 3;"))
    assert(script.contains("UPDATE `t` SET `v` = 21 WHERE `id` = 2;"))
    assert(script.contains("INSERT INTO `t` VALUES (4, 40);"))
    // section order: DELETE before UPDATE before INSERT
    val di = script.indexOf("DELETE FROM `t`")
    val ui = script.indexOf("UPDATE `t`")
    val ii = script.indexOf("INSERT INTO `t` VALUES")
    assert(di < ui && ui < ii)
  }

  test("missing/extra tables → CREATE (with DROP IF EXISTS) and DROP sections") {
    val prod = ddl("only_prod", "id") +
      "INSERT INTO `only_prod` (`id`) VALUES\n(1);\n"
    val backup = ddl("only_backup", "id")
    val o = job.run(tmpFile(prod).toString, tmpFile(backup).toString)
    assert(o.missingTables == Seq("only_prod"))
    assert(o.extraTables == Seq("only_backup"))
    // records of a missing table are NOT inserted (reference diffs common
    // tables only, sync.py:256-257)
    assert(o.ops.isEmpty)
    val script = SyncSqlGenerator.assemble(o, "T")
    assert(script.contains("DROP TABLE IF EXISTS `only_backup`;"))
    val createIdx = script.indexOf("-- Creating missing table: only_prod")
    assert(createIdx >= 0)
    assert(script.indexOf("DROP TABLE IF EXISTS `only_prod`;", createIdx) > 0)
    assert(script.contains("CREATE TABLE `only_prod`"))
  }

  test("last-wins dedup: later statement overwrites, order keeps first occurrence (sync.py:64-70)") {
    val prod = ddl("t", "id", "v") +
      "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 10),\n(2, 20);\n" +
      "INSERT INTO `t` (`id`, `v`) VALUES\n(1, 99);\n"
    val backup = ddl("t", "id", "v")
    val o = job.run(tmpFile(prod).toString, tmpFile(backup).toString)
    val ins = o.ops.filter(_.op == Differ.OP_INSERT).sortBy(d => (d.ordOff, d.ordRow))
    assert(ins.map(_.pk) == Seq("1", "2")) // first-occurrence order
    assert(ins.head.rawInsert.get == "INSERT INTO `t` VALUES (1, 99);") // last values
    assert(o.stats("t").productionCount == 2)
  }

  test("INSERT for a table without CREATE is ignored (sync.py:59)") {
    val prod = ddl("t", "id") +
      "INSERT INTO `t` (`id`) VALUES\n(1);\n" +
      "INSERT INTO `ghost` (`id`) VALUES\n(9);\n"
    val o = job.run(tmpFile(prod).toString, tmpFile(prod).toString)
    assert(o.ops.isEmpty)
    assert(!o.prodCatalog.contains("ghost"))
  }

  test("string values: quotes retained, exact string comparison, NULL == NULL") {
    val d = ddl("t", "id", "s")
    val prod = d + "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, NULL),\n(3, 1.0);\n"
    val backup = d + "INSERT INTO `t` (`id`, `s`) VALUES\n(1, \"a\"),\n(2, NULL),\n(3, 1);\n"
    val o = job.run(tmpFile(prod).toString, tmpFile(backup).toString)
    val upd = o.ops.filter(_.op == Differ.OP_UPDATE).map(_.pk).toSet
    // 'a' vs "a" differ (different quote chars); NULL == NULL; 1.0 vs 1 differ
    assert(upd == Set("1", "3"))
  }

  test("differential golden: byte-identical to the reference on the sf0.001 pair") {
    val prod = tmpFile(res("prod_sf0.001.sql"))
    val backup = tmpFile(res("backup_sf0.001.sql"))
    val expected = res("out_sf0.001.sql")
    val o = job.run(prod.toString, backup.toString)
    // header timestamp (line 3) is run-dependent on both sides
    val expLines = expected.split("\n", -1).toSeq
    val now = expLines(2).stripPrefix("-- Generated on: ")
    val got = SyncSqlGenerator.assemble(o, now)
    assert(got.split("\n", -1).toSeq == expLines)
    // the executor-rendered collected path must emit the same bytes
    val out = Files.createTempDirectory("graft-golden").resolve("out.sql")
    assert(job.syncAuto(prod.toString, backup.toString, out.toString, now)._2.isEmpty)
    assert(read(out) == got)
  }

  test("--state fast path: snapshot-rediff script is byte-identical, snapshots reuse") {
    import graft.engine.BucketedSync
    val prod = tmpFile(res("prod_sf0.001.sql"))
    val backup = tmpFile(res("backup_sf0.001.sql"))
    val now = "STATE-TEST"
    val expected = SyncSqlGenerator.assemble(
      job.run(prod.toString, backup.toString), now)

    // first sync: both snapshots written
    assert(BucketedSync.ensureSnapshot(spark, prod.toString, "sjs_prod"))
    assert(BucketedSync.ensureSnapshot(spark, backup.toString, "sjs_backup"))
    val out1 = Files.createTempDirectory("graft-state").resolve("out.sql")
    val (o1, parts1) = job.syncFromBucketed("sjs_prod", "sjs_backup",
      prod.toString, out1.toString, now)
    assert(parts1.isEmpty && read(out1) == expected)
    assert(o1.ops.isEmpty) // fast path never collects per-op rows

    // second sync, nothing changed: both snapshots reused, same bytes
    assert(!BucketedSync.ensureSnapshot(spark, prod.toString, "sjs_prod"))
    assert(!BucketedSync.ensureSnapshot(spark, backup.toString, "sjs_backup"))
    val s2 = fromState("sjs_prod", "sjs_backup", prod.toString, now)
    assert(s2 == expected)

    // a fresh session finding on-disk snapshots but no catalog entry
    // (the CLI-restart case) re-registers over the existing files:
    // simulate by copying the snapshot + sidecar to an unregistered name
    val wh = java.nio.file.Paths.get(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    def rmDir(d: String): Unit = {
      val p = wh.resolve(d)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { java.nio.file.Files.delete(f); () })
    }
    def copyDir(from: String, to: String): Unit = {
      rmDir(to) // idempotent across test re-runs in one workspace
      val src = wh.resolve(from)
      val dst = wh.resolve(to)
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    spark.sql("DROP TABLE IF EXISTS sjs_prod2")
    copyDir("sjs_prod", "sjs_prod2")
    copyDir("sjs_prod_cat", "sjs_prod2_cat")
    assert(!spark.catalog.tableExists("sjs_prod2"))
    assert(!BucketedSync.ensureSnapshot(spark, prod.toString, "sjs_prod2"))
    assert(spark.catalog.tableExists("sjs_prod2"))
    val s3 = fromState("sjs_prod2", "sjs_backup", prod.toString, now)
    assert(s3 == expected)

    // a CHANGED dump re-snapshots and the rediff reflects it
    val prod2 = tmpFile(res("prod_sf0.001.sql") +
      "INSERT INTO `nation` (`n_nationkey`, `n_name`, `n_regionkey`) VALUES\n" +
      "(999999, 'NEWLAND', 0);\n")
    val expected2 = SyncSqlGenerator.assemble(
      job.run(prod2.toString, backup.toString), now)
    assert(BucketedSync.ensureSnapshot(spark, prod2.toString, "sjs_prod"))
    val s4 = fromState("sjs_prod", "sjs_backup", prod2.toString, now)
    assert(s4 == expected2)
    assert(s4 != expected)
  }

  test("syncAuto routes by op count: collected small, distributed large, same bytes") {
    val prod = tmpFile(res("prod_sf0.001.sql"))
    val backup = tmpFile(res("backup_sf0.001.sql"))
    val now = "AUTO-TEST"
    val expected = SyncSqlGenerator.assemble(
      job.run(prod.toString, backup.toString), now)

    val outDir = Files.createTempDirectory("graft-auto")
    val outSmall = outDir.resolve("small.sql")
    // default threshold: this diff is tiny → single-file path
    val (_, parts1) = job.syncAuto(prod.toString, backup.toString,
      outSmall.toString, now)
    assert(parts1.isEmpty)
    assert(read(outSmall) == expected)

    // threshold 0: every op routes to the distributed parts sink;
    // sorted-part concatenation is byte-identical (modulo the text
    // sink's trailing newline)
    val outBig = outDir.resolve("big.sql")
    val (_, parts2) = job.syncAuto(prod.toString, backup.toString,
      outBig.toString, now, maxCollectedOps = 0L)
    assert(parts2.contains(outBig.toString + ".parts"))
    assert(!Files.exists(outBig))
    assert(concatenated(parts2.get) == expected + "\n")

    // one output path across routes: each run leaves only its own
    // route's output, so no reader of either path gets an older script
    val outSame = outDir.resolve("same.sql")
    val partsSame = outSame.toString + ".parts"
    job.syncAuto(prod.toString, backup.toString, outSame.toString, now)
    job.syncAuto(prod.toString, backup.toString, outSame.toString, now,
      maxCollectedOps = 0L)
    assert(!Files.exists(outSame))
    assert(concatenated(partsSame) == expected + "\n")
    job.syncAuto(prod.toString, backup.toString, outSame.toString, now)
    assert(!Files.exists(java.nio.file.Paths.get(partsSame)))
    assert(read(outSame) == expected)
  }

  test("--state route obeys the size rule: past it, <output>.parts replaces the file") {
    import graft.engine.BucketedSync
    val prod = tmpFile(res("prod_sf0.001.sql"))
    val backup = tmpFile(res("backup_sf0.001.sql"))
    val now = "STATE-PARTS"
    val expected = SyncSqlGenerator.assemble(
      job.run(prod.toString, backup.toString), now)
    BucketedSync.ensureSnapshot(spark, prod.toString, "sjs_parts_prod")
    BucketedSync.ensureSnapshot(spark, backup.toString, "sjs_parts_backup")
    val out = Files.createTempDirectory("graft-state-parts").resolve("out.sql")
    // a default-threshold run collects the single file...
    val (_, parts1) = job.syncFromBucketed("sjs_parts_prod", "sjs_parts_backup",
      prod.toString, out.toString, now)
    assert(parts1.isEmpty && Files.exists(out))
    // ...which a run past the size rule replaces with the sorted parts
    val (_, parts2) = job.syncFromBucketed("sjs_parts_prod", "sjs_parts_backup",
      prod.toString, out.toString, now, maxCollectedOps = 0L)
    assert(parts2.contains(out.toString + ".parts"))
    assert(!Files.exists(out), "stale single-file script left behind")
    assert(concatenated(parts2.get) == expected + "\n")
  }

  test("opBytesCol = value text + per-(table, op) catalog-derived skeleton") {
    // the auto routes' driver-heap gate: the estimate must track the
    // rendered volume (value chars dominate wide rows), count ONLY
    // classified ops, prefer the production side's values, and charge
    // the REAL per-table syntax skeleton (column names + keywords +
    // separators), not a flat constant
    import org.apache.spark.sql.functions.sum
    import spark.implicits._
    import graft.model.TableMeta
    val meta = TableMeta("t", IndexedSeq("id", "v"), IndexedSeq("id"), "")
    val cat = Map("t" -> meta)
    val joined = Seq(
      // UPDATE: p_vals counted (10 chars + 2×2 separators)
      ("t", "1", Some(Seq("abcde", "fghij")), Some(Seq("x", "y")), "UPDATE"),
      // INSERT: only p_vals present (3 chars + 2)
      ("t", "2", Some(Seq("abc")), None, "INSERT"),
      // DELETE: falls back to b_vals (4 chars + 2)
      ("t", "3", None, Some(Seq("wxyz")), "DELETE"),
      // unchanged: op null — contributes NOTHING
      ("t", "4", Some(Seq("ignored")), Some(Seq("ignored")), null)
    ).toDF("table", "pk", "p_vals", "b_vals", "op")
    val est = joined.agg(sum(new SyncJob(spark).opBytesCol(cat, cat)))
      .collect().head.getLong(0)
    val updOh = SyncSqlGenerator.updateStatement(
      meta, IndexedSeq("", ""), IndexedSeq("", "")).length + 1
    val insOh = graft.parse.DumpParser.rawInsert("t", Nil).length + 1
    val delOh = SyncSqlGenerator.deleteStatement(meta, IndexedSeq("", "")).length + 1
    assert(est == (10 + 4 + updOh) + (3 + 2 + insOh) + (4 + 2 + delOh),
      s"estimate was $est")
  }

  test("opBytes estimate bounds actual rendered script bytes (wide table, long names)") {
    // the gate's contract: estimate ≥ rendered bytes, so a diff that
    // "fits" under MaxCollectedBytes can never collect a multiple of it
    // onto the driver. Fixture chosen to break the old flat-64 B/op
    // overhead: 12 columns with 24-char names and 1-char values, so the
    // rendered UPDATE is ~overhead-dominated (names + backticks +
    // separators ≈ 400 B vs 12 B of values).
    val cols = (0 until 12).map(i => f"extremely_long_column_$i%03d")
    val mkDdl = s"CREATE TABLE `wide` (\n" +
      cols.map(c => s"  `$c` INT,\n").mkString +
      s"  PRIMARY KEY (`${cols.head}`)\n) ENGINE=InnoDB;\n"
    def row(id: Int, v: Int): String =
      "(" + (id +: Seq.fill(11)(v)).mkString(", ") + ")"
    val prod = mkDdl + s"INSERT INTO `wide` (${cols.map(c => s"`$c`").mkString(", ")}) VALUES\n" +
      s"${row(1, 2)},\n${row(2, 3)},\n${row(4, 4)};\n"
    val backup = mkDdl + s"INSERT INTO `wide` (${cols.map(c => s"`$c`").mkString(", ")}) VALUES\n" +
      s"${row(1, 2)},\n${row(2, 9)},\n${row(3, 5)};\n"
    val o = job.run(tmpFile(prod).toString, tmpFile(backup).toString)
    val est = o.stats.valuesIterator.map(_.opBytes).sum
    // actual rendered statement bytes (incl. one newline each), from
    // the same codegen the script routes use
    val actual = o.ops.map { d =>
      SyncSqlGenerator.renderOp(o.prodCatalog(d.table),
        o.backupCatalog(d.table), d).length + 1L
    }.sum
    assert(o.ops.size == 3) // one each of INSERT/UPDATE/DELETE
    assert(est >= actual, s"estimate $est < actual $actual")
    // ...and the old flat model really would have under-charged: the
    // per-op overhead here exceeds 64 B several times over
    assert(actual > o.ops.size * (64 + 12 * 4),
      s"fixture too narrow to exercise the bound (actual $actual)")
  }

  test("catalogInfo is one Spark job with no exchange before its collect") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val path = tmpFile(new String(
      getClass.getResourceAsStream("/refdumps/prod_sf0.001.sql").readAllBytes(),
      "UTF-8"))
    val stmts = graft.sources.DumpSource.statements(spark, path.toString)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val info = try {
      val i = job.catalogInfo(stmts)
      org.apache.spark.ListenerBusDrain(sc)
      i
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    // DDL order, as a driver-side scan of the dump text finds it
    val ddlOrder = "CREATE TABLE `([^`]+)`".r
      .findAllMatchIn(new String(Files.readAllBytes(path), "UTF-8"))
      .map(_.group(1)).toSeq
    assert(info.metas.keys.toSeq == ddlOrder && ddlOrder.size == 7)
    // the CREATE rows are sorted on the driver: one collect, no range
    // sort (an orderBy("off") ran 3 jobs through an Exchange)
    assert(jobs.get == 1, s"catalogInfo ran ${jobs.get} jobs")
    assert(plans.size == 1 && !plans.peek.contains("Exchange"), plans.peek)
  }

  test("the collected route sorts its lines on the driver: no range sort") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val prod = tmpFile(res("prod_sf0.001.sql"))
    val backup = tmpFile(res("backup_sf0.001.sql"))
    val out = Files.createTempDirectory("graft-collected").resolve("out.sql")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val parts = try {
      val p = job.syncAuto(prod.toString, backup.toString, out.toString, "T")._2
      org.apache.spark.ListenerBusDrain(sc)
      p
    } finally {
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    assert(parts.isEmpty)
    // the line collect after the stats collect is one job with no range
    // sort; a distributed orderBy there made the route 10 jobs
    assert(!plans.iterator.asScala.exists(_.contains("rangepartitioning")),
      plans.iterator.asScala.mkString("\n"))
    assert(jobs.get == 8, s"the collected route ran ${jobs.get} jobs")
  }

  test("records reads a cached scan as Catalyst rows: no object round trip") {
    import org.apache.spark.storage.StorageLevel
    import graft.sources.DumpSource
    val prod = tmpFile(res("prod_sf0.001.sql"))
    val stmts = DumpSource.statements(spark, prod.toString)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val cat = job.catalog(stmts)
      val recs = job.records(stmts, cat)
      assert(recs.count() > 0)
      // the statement rows come from the scan cache, and neither they
      // nor the records go through a typed object
      val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val nodes = Seq(stmts, recs).flatMap(d =>
        plans.collect(d.queryExecution.executedPlan) { case n => n.nodeName })
      assert(nodes.contains("InMemoryTableScan"), nodes)
      assert(!nodes.exists(Set("DeserializeToObject", "SerializeFromObject")), nodes)
    } finally { stmts.unpersist(); () }
  }

  test("two concurrent syncAuto calls on one pair: the single call's bytes, no cache left") {
    // prepare's scans and its joined diff sit on fresh Hadoop RDDs per
    // call, so two calls never share a cache manager entry; a shared
    // one would be released under the other call
    val prod = tmpFile(res("prod_sf0.001.sql")).toString
    val backup = tmpFile(res("backup_sf0.001.sql")).toString
    def sync(): String = {
      val out = Files.createTempDirectory("graft-concurrent").resolve("out.sql")
      try {
        assert(job.syncAuto(prod, backup, out.toString, "T")._2.isEmpty)
        read(out)
      } finally PendingRelease.drain()
    }
    val expected = sync()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        for (r <- 0 until 2) {
          try { if (sync() != expected) errors.add(s"thread $t round $r: script differs") }
          catch { case e: Exception => errors.add(s"thread $t round $r failed: $e") }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a concurrent sync left a persisted RDD")
  }
}
