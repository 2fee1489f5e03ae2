package graft

import graft.engine.Scd

/** SCD-2 validity runs from stacked snapshot versions: updates split
  * runs, deletes close them, reinserts open fresh ones, and untouched
  * rows collapse to a single [first, null) run.
  */
class ScdSpec extends SparkSuite {
  import spark.implicits._

  test("scd2 emits one run per unbroken value stretch") {
    // pk 1: constant across v0-v2           → one run [0, null)
    // pk 2: value changes at v1             → [0,1), [1,null)
    // pk 3: deleted at v1, reinserted at v2 → [0,1), [2,null)
    // pk 4: appears first at v2             → [2,null)
    val stacked = Seq(
      (0L, 1L, "a"), (1L, 1L, "a"), (2L, 1L, "a"),
      (0L, 2L, "x"), (1L, 2L, "y"), (2L, 2L, "y"),
      (0L, 3L, "d"), (2L, 3L, "d"),
      (2L, 4L, "n")
    ).toDF("ver", "pk", "v")
    val out = Scd.scd2(stacked, "ver", Seq("pk"), Seq("v"))
      .orderBy("pk", "ver_from")
      .as[(Long, String, Long, Option[Long])].collect().toSeq
    assert(out == Seq(
      (1L, "a", 0L, None),
      (2L, "x", 0L, Some(1L)),
      (2L, "y", 1L, None),
      (3L, "d", 0L, Some(1L)),
      (3L, "d", 2L, None),
      (4L, "n", 2L, None)))
  }

  test("advance folded over snapshots equals batch scd2 (incl. delete/reinsert/update/value-return)") {
    // pk 1: constant; pk 2: update at v1, value RETURNS at v2 (new run,
    // not a merge); pk 3: delete at v1, reinsert at v2; pk 4: insert at
    // v1, delete at v2 (closed run, nothing open); pk 5: appears at v2
    val stacked = Seq(
      (0L, 1L, "a"), (1L, 1L, "a"), (2L, 1L, "a"),
      (0L, 2L, "x"), (1L, 2L, "y"), (2L, 2L, "x"),
      (0L, 3L, "d"), (2L, 3L, "d"),
      (1L, 4L, "t"),
      (2L, 5L, "n")
    ).toDF("ver", "pk", "v")
    val batch = Scd.scd2(stacked, "ver", Seq("pk"), Seq("v"))
      .as[(Long, String, Long, Option[Long])].collect().toSet
    val seed = Scd.scd2(stacked.filter($"ver" === 0), "ver", Seq("pk"), Seq("v"))
    val inc = (1L to 2L).foldLeft(seed) { (runs, v) =>
      Scd.advance(runs, stacked.filter($"ver" === v).select("pk", "v"),
        v, Seq("pk"), Seq("v"))
    }.as[(Long, String, Long, Option[Long])].collect().toSet
    assert(inc == batch)
  }

  test("advanceFoldManaged equals batch scd2 and releases its checkpoints") {
    val stacked = Seq(
      (0L, 1L, "a"), (1L, 1L, "a"), (2L, 1L, "a"),
      (0L, 2L, "x"), (1L, 2L, "y"), (2L, 2L, "x"),
      (0L, 3L, "d"), (2L, 3L, "d"),
      (1L, 4L, "t"),
      (2L, 5L, "n")
    ).toDF("ver", "pk", "v")
    val batch = Scd.scd2(stacked, "ver", Seq("pk"), Seq("v"))
      .as[(Long, String, Long, Option[Long])].collect().toSet
    val seed = Scd.scd2(stacked.filter($"ver" === 0), "ver", Seq("pk"), Seq("v"))
    val sc = spark.sparkContext
    PendingRelease.drain() // this thread's earlier handles are not the fold's
    val before = sc.getPersistentRDDs.keySet
    val folded = Scd.advanceFold(seed,
      (1L to 2L).map(v => (v, stacked.filter($"ver" === v).select("pk", "v"))),
      Seq("pk"), Seq("v"))
    val inc = folded.as[(Long, String, Long, Option[Long])].collect().toSet
    assert(inc == batch)
    PendingRelease.drain()
    assert(sc.getPersistentRDDs.keySet == before,
      "fold checkpoints must be released by cleanup()")
  }

  test("snapshotAt reconstructs every version of the stack from the runs") {
    val stacked = Seq(
      (0L, 1L, "a"), (1L, 1L, "a"), (2L, 1L, "a"),
      (0L, 2L, "x"), (1L, 2L, "y"), (2L, 2L, "y"),
      (0L, 3L, "d"), (2L, 3L, "d"),
      (2L, 4L, "n")
    ).toDF("ver", "pk", "v")
    val runs = Scd.scd2(stacked, "ver", Seq("pk"), Seq("v"))
    (0L to 2L).foreach { v =>
      val got = Scd.snapshotAt(runs, v)
        .as[(Long, String)].collect().toSet
      val want = stacked.filter($"ver" === v).select("pk", "v")
        .as[(Long, String)].collect().toSet
      assert(got == want, s"version $v reconstruction differs")
    }
  }

  test("historyFromState reads a watcher state dir into per-pk validity runs") {
    import java.nio.file.Files
    val watchDir = Files.createTempDirectory("graft-watch-hist")
    val stateDir = Files.createTempDirectory("graft-state-hist").toString
    val ddl = """CREATE TABLE `t` (
                |  `id` INT,
                |  `v` INT,
                |  PRIMARY KEY (`id`)
                |) ENGINE=InnoDB;
                |""".stripMargin
    def dump(rows: (Int, Int)*): String =
      ddl + "INSERT INTO `t` (`id`, `v`) VALUES\n" +
        rows.map { case (id, v) => s"($id, $v)" }.mkString(",\n") + ";\n"
    val q = graft.streaming.DumpWatchSync.start(
      spark, watchDir.toString, stateDir, emitScripts = false)
    try {
      // v0: {1→10, 2→20}; v1: 2 updated; v2: 2 deleted, 3 inserted
      Seq(dump(1 -> 10, 2 -> 20), dump(1 -> 10, 2 -> 21),
          dump(1 -> 10, 3 -> 30)).zipWithIndex.foreach { case (d, i) =>
        Files.write(watchDir.resolve(s"d$i.sql"), d.getBytes("UTF-8"))
        q.processAllAvailable()
      }
      val hist = Scd.historyFromState(spark, stateDir, "t")
        .collect()
        .map(r => (r.getAs[String]("pk"), r.getAs[Seq[String]]("vals").mkString("|"),
          r.getAs[Long]("ver_from"), Option(r.get(r.fieldIndex("ver_to")))))
        .toSeq
      assert(hist == Seq(
        ("1", "1|10", 0L, None),
        ("2", "2|20", 0L, Some(1L)),
        ("2", "2|21", 1L, Some(2L)),
        ("3", "3|30", 2L, None)))
      // single-pk filter
      val one = Scd.historyFromState(spark, stateDir, "t", Some("2"))
        .collect().map(_.getAs[String]("pk")).toSeq
      assert(one == Seq("2", "2"))

      // the watcher's incrementally-maintained history (Scd.advance per
      // arrival; append-only closed log + rewritten open frame) must
      // equal the stack replay above
      val maintained = spark.read.parquet(s"$stateDir/history_closed")
        .unionByName(spark.read.parquet(s"$stateDir/history_open_snapshot_v2"))
        .filter(org.apache.spark.sql.functions.col("table") === "t")
        .collect()
        .map(r => (r.getAs[String]("pk"), r.getAs[Seq[String]]("vals").mkString("|"),
          r.getAs[Long]("ver_from"), Option(r.get(r.fieldIndex("ver_to")))))
        .toSet
      assert(maintained == hist.toSet,
        "incrementally-maintained history differs from the stack replay")

      // after a vacuum removes the snapshot stack, --history still works:
      // historyFromState falls back to the maintained closed+open frames
      graft.streaming.DumpWatchSync.vacuum(stateDir, keepLast = 1)
      val postVacuum = Scd.historyFromState(spark, stateDir, "t")
        .collect()
        .map(r => (r.getAs[String]("pk"), r.getAs[Seq[String]]("vals").mkString("|"),
          r.getAs[Long]("ver_from"), Option(r.get(r.fieldIndex("ver_to")))))
        .toSeq
      assert(postVacuum == hist, "post-vacuum history differs from the stack replay")
      val onePost = Scd.historyFromState(spark, stateDir, "t", Some("2"))
        .collect().map(_.getAs[String]("pk")).toSeq
      assert(onePost == Seq("2", "2"))
    } finally q.stop()
  }

  test("scd2 null values are tracked null-safely") {
    val stacked = Seq(
      (0L, 1L, Option.empty[String]), (1L, 1L, Some("v")), (2L, 1L, None)
    ).toDF("ver", "pk", "v")
    val out = Scd.scd2(stacked, "ver", Seq("pk"), Seq("v"))
      .orderBy("ver_from")
      .as[(Long, Option[String], Long, Option[Long])].collect().toSeq
    assert(out == Seq(
      (1L, None, 0L, Some(1L)),
      (1L, Some("v"), 1L, Some(2L)),
      (1L, None, 2L, None)))
  }
}
