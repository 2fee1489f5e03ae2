package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.engine.{BucketedSync, SyncJob}
import graft.streaming.DumpWatchSync

/** The dump pipeline, the bucketed snapshots and the dump watcher
  * classify through one record diff, so on the same dump pair they must
  * name the same (table, pk, op) set — on the inputs where per-path
  * code would drift first: NULL tokens, superseded duplicate PKs and a
  * row with fewer values than its table has columns.
  */
class RecordDiffSpec extends SparkSuite {

  private def tmpFile(text: String): String = {
    val p = Files.createTempFile("rdiff", ".sql")
    Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  private val ddl =
    """CREATE TABLE `e` (
      |  `id` INT(11),
      |  `a` VARCHAR(255),
      |  `b` VARCHAR(255),
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB;
      |CREATE TABLE `f` (
      |  `id` INT(11),
      |  `v` BIGINT,
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB;
      |""".stripMargin

  private def insert(table: String, rows: String*): String = {
    val cols = if (table == "e") "`id`, `a`, `b`" else "`id`, `v`"
    s"INSERT INTO `$table` ($cols) VALUES\n${rows.mkString(",\n")};\n"
  }

  // every table is in both dumps: the watcher logs a production-only
  // table's rows as INSERTs, while the batch paths emit a CREATE section
  private val prod = ddl +
    insert("e", "(1, NULL, 'x')", "(2, 'y', NULL)", "(3, 'z', 'z')",
      "(4, 'first', 'q')") +
    insert("e", "(4, 'last', 'q')", "(5, 'short')", "(7, 'new', NULL)") +
    insert("f", "(1, 10)", "(2, 20)")
  private val backup = ddl +
    insert("e", "(1, NULL, 'x')", "(2, NULL, 'y')", "(3, 'old', 'z')",
      "(4, 'last', 'q')", "(5, 'short', NULL)") +
    insert("e", "(3, 'z', 'z')", "(6, 'gone', NULL)") +
    insert("f", "(1, 10)", "(2, 20)")

  private def opSet(df: DataFrame): Set[(String, String, String)] =
    df.select("table", "pk", "op").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("dump, bucketed-snapshot and watcher paths classify the same ops") {
    val (pf, bf) = (tmpFile(prod), tmpFile(backup))

    val run = new SyncJob(spark).run(pf, bf).ops
      .map(o => (o.table, o.pk, o.op)).toSet
    assert(run == Set(("e", "2", "UPDATE"), ("e", "5", "UPDATE"),
      ("e", "6", "DELETE"), ("e", "7", "INSERT")))

    BucketedSync.snapshot(spark, pf, "rdiff_prod", buckets = 4)
    BucketedSync.snapshot(spark, bf, "rdiff_backup", buckets = 4)
    assert(opSet(BucketedSync.diff(spark, "rdiff_prod", "rdiff_backup")) == run)
    assert(opSet(BucketedSync.diffChanged(spark, "rdiff_prod", "rdiff_backup")) == run)

    val stateDir = Files.createTempDirectory("rdiff-state").toString
    DumpWatchSync.processDump(spark, bf, stateDir, 0, emitScripts = false)
    DumpWatchSync.processDump(spark, pf, stateDir, 1, emitScripts = false)
    val logged = spark.read.parquet(s"$stateDir/ops").filter(col("batch_id") === 1)
    assert(opSet(logged) == run)
  }
}
