package graft

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.codegen.SyncSqlGenerator
import graft.engine.SyncJob

/** Compressed dump input: mysqldump output commonly ships gzipped, and
  * Hadoop's text input decodes .gz transparently (single split — gzip
  * isn't splittable — with unique, strictly increasing record offsets,
  * which is all the engine's statement ordering needs). The sync script
  * from a gzipped pair must be byte-identical to the plain-text run.
  */
class GzDumpSpec extends SparkSuite {

  private def gzip(src: String): String = {
    val dst = src + ".gz"
    val out = new GZIPOutputStream(new FileOutputStream(dst))
    try out.write(Files.readAllBytes(Paths.get(src)))
    finally out.close()
    dst
  }

  private def tmpFile(text: String): String = {
    val p = Files.createTempFile("gzdump", ".sql")
    Files.write(p, text.getBytes("UTF-8"))
    p.toString
  }

  private val ddl =
    """CREATE TABLE `t` (
      |  `id` INT(11),
      |  `s` VARCHAR(255),
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB;
      |""".stripMargin

  test("gzipped dump pair produces a byte-identical sync script") {
    val prod = tmpFile(ddl +
      "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'b'),\n(4, 'd');\n")
    val backup = tmpFile(ddl +
      "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'x'),\n(3, 'c');\n")
    val job = new SyncJob(spark)
    val plain = SyncSqlGenerator.assemble(job.run(prod, backup), "T")
    val gz = SyncSqlGenerator.assemble(job.run(gzip(prod), gzip(backup)), "T")
    assert(gz == plain)
    assert(plain.contains("UPDATE") && plain.contains("DELETE") &&
      plain.contains("INSERT"))
  }

  // a table missing from the backup gets its CREATE section sliced from
  // the production dump at offsets counted in decompressed bytes
  private def missingTablePair(): (String, String) = (
    tmpFile(ddl +
      "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'b');\n" +
      "CREATE TABLE `u` (\n  `id` INT(11),\n  PRIMARY KEY (`id`)\n" +
      ") ENGINE=InnoDB;\nINSERT INTO `u` (`id`) VALUES\n(7);\n"),
    tmpFile(ddl +
      "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a'),\n(2, 'x');\n"))

  test("gzipped pair with a table missing from the backup: plain script") {
    val (prod, backup) = missingTablePair()
    val job = new SyncJob(spark)
    val plain = SyncSqlGenerator.assemble(job.run(prod, backup), "T")
    assert(plain.contains("-- Creating missing table: u"))
    assert(SyncSqlGenerator.assemble(job.run(gzip(prod), gzip(backup)), "T") == plain)
  }

  test("file: URI pair with a table missing from the backup: plain script") {
    val (prod, backup) = missingTablePair()
    val job = new SyncJob(spark)
    val plain = SyncSqlGenerator.assemble(job.run(prod, backup), "T")
    assert(SyncSqlGenerator.assemble(
      job.run("file:" + prod, "file:" + backup), "T") == plain)
  }

  test("gz statement scan: same statements, unique increasing offsets") {
    val f = tmpFile(ddl + "INSERT INTO `t` (`id`, `s`) VALUES\n(1, 'a');\n")
    val plain = graft.sources.DumpSource.statements(spark, f).collect()
      .sortBy(_.off)
    val g = graft.sources.DumpSource.statements(spark, gzip(f)).collect()
      .sortBy(_.off)
    assert(plain.map(_.text).toSeq == g.map(_.text).toSeq)
    assert(g.map(_.off).distinct.length == g.length)
  }
}
