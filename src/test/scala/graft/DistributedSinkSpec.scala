package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.codegen.SyncSqlGenerator
import graft.engine.SyncJob

/** The distributed script sink must emit exactly the driver-assembled
  * script, in the same total order, on either size route.
  */
class DistributedSinkSpec extends SparkSuite {

  test("syncDistributed full-script parts concatenate byte-identically to assemble") {
    def res(name: String): String = {
      val in = getClass.getResourceAsStream(s"/refdumps/$name")
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val prod = Files.createTempFile("fs-prod", ".sql")
    Files.write(prod, res("prod_sf0.001.sql").getBytes("UTF-8"))
    val backup = Files.createTempFile("fs-backup", ".sql")
    Files.write(backup, res("backup_sf0.001.sql").getBytes("UTF-8"))

    val job = new SyncJob(spark)
    val collected = SyncSqlGenerator.assemble(job.run(prod.toString, backup.toString), "T")

    val outDir = Files.createTempDirectory("graft-fullscript").toString
    job.syncDistributed(prod.toString, backup.toString, outDir, "T")
    val parts = Files.list(Paths.get(outDir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    val concatenated = parts.map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString

    // the text sink terminates the final line with '\n'; assemble does not
    assert(concatenated == collected + "\n",
      s"distributed=${concatenated.length}B collected=${collected.length + 1}B")
  }

  test("syncDistributed routes by size; both routes byte-match assemble") {
    def res(name: String): String = {
      val in = getClass.getResourceAsStream(s"/refdumps/$name")
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val prod = Files.createTempFile("auto-prod", ".sql")
    Files.write(prod, res("prod_sf0.001.sql").getBytes("UTF-8"))
    val backup = Files.createTempFile("auto-backup", ".sql")
    Files.write(backup, res("backup_sf0.001.sql").getBytes("UTF-8"))
    val job = new SyncJob(spark)
    val expected = SyncSqlGenerator.assemble(
      job.run(prod.toString, backup.toString), "T") + "\n"
    def concatenated(outDir: String): (Int, String) = {
      val parts = Files.list(Paths.get(outDir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.toString)
      (parts.size,
        parts.map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString)
    }
    // small route: ops fit the threshold → ONE collected part file
    val outSmall = Files.createTempDirectory("graft-auto-small").toString
    job.syncDistributed(prod.toString, backup.toString, outSmall, "T")
    val (nSmall, bytesSmall) = concatenated(outSmall)
    assert(nSmall == 1, s"small route wrote $nSmall part files")
    assert(bytesSmall == expected)
    // forced distributed route (threshold 0): same bytes, multi-part ok
    val outBig = Files.createTempDirectory("graft-auto-big").toString
    job.syncDistributed(prod.toString, backup.toString, outBig, "T",
      maxCollectedOps = 0L)
    assert(concatenated(outBig)._2 == expected)
    // routed overwrite: running the big route into the small route's dir
    // must leave exactly the text sink's layout (stale part-00000 gone)
    job.syncDistributed(prod.toString, backup.toString, outSmall, "T",
      maxCollectedOps = 0L)
    assert(concatenated(outSmall)._2 == expected)
  }
}
