package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The plan-dump main: write `.explain("formatted")` for each named
  * SparkEntry query to <outDir>/<query>_<tag>.txt, followed by its
  * executed plan — the before/after plan evidence committed under
  * plans/.
  *
  *   runMain graft.tools.PlanSnap before plans/r16 q172_sketch_error_audit,q226_trimmed_mean [sfDir]
  *
  * Uses the bench session shape (local[SPARK_GRAFT_CPUS], AQE on) so the
  * captured plan is the one Bench actually runs; the plan is captured
  * WITHOUT executing (initial plan, isFinalPlan=false) plus the executed
  * plan skeleton after one noop materialization, because AQE's runtime
  * decisions (broadcast rewrites, coalesced reads) are half the story.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = args(1)
    val names = args(2).split(",").toSeq.filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plansnap")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      spark.catalog.clearCache()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      df.write.format("noop").mode("overwrite").save()
      val executed = df.queryExecution.executedPlan.toString
      graft.PendingRelease.drain()
      val body = new StringBuilder
      body ++= s"==== $name ($tag) explain formatted (pre-execution) ====\n"
      body ++= formatted
      body ++= s"\n==== $name ($tag) executed plan (AQE final) ====\n"
      body ++= executed
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
        body.toString)
      println(s"[plansnap] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
