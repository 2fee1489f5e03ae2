package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.engine.SyncJob

/** Scale-validation harness (round-10): runs every bench entry ONCE at a
  * small scale factor and ONCE at a tiled large one (see [[ScaleUp]]) in
  * the same JVM — small first, so the large run never pays codegen /
  * class-load costs and the per-entry ratio isolates the DATA-scaling
  * signal. Emits `scale_bench.json` with per-entry seconds at both SFs
  * and the growth ratio, plus a one-line JSON summary on stdout.
  *
  *   runMain graft.tools.ScaleBench /root/testdata/sf0.1 /tmp/graft_sf1 10
  *
  * Reading the ratios: with a 10× tile, a perfectly linear operator
  * lands near 10 MINUS fixed overheads (scheduling, bounded aggregates),
  * so single-digit ratios are healthy; a ratio well above the factor
  * flags super-linear growth in THAT entry's plan — the thing this tool
  * exists to catch. Store-backed entries (fingerprint-gated /tmp
  * stores) pay their one-time build inside the timed run at each SF.
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val smallDir = args(0)
    val bigDir = args(1)
    val factor = if (args.length > 2) args(2).toDouble else 10.0

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-scalebench")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      graft.PendingRelease.drain() // this thread's deferred handles
    }

    def dumps(sfDir: String): (String, String) = {
      val sfName = Paths.get(sfDir).getFileName.toString
      val dir = s"/tmp/graft_bench_dumps_${sfName}_v${DumpGen.FormatVersion}"
      if (Files.exists(Paths.get(dir, "prod.sql")) &&
          Files.exists(Paths.get(dir, "backup.sql")))
        (s"$dir/prod.sql", s"$dir/backup.sql")
      else {
        val (p, b) = DumpGen.generate(spark, sfDir, dir)
        (p.toString, b.toString)
      }
    }

    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()

    def entry(name: String, body: String => Unit): Unit = {
      // pay the previous entry's GC/cleaner debt outside the timings
      // (same hygiene as Bench.runEntry): back-to-back big runs
      // otherwise bleed shuffle/broadcast reclamation into the next
      // entry — measured 2× on sync_dump_diff_distributed@10×
      System.gc()
      spark.catalog.clearCache()
      val tSmall = try time(body(smallDir)) catch { case _: Throwable => -1.0 }
      spark.catalog.clearCache()
      val tBig = try time(body(bigDir)) catch { case _: Throwable => -1.0 }
      results(name) = (tSmall, tBig)
      val ratio = if (tSmall > 0 && tBig >= 0) tBig / tSmall else -1.0
      println(f"[scale] $name%-32s small=$tSmall%8.2fs big=$tBig%8.2fs ratio=$ratio%6.2f")
    }

    // SPARK_GRAFT_BENCH_ONLY (same contract as Bench): comma-separated
    // name prefixes — run only matching entries, e.g. for scale-checking
    // a new query wave without re-timing the whole suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    def wanted(name: String): Boolean =
      only.forall(_.exists(name.startsWith))

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
        entry(name, dir => materialize(fn(spark, dir)))
      }

    // sync core: full dump diff at both SFs (dump generation untimed)
    if (wanted("sync_dump_diff")) {
      val (ps, bs) = dumps(smallDir)
      val (pb, bb) = dumps(bigDir)
      entry("sync_dump_diff", dir => {
        val (p, b) = if (dir == smallDir) (ps, bs) else (pb, bb)
        new SyncJob(spark).syncCollected(p, b, "scale")
        ()
      })
    }
    // the 100 TB sink: executor-rendered script straight to a text sink,
    // no driver collect — the ratio the core product claims at scale
    // (byte parity with the collected script is DistributedSinkSpec's)
    if (wanted("sync_dump_diff_distributed")) {
      val (ps, bs) = dumps(smallDir)
      val (pb, bb) = dumps(bigDir)
      // one reusable output dir per SF (the sinks overwrite) — a fresh
      // temp dir per timed run leaks script copies under /tmp
      val outs = Map(
        smallDir -> Files.createTempDirectory("graft-scale-sync").toString,
        bigDir -> Files.createTempDirectory("graft-scale-sync").toString)
      // the deployment entry: size-routed (small diffs collect into one
      // part file, past-threshold diffs take the distributed text sink)
      entry("sync_dump_diff_distributed", dir => {
        val (p, b) = if (dir == smallDir) (ps, bs) else (pb, bb)
        new SyncJob(spark).syncDistributed(p, b, outs(dir), "scale")
        ()
      })
      // the forced 100 TB sink (maxCollectedOps=0): keeps the pure
      // executor-rendered no-driver-collect path measured at scale even
      // when the routed entry's tiles both fit the collected route
      entry("sync_dump_diff_distributed_pure", dir => {
        val (p, b) = if (dir == smallDir) (ps, bs) else (pb, bb)
        new SyncJob(spark).syncDistributed(p, b, outs(dir), "scale",
          maxCollectedOps = 0L)
        ()
      })
    }

    def r3(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
    val entries = results.toSeq
    val json = entries.map { case (k, (s, b)) =>
      val ratio = if (s > 0 && b >= 0) b / s else -1.0
      s""""$k":{"small_sec":${r3(s)},"big_sec":${r3(b)},"ratio":${r3(ratio)}}"""
    }.mkString("{", ",", "}")
    val okRatios = entries.collect {
      case (_, (s, b)) if s > 0.05 && b >= 0 => b / s
    }.sorted
    val med = if (okRatios.isEmpty) -1.0 else okRatios(okRatios.size / 2)
    val totalSmall = entries.map(_._2._1).filter(_ >= 0).sum
    val totalBig = entries.map(_._2._2).filter(_ >= 0).sum
    val full =
      s"""{"metric":"scale_ratio_median","value":${r3(med)},"factor":$factor,"total_small_sec":${r3(totalSmall)},"total_big_sec":${r3(totalBig)},"n_entries":${entries.size},"small":"$smallDir","big":"$bigDir","entries":$json}"""
    // a filtered run must not clobber the full artifact — land it in a
    // sidecar for the caller to merge (tools/merge_scale_bench.py)
    val outFile =
      if (only.isDefined) "scale_bench_partial.json" else "scale_bench.json"
    Files.writeString(Paths.get(outFile), full)
    spark.stop()
    println(full.take(300))
    println(s"[scale] median ratio $med over ${okRatios.size} entries (factor $factor); full detail in scale_bench.json")
  }
}
