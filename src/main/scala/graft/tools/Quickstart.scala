package graft.tools

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Copy-paste product tour: one subcommand per real user entry point,
  * each driving the SAME library surface the oracle queries and the CLI
  * use, against a /root/testdata scale-factor dir. `tools/quickstart.sh`
  * runs all of them CI-style and asserts on the printed markers.
  *
  *   runMain graft.tools.Quickstart dumps  [sfDir] [outDir]
  *   runMain graft.tools.Quickstart sync   [outDir]   — CLI dump→script
  *   runMain graft.tools.Quickstart watch  [outDir]   — CDC watcher + SCD history
  *   runMain graft.tools.Quickstart curate [sfDir]    — 6-stage curation DAG
  *   runMain graft.tools.Quickstart dedup  [sfDir]    — the dedup family
  *   runMain graft.tools.Quickstart ann    [sfDir]    — persisted ANN store
  */
object Quickstart {

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("help")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-quickstart")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cmd, args.drop(1)) finally spark.stop()
  }

  private def run(spark: SparkSession, cmd: String, args: Array[String]): Unit =
    cmd match {
      case "dumps" =>
        val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
        val outDir = args.lift(1).getOrElse("/tmp/graft_quickstart")
        val (p, b) = DumpGen.generate(spark, sfDir, outDir)
        println(s"[quickstart] dumps written: $p, $b")

      case "sync" =>
        // the reference-parity CLI path, library form: two mysqldump-style
        // snapshots in, one ordered CRUD sync script out
        val outDir = args.lift(0).getOrElse("/tmp/graft_quickstart")
        val (outcome, partsDir) = new graft.engine.SyncJob(spark)
          .syncAuto(s"$outDir/prod.sql", s"$outDir/backup.sql",
            s"$outDir/sync.sql", java.time.LocalDateTime.now().toString)
        val ops = outcome.stats.valuesIterator
          .map(s => s.missingCount + s.updatedCount + s.deletedCount).sum
        println(s"[quickstart] sync script: ${partsDir.getOrElse(s"$outDir/sync.sql")} " +
          s"($ops ops, ${outcome.stats.size} tables)")

      case "watch" =>
        // the CDC watcher's per-arrival advance: v1 then v2 of the same
        // database; state under stateDir feeds `--history` / `--vacuum`
        val outDir = args.lift(0).getOrElse("/tmp/graft_quickstart")
        val stateDir = s"$outDir/watch_state"
        graft.streaming.DumpWatchSync.processDump(spark,
          s"$outDir/prod.sql", stateDir, 1L, emitScripts = false)
        graft.streaming.DumpWatchSync.processDump(spark,
          s"$outDir/backup.sql", stateDir, 2L, emitScripts = false)
        val hist = graft.engine.Scd
          .historyFromState(spark, stateDir, "orders", None)
        println(s"[quickstart] watcher state: $stateDir " +
          s"(2 versions; orders history rows=${hist.count()})")

      case "curate" =>
        // the 6-stage curation DAG (quality gate → exact dedup → LSH
        // near-dup → leakage-aware split → mixture → packing) — q179's
        // oracle-pinned pipeline, on the documents table
        val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
        val out = graft.SparkEntry.queries("q179_curation_dag")(spark, sfDir)
        val rows = out.collect()
        println(s"[quickstart] curation DAG stages:")
        rows.foreach(r => println(s"  $r"))
        println(s"[quickstart] curate done (${rows.length} stage rows)")

      case "dedup" =>
        // the dedup family on one corpus: exact, MinHash-LSH (lossy,
        // banded), prefix-filter exact Jaccard (lossless)
        val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
        val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
        val exact = graft.operators.Dedup
          .exact(d, "doc_id", lower(col("text"))).count()
        val lsh = graft.operators.Dedup.minhashLshPairs(d, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5).count()
        val sh = graft.operators.Dedup
          .hashedShingleTable(d, "doc_id", "text", 3)
        val pf = graft.operators.Dedup.prefixFilterPairs(sh, 500000L,
          persist = false).count()
        println(s"[quickstart] dedup: exact-dup rows=$exact, " +
          s"lsh pairs (J>=0.5)=$lsh, prefix-filter exact pairs (J>=0.5)=$pf")

      case "ann" =>
        // the persisted train-once/probe-many ANN store: fingerprint-
        // gated IVF+PQ build, then partition-pruned probes
        val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
        val idx = "/tmp/graft_quickstart_ann_" +
          Paths.get(sfDir).getFileName.toString
        val e = graft.Tables.embeddings(spark, sfDir)
        graft.operators.AnnIndex.ensureBuild(e, "vec_id", "embedding", idx)
        val hits = graft.operators.AnnIndex.probe(spark,
          e.filter(col("vec_id") < 3), "vec_id", "embedding", idx, k = 3)
        val n = hits.count()
        hits.orderBy("query_id", "rank").collect()
          .foreach(r => println(s"  $r"))
        println(s"[quickstart] ann: index at $idx, ${n} probe hits")

      case other =>
        System.err.println(s"unknown quickstart subcommand: $other " +
          "(want: dumps|sync|watch|curate|dedup|ann)")
        sys.exit(2)
    }
}
