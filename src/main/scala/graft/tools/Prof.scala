package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{SyncJob, TypedMode, BucketedSync}
import graft.sources.DumpSource

/** Scratch profiling main for round-4 perf work (not shipped surface). */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-prof")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROF $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def mat(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val which = if (args.nonEmpty) args(0) else "q39"
    which match {
      case "q39" =>
        val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
        val outDir = s"/tmp/graft_typed_dumps_${sfName}_v${DumpGen.FormatVersion}"
        val (prod, backup) = time("generatePkKeyed") {
          DumpGen.generatePkKeyed(spark, sfDir, outDir, "orders", "o_orderkey")
        }
        val job = new SyncJob(spark)
        val stmtsP = DumpSource.statements(spark, prod.toString)
        println("PROF stmts partitions = " + stmtsP.rdd.getNumPartitions)
        time("stmts count P")(stmtsP.count())
        time("stmts count P again")(stmtsP.count())
        val catP = time("catalog P")(job.catalog(stmtsP))
        val recsP = job.records(stmtsP, catP)
        time("records P mat")(mat(recsP))
        val typedP = TypedMode.typedTable(recsP, catP("orders"))
        time("typed table P mat")(mat(typedP))
        // full query twice
        time("q39 full cold-ish")(mat(graft.queries.TypedQueries.q39(spark, sfDir)))
        time("q39 full warm")(mat(graft.queries.TypedQueries.q39(spark, sfDir)))
      case "snap" =>
        val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
        val cacheDir = s"/tmp/graft_bench_dumps_${sfName}_v${DumpGen.FormatVersion}"
        val prodPath = java.nio.file.Paths.get(cacheDir, "prod.sql")
        val backupPath = java.nio.file.Paths.get(cacheDir, "backup.sql")
        time("snapshot prod")(BucketedSync.snapshot(spark, prodPath.toString, "prof_bk_prod"))
        time("snapshot backup")(BucketedSync.snapshot(spark, backupPath.toString, "prof_bk_backup"))
        time("snapshot prod again")(BucketedSync.snapshot(spark, prodPath.toString, "prof_bk_prod"))
        // breakdown
        val job = new SyncJob(spark)
        val stmts = DumpSource.statements(spark, prodPath.toString)
        val cat = time("catalog")(job.catalog(stmts))
        val recs = job.records(stmts, cat)
        time("records mat (noop)")(mat(recs))
        time("rediff")(mat(BucketedSync.diff(spark, "prof_bk_prod", "prof_bk_backup")))
      case "q54ab" =>
        import org.apache.spark.sql.functions._
        def corpus(base: org.apache.spark.sql.DataFrame) = {
          val d = base.select(col("doc_id"), col("text"))
          d.unionByName(d.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(col("text"), lit(" zq zq zq")).as("text")))
        }
        val raw = spark.read.parquet(s"$sfDir/documents.parquet")
        val pre = corpus(raw) // internal Dedup.spread repartitions post-union
        val post = corpus(graft.operators.Spread.ensure(raw, "doc_id"))
        def pairs(df: org.apache.spark.sql.DataFrame) =
          graft.operators.Dedup.simhashPairs(df, "doc_id", "text", 1)
            .orderBy("id_a", "id_b")
        time("q54 pre-style (spread after union) cold")(mat(pairs(pre)))
        time("q54 pre-style warm")(mat(pairs(pre)))
        time("q54 post-style (spread in loader) cold")(mat(pairs(post)))
        time("q54 post-style warm")(mat(pairs(post)))
      case "q54raw" =>
        val raw = spark.read.parquet(s"$sfDir/documents.parquet")
        def pairs(df: org.apache.spark.sql.DataFrame) =
          graft.operators.Dedup.simhashPairs(df, "doc_id", "text", 1)
            .orderBy("id_a", "id_b")
        time("q54 raw (no spread) cold")(mat(pairs(raw)))
        time("q54 raw (no spread) warm")(mat(pairs(raw)))
        val spreaded = graft.operators.Spread.ensure(raw, "doc_id")
        time("q54 spread cold")(mat(pairs(spreaded)))
        time("q54 spread warm")(mat(pairs(spreaded)))
      case "q204" =>
        // stage budget for the prefix-filter join: shingles, prefix,
        // candidates (with/without the positional filter), verify
        val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
        val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zq zq zq")).as("text")))
        val sh = graft.operators.Dedup.hashedShingleTable(
          corpus, "doc_id", "text", 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time("shingle table mat")(println("rows=" + sh.count()))
        val tPpm = 600000L
        val sz = sh.groupBy("id").agg(count(lit(1)).as("sz"))
        val dfq = sh.groupBy("shingle").agg(count(lit(1)).as("dfq"))
        time("sz+dfq aggs")(println(
          "docs=" + sz.count() + " shingles=" + dfq.count()))
        val pre = sh.join(dfq, "shingle")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("id").orderBy("dfq", "shingle")))
          .join(sz, "id")
          .filter(col("rn") <=
            col("sz") - expr(s"($tPpm * sz + 999999) div 1000000") + lit(1))
          .select("id", "shingle", "sz", "rn")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        time("prefix table mat")(println("prefix rows=" + pre.count()))
        val joined = pre.select(col("id").as("id_a"), col("shingle"),
            col("sz").as("sz_a"), col("rn").as("rn_a"))
          .join(pre.select(col("id").as("id_b"), col("shingle"),
            col("sz").as("sz_b"), col("rn").as("rn_b")), "shingle")
          .filter(col("id_a") < col("id_b") &&
            col("sz_a") * lit(tPpm) <= col("sz_b") * lit(1000000L) &&
            col("sz_b") * lit(tPpm) <= col("sz_a") * lit(1000000L))
        time("cand distinct (no positional)")(println("cand=" +
          joined.select("id_a", "id_b").distinct().count()))
        val ub = least(col("rn_a") - 1, col("rn_b") - 1) + lit(1) +
          least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))
        val alpha = expr(s"($tPpm * (sz_a + sz_b)" +
          s" + ${1000000L + tPpm} - 1) div ${1000000L + tPpm}")
        time("cand with positional")(println("cand_pos=" +
          joined.filter(ub >= alpha)
            .groupBy("id_a", "id_b", "sz_a", "sz_b")
            .agg(min(ub).as("ubm")).filter(col("ubm") >= alpha).count()))
        time("full q204 (current impl)")(mat(
          graft.operators.Dedup.prefixFilterPairs(sh, tPpm, persist = false)))
        time("full q204 again")(mat(
          graft.operators.Dedup.prefixFilterPairs(sh, tPpm, persist = false)))
      case "q55" =>
        time("q55 cold")(mat(graft.SparkEntry.queries("q55_ann_pq")(spark, sfDir)))
        spark.catalog.clearCache()
        time("q55 warm")(mat(graft.SparkEntry.queries("q55_ann_pq")(spark, sfDir)))
      case "q233" =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.storage.StorageLevel
        val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
        val fresh = d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zq zq zq")).as("text"))
        val store = graft.Tables.storeDir("prefix_store", sfDir)
        time("ensureBuild (gate)")(
          graft.operators.Dedup.prefixStoreEnsure(d, "doc_id", "text",
            3, 600000L, store))
        val shF = graft.operators.Dedup.hashedShingleTable(
          fresh, "doc_id", "text", 3).persist(StorageLevel.MEMORY_AND_DISK)
        // mirror the shipped operator exactly: buckets from the store's
        // META, unseen grams ranked LAST (Dedup.scala's own measured
        // degeneracy note) — the decomposition must profile the
        // production plan, not a worse cousin
        val buckets = graft.operators.ContentGate.readSmall(store, "META")
          .get.trim.split(",")(2).toLong
        val touched = time("touched collect")(shF
          .select(pmod(col("shingle"), lit(buckets)).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq)
        println("touched=" + touched.size)
        val dfC = spark.read.parquet(s"$store/df")
          .filter(col("b").isin(touched: _*)).select("shingle", "dfq")
        time("df read")(println("df=" + dfC.count()))
        val idw = Window.partitionBy("id")
        val preF = shF.join(dfC, Seq("shingle"), "left")
          .withColumn("dfq", coalesce(col("dfq"), lit(Long.MaxValue)))
          .withColumn("rn", row_number().over(idw.orderBy("dfq", "shingle")))
          .withColumn("sz", count(lit(1)).over(idw))
          .filter(col("rn") <=
            col("sz") - expr("(600000 * sz + 999999) div 1000000") + lit(1))
          .select("id", "shingle", "sz", "rn")
          .persist(StorageLevel.MEMORY_AND_DISK)
        time("preF mat")(println("preF=" + preF.count()))
        val preC = spark.read.parquet(s"$store/pre")
          .filter(col("b").isin(touched: _*))
          .select("id", "shingle", "sz", "rn")
        time("preC read")(println("preC=" + preC.count()))
        val arrsC = spark.read.parquet(s"$store/arr").select("id", "toks")
        time("arr read")(println("arr=" + arrsC.count()))
        // candidate + verify stages inlined (the oneSidedPrefixPairs
        // body) against the persisted preF, to localize the probe cost
        val rightX = preC.withColumn("_fr", lit(false))
          .unionByName(preF.withColumn("_fr", lit(true)))
        val alphaX = expr("(600000 * (sz_a + sz_b)" +
          " + 1599999) div 1600000")
        val candX = preF
          .select(col("id").as("id_l"), col("shingle"),
            col("sz").as("sz_l"), col("rn").as("rn_l"))
          .join(rightX.select(col("id").as("id_r"), col("shingle"),
            col("sz").as("sz_r"), col("rn").as("rn_r"), col("_fr")),
            "shingle")
          .filter(col("id_l") =!= col("id_r") &&
            (!col("_fr") || col("id_l") < col("id_r")) &&
            col("sz_l") * lit(600000L) <= col("sz_r") * lit(1000000L) &&
            col("sz_r") * lit(600000L) <= col("sz_l") * lit(1000000L))
          .select(least(col("id_l"), col("id_r")).as("id_a"),
            greatest(col("id_l"), col("id_r")).as("id_b"),
            when(col("id_l") < col("id_r"), col("sz_l"))
              .otherwise(col("sz_r")).as("sz_a"),
            when(col("id_l") < col("id_r"), col("sz_r"))
              .otherwise(col("sz_l")).as("sz_b"),
            when(col("id_l") < col("id_r"), col("rn_l"))
              .otherwise(col("rn_r")).as("rn_a"),
            when(col("id_l") < col("id_r"), col("rn_r"))
              .otherwise(col("rn_l")).as("rn_b"))
        time("raw band-join rows")(println("raw=" + candX.count()))
        val candG = candX.groupBy("id_a", "id_b", "sz_a", "sz_b")
          .agg(count(lit(1)).as("c"),
            max("rn_a").as("ma"), max("rn_b").as("mb"))
          .filter(col("c") +
            least(col("sz_a") - col("ma"), col("sz_b") - col("mb")) >= alphaX)
          .select("id_a", "id_b", "sz_a", "sz_b")
          .persist(StorageLevel.MEMORY_AND_DISK)
        time("cand grouped")(println("cand=" + candG.count()))
        val arrsX = arrsC.unionByName(
          shF.groupBy("id").agg(collect_list(col("shingle")).as("toks")))
        time("verify")(println("pairs=" + candG
          .join(arrsX.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
          .join(arrsX.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
          .withColumn("inter",
            size(array_intersect(col("ta"), col("tb"))).cast("long"))
          .filter(expr("(cast(inter as decimal(38,0)) * 1000000)" +
            " div (sz_a + sz_b - inter)").cast("long") >= 600000L)
          .count()))
        time("full probe")(mat {
          val (p, rel) = graft.operators.Dedup.prefixStoreProbeDelta(
            fresh, "doc_id", "text", store)
          graft.PendingRelease.defer(rel); p
        })
        time("full probe again")(mat {
          val (p, rel) = graft.operators.Dedup.prefixStoreProbeDelta(
            fresh, "doc_id", "text", store)
          graft.PendingRelease.defer(rel); p
        })
        time("full q232 (recompute)")(mat(
          graft.SparkEntry.queries("q232_prefix_delta_join")(spark, sfDir)))
      case "q179" =>
        // r16: stage budget for the curation DAG — where do the 5 s go?
        import org.apache.spark.storage.StorageLevel
        import org.apache.spark.sql.expressions.Window
        val lvl = StorageLevel.MEMORY_AND_DISK
        val docs = graft.Tables.documents(spark, sfDir)
          .select("doc_id", "text", "source")
        (1 to 2).foreach { pass =>
          spark.catalog.clearCache()
          val gated = docs
            .select(col("doc_id"), col("text"), col("source"),
              graft.operators.TextOps.gopherRules(col("text")).last)
            .filter(col("gopher_score") >= 4).drop("gopher_score")
            .persist(lvl)
          time(s"p$pass 1 gate count")(gated.count())
          val exact = gated
            .withColumn("keeper", min(col("doc_id"))
              .over(Window.partitionBy(md5(col("text").cast("binary")))))
            .filter(col("doc_id") === col("keeper")).drop("keeper")
            .persist(lvl)
          time(s"p$pass 2 exact count")(exact.count())
          val pairs = graft.operators.Dedup.minhashLshPairs(exact,
              "doc_id", "text", 3, 16, 4, 0.5)
            .select("id_a", "id_b").persist(lvl)
          time(s"p$pass 3 lsh count")(pairs.count())
          val split = graft.operators.Curate.leakageAwareSplit(exact,
              col("doc_id"), pairs,
              Seq(("train", 80), ("val", 10), ("test", 10))).persist(lvl)
          time(s"p$pass 4 split count")(split.count())
          val train = split.filter(col("split") === "train")
            .select("doc_id", "text", "source")
          val mixed = graft.operators.Curate.mixToBudget(train, "source",
              col("doc_id"), Seq("src0" -> 1L, "src1" -> 1L, "src2" -> 8L),
              100L, 64).persist(lvl)
          time(s"p$pass 5 mix count")(mixed.count())
          val stream = mixed
            .join(train.select(col("doc_id"),
              size(graft.functions.Portable.tokens(col("text"))).as("n_tok")),
              Seq("doc_id"))
            .withColumn("copy", explode(sequence(lit(1L), col("copies"))))
            .select((col("doc_id") * 1000L + col("copy")).as("mid"),
              col("n_tok"))
          val report = graft.operators.Curate.packingReport(
            graft.operators.Curate.packSequences(stream, "mid",
              col("n_tok"), 2048L, 8), 2048L)
          time(s"p$pass 6 packing mat")(mat(report))
          time(s"p$pass 7 stats union")(
            mat(graft.queries.PipelineQueries.q179(spark, sfDir)))
          // decompose the stats union on WARM caches: which branch costs?
          def stat(stage: String, k: String,
              v: org.apache.spark.sql.Column,
              from: org.apache.spark.sql.DataFrame) =
            from.agg(v.cast("long").as("v"))
              .select(lit(stage).as("stage"), lit(k).as("k"), col("v"))
          time(s"p$pass 7a gate stat")(mat(stat("1", "n", count(lit(1)), gated)))
          time(s"p$pass 7b exact stat")(mat(stat("2", "n", count(lit(1)), exact)))
          time(s"p$pass 7c pairs stat")(mat(stat("3", "n", count(lit(1)), pairs)))
          time(s"p$pass 7d split stat")(mat(
            split.groupBy("split").agg(count(lit(1)).cast("long").as("v"))))
          time(s"p$pass 7e mix stats")(mat(
            stat("5", "n", count(lit(1)), mixed)
              .unionByName(stat("5", "c", sum(col("copies")), mixed))))
          time(s"p$pass 7f report branch")(mat(report))
          Seq(gated, exact, pairs, split, mixed).foreach(_.unpersist())
        }
      case "q88" =>
        // r17: decompose the honest per-run cost of medianMad (q88)
        // exposed once the release sweep removed cross-run cache reuse
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobEnd(
                e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
              jobs.incrementAndGet(); ()
            }
          })
        for (i <- 1 to 3) {
          spark.catalog.clearCache()
          val j0 = jobs.get
          time(s"q88 full run $i")(
            mat(graft.SparkEntry.queries("q88_median_mad")(spark, sfDir)))
          val j1 = jobs.get
          time(s"q88 drain $i")(graft.PendingRelease.drain())
          println(s"PROF q88 run $i jobs=${j1 - j0}")
        }
        // phases, cold caches
        spark.catalog.clearCache()
        val li88 = graft.Tables.lineitem(spark, sfDir)
        val counts88 = li88.select(col("l_returnflag").as("g"),
            round(col("l_extendedprice") * 100).cast("long").as("v"))
          .groupBy("g", "v").agg(count(lit(1)).as("c"))
        time("phase counts groupBy mat")(mat(counts88))
        time("phase counts distinct rows")(println(
          "  counts rows = " + counts88.count()))
        val (mm, rel) = graft.operators.Stats.medianMadManaged(li88,
          col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long"), z = 3,
          domainBits = 32)
        val jA = jobs.get
        time("phase medianMad build (eager t1 counts)")(())
        time("phase medianMad materialize")(mat(mm))
        println(s"PROF q88 medianMad jobs=${jobs.get - jA}")
        time("phase release")(rel())
        // r16: 2x rankSelect vs 1x rankSelectMulti on the q226 counts
        // shape — where does the multi-descent time go?
        import org.apache.spark.storage.StorageLevel
        import org.apache.spark.sql.Column
        val li = graft.Tables.lineitem(spark, sfDir)
        val counts = li.select(col("l_returnflag").as("g"),
            round(col("l_extendedprice") * 100).cast("long").as("v"))
          .groupBy("g", "v").agg(count(lit(1)).as("c"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        time("counts mat")(println("counts=" + counts.count()))
        val tLo = (nn: Column) => ((nn * 5 + 99) / 100).cast("long")
        val tHi = (nn: Column) => ((nn * 95 + 99) / 100).cast("long")
        (1 to 3).foreach { i =>
          time(s"single x2 #$i") {
            val (lo, r1) = graft.operators.Stats.rankSelect(counts,
              Seq("g"), "c", tLo, "lo", persistInput = false, domainBits = 40)
            val (hi, r2) = graft.operators.Stats.rankSelect(counts,
              Seq("g"), "c", tHi, "hi", persistInput = false, domainBits = 40)
            println(lo.join(hi, Seq("g")).collect().length)
            r1(); r2()
          }
          time(s"multi    #$i") {
            val (b, r) = graft.operators.Stats.rankSelectMulti(counts,
              Seq("g"), "c", Seq(0L -> tLo, 1L -> tHi), "__t", "bv",
              persistInput = false, domainBits = 40)
            println(b.collect().length)
            r()
          }
        }
        counts.unpersist()
      case "q180" =>
        // stage budget for the capped LSH: shingles, bands, hot agg,
        // capped anti-join, candidates, verify
        import org.apache.spark.storage.StorageLevel
        val d0 = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
        val hotDocs = (2 to 5).map(k => d0.filter(col("doc_id") % 25 === 0)
            .select((col("doc_id") + k * 1000000L).as("doc_id"), col("text")))
          .reduce(_.unionByName(_))
        val near = d0.unionByName(d0.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zq zq zq")).as("text")))
        val corpus = near.unionByName(hotDocs)
        val sh = graft.operators.Dedup.hashedShingleTable(
          corpus, "doc_id", "text", 3).persist(StorageLevel.MEMORY_AND_DISK)
        time("shingles mat")(println("sh=" + sh.count()))
        val sigs = graft.operators.Dedup.minhashSignaturesFrom(
          sh, corpus, "doc_id", "text", 16, alreadyHashed = true)
        val bands = graft.operators.Dedup.lshBandsFrom(sigs, 16, 4)
          .persist(StorageLevel.MEMORY_AND_DISK)
        time("bands mat")(println("bands=" + bands.count()))
        val hot = bands.groupBy("band", "band_key")
          .agg(count(lit(1)).as("nb")).filter(col("nb") > 4)
          .select("band", "band_key")
        time("hot agg")(println("hot=" + hot.count()))
        val capped = bands.join(broadcast(hot),
            Seq("band", "band_key"), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
        time("capped mat")(println("capped=" + capped.count()))
        val cand = capped.as("a").join(capped.as("b"), Seq("band", "band_key"))
          .filter(col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
        time("cand distinct")(println("cand=" + cand.count()))
        val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
        time("verify")(println("pairs=" + cand
          .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
          .join(sh.select(col("id").as("id_b"), col("shingle")),
            Seq("id_b", "shingle"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
          .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
          .filter(round(col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")), 4) >= 0.5)
          .count()))
        time("full q180")(mat(
          graft.SparkEntry.queries("q180_lsh_hot_bucket_cap")(spark, sfDir)))
        time("full q180 again")(mat(
          graft.SparkEntry.queries("q180_lsh_hot_bucket_cap")(spark, sfDir)))
      case "q116cpu" =>
        // isolate the gram pipeline's per-stage CPU at the current SF:
        // words, +shingles, +distinct, +hash — each timed twice (warm)
        import graft.functions.Portable
        val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
        def twice(name: String)(f: => Unit): Unit = { f; time(name)(f) }
        val toks = d.select(col("doc_id").as("id"),
          Portable.tokens(col("text")).as("w"))
        twice("words explode")(println("w=" + toks
          .select(explode(col("w"))).count()))
        val sh5 = d.select(col("doc_id").as("id"),
          transform(sequence(lit(0), size(Portable.tokens(col("text"))) - 5),
            i => concat_ws(" ",
              slice(Portable.tokens(col("text")), i + 1, lit(5)))).as("g"))
        twice("shingles (no distinct)")(println("g=" + sh5
          .select(explode(col("g"))).count()))
        val shD = d.select(col("doc_id").as("id"),
          Portable.shingles(Portable.tokens(col("text")), 5).as("g"))
        twice("shingles distinct")(println("gd=" + shD
          .select(explode(col("g"))).count()))
        twice("+hash48 (hashedShingleTable)")(println("h=" +
          graft.operators.Dedup.hashedShingleTable(d, "doc_id", "text", 5)
            .count()))
        twice("corpus distinct set")(println("cd=" +
          graft.operators.Dedup.hashedShingleTable(d, "doc_id", "text", 5)
            .select("shingle").distinct().count()))
      case "q116" =>
        // stage budget for incremental novelty: corpus gram tokenize+
        // hash, corpus distinct, fresh gram table, join+agg
        val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
        val fresh = d.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .unionByName(d.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              concat(col("text"), lit(" zq1 zq2 zq3")).as("text")))
        val cgAll = graft.operators.Dedup.hashedShingleTable(
          d, "doc_id", "text", 5)
        time("corpus grams (tokenize+hash)")(println(
          "rows=" + cgAll.count()))
        val cg = cgAll.select("shingle").distinct()
        time("corpus distinct")(println("distinct=" + cg.count()))
        val fg = graft.operators.Dedup.hashedShingleTable(
          fresh, "doc_id", "text", 5)
        time("fresh grams")(println("rows=" + fg.count()))
        time("join+agg (on top)")(mat(
          fg.join(cg.withColumn("_hit", lit(1)), Seq("shingle"), "left")
            .groupBy("id").agg(count(lit(1)).as("n_grams"),
              sum(when(col("_hit").isNull, 1L).otherwise(0L))
                .as("novel_grams"))))
        time("full q116")(mat(
          graft.SparkEntry.queries("q116_incremental_novelty")(spark, sfDir)))
        time("full q116 again")(mat(
          graft.SparkEntry.queries("q116_incremental_novelty")(spark, sfDir)))
      case name =>
        val fn = graft.SparkEntry.queries(name)
        time(s"$name cold")(mat(fn(spark, sfDir)))
        spark.catalog.clearCache()
        time(s"$name warm")(mat(fn(spark, sfDir)))
    }
    spark.stop()
  }
}
