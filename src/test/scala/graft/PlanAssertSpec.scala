package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan assertions for the flagship query shapes: these are the
  * properties that make the plans survive a 100× scale-up, pinned as
  * tests so a refactor that silently loses pushdown, broadcast, or
  * codegen fails CI — not just the bench.
  */
class PlanAssertSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q01 scan pushes filters and prunes columns at the parquet reader") {
    val p = planOf("q01_scan_filter")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(!p.contains("PushedFilters: []"), "no filters pushed:\n" + p.take(2000))
    // projection is 2 output columns + filter columns — never the full row
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_comment"), s"unpruned scan: $readSchema")
  }

  test("q03 multi-way dim join broadcasts the small sides") {
    val p = executed("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ:\n" + p.take(3000))
  }

  test("q06 diff is ONE shuffle per side (join reuses the dedup partitioning)") {
    val p = executed("q06_table_diff")
    // full-outer SMJ on (table, pk): each side shuffles once for the
    // dedup window and the join consumes that same partitioning
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n" + p.take(4000))
  }

  test("q39 typed diff is the q06 join: one full outer, one key shuffle per side") {
    val p = executed("q39_typed_dump_diff")
    val fullOuter = p.linesIterator.count(_.contains("FullOuter"))
    assert(fullOuter == 1, s"expected one full-outer join, got $fullOuter:\n" + p.take(4000))
    // each side shuffles once on (table, pk) for the last-wins dedup and
    // once on the typed key for the join
    def hashEx(key: String) =
      p.linesIterator.count(_.contains(s"Exchange hashpartitioning($key"))
    assert(hashEx("o_orderkey") <= 2 && hashEx("table") <= 2,
      s"expected <=2 hash exchanges per key, got ${hashEx("o_orderkey")} " +
        s"on o_orderkey and ${hashEx("table")} on (table, pk):\n" + p.take(4000))
  }

  test("hot scalar queries stay inside whole-stage codegen") {
    // an unexecuted adaptive plan reports zero codegen subtrees — plan
    // these without AQE to see the static codegen structure
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try for (q <- Seq("q30_lang_id", "q32_token_count", "q34_rolling_hash")) {
      val p = SparkEntry.queries(q)(spark, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
      assert(p.contains("WholeStageCodegen"), s"$q lost codegen:\n" + p.take(1000))
      assert(!p.startsWith("Found 0"), s"$q: zero codegen subtrees")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q67 linkage broadcasts the entity catalog (no corpus shuffle)") {
    val p = executed("q67_fuzzy_linkage")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "catalog join fell back to SMJ:\n" + p.take(3000))
  }

  test("q63 chunking is map-only up to the output sort") {
    // explode+slice adds no aggregation/join: the only exchanges allowed
    // are Spread's explicit repartition (none here) and the final
    // orderBy's range exchange
    val p = executed("q63_chunk_overlap")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"chunking introduced $hashEx hash exchanges:\n" + p.take(3000))
  }

  test("q70 z-order ranging is one hash aggregate exchange") {
    val p = executed("q70_zorder")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"expected <=1 hash exchange, got $hashEx:\n" + p.take(3000))
  }

  test("q62 TF-IDF broadcasts the term-stats frames onto the tf table") {
    val p = executed("q62_tfidf_topterms")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "df/corpus-stats join fell back to SMJ:\n" + p.take(3000))
  }

  test("q72 feature hashing is one grouped aggregate (plus spread/sort)") {
    val p = executed("q72_feature_hashing")
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(hashEx <= 1,
      s"expected <=1 requirement exchange, got $hashEx:\n" + p.take(3000))
  }

  test("q24 embedding top-k broadcasts the query side") {
    val p = executed("q24_embed_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("q100 star join broadcasts every dimension; facts carry the only shuffles") {
    val p = executed("q100_star_join")
    // region, nation, customer, supplier are all broadcast-sized; the
    // only SMJ permitted is orders⋈lineitem (two fact tables)
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 4, s"expected >=4 broadcast joins, got $bhj:\n" + p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
  }

  test("q94 KMV sketches partial-aggregate before their exchange") {
    val p = executed("q94_kmv_join_estimate")
    // min-k typed aggregator: per side, an ObjectHashAggregate BELOW the
    // exchange (map-side combining ships <= k longs per partition)
    val partials = p.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(partials >= 4, s"expected partial+final per side, got $partials:\n" +
      p.take(4000))
    assert(!p.contains("SortMergeJoin"), "sketch combine fell back to SMJ:\n" +
      p.take(4000))
  }

  test("q91 incremental maintenance joins only the slim (pk, group, value) columns") {
    val p = planOf("q91_incremental_agg")
    val reads = p.linesIterator.filter(_.trim.startsWith("ReadSchema")).toSeq
    // the diff join must not drag full order rows through the shuffle
    assert(reads.nonEmpty && reads.forall(r =>
        !r.contains("o_orderpriority") && !r.contains("o_orderdate")),
      s"unpruned diff scan:\n${reads.mkString("\n")}")
  }

  test("q101 gopher rules is map-only: zero requirement-driven shuffles") {
    // five rule flags over per-row HOF expressions — the claim is
    // read-bandwidth at 100 TB, so any aggregate/join exchange is a bug;
    // only Spread's explicit repartition and the orderBy range exchange
    // may appear
    val p = executed("q101_gopher_rules")
    val required = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        l.contains("ENSURE_REQUIREMENTS")).toSeq
    assert(required.isEmpty,
      s"gopher rules introduced shuffles:\n${required.mkString("\n")}\n" +
        p.take(3000))
  }

  test("q102 time travel broadcasts the version list onto the pk grid") {
    // the (pk × version) grid comes from crossing distinct pks with the
    // tiny version frame — that side must broadcast, never SMJ/cartesian
    // against the pk domain
    val p = executed("q102_time_travel")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("Catalyst injects a runtime bloom filter that prunes the fact side pre-shuffle") {
    // a selective dim-side predicate should seed a bloom filter applied
    // at the fact scan — the optimizer surface that keeps a 100 TB
    // shuffle from carrying rows the join would drop anyway. The size
    // thresholds are tuned down for test data; the pinned property is
    // that the REWRITE fires on this query shape, which is
    // size-independent.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter" +
        ".applicationSideScanSizeThreshold", "0")
      val li = Tables.lineitem(spark, dir)
      val ord = Tables.orders(spark, dir)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        "no runtime bloom filter injected:\n" + p.take(4000))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("curation sampling/splitting adds no requirement-driven shuffle") {
    for (q <- Seq("q47_stratified_sample", "q48_hash_split")) {
      // the final orderBy adds a range exchange for output ordering, and
      // the single-file documents scan gets Spread's explicit repartition
      // (REPARTITION_BY_NUM — with the sample filter pushed BELOW it, so
      // only survivors shuffle); the operators themselves must introduce
      // no ENSURE_REQUIREMENTS hash exchange
      val p = executed(q)
      val required = p.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") &&
          l.contains("ENSURE_REQUIREMENTS")).toSeq
      assert(required.isEmpty,
        s"$q requirement-driven shuffles:\n${required.mkString("\n")}\n" +
          p.take(3000))
      // and the filter must sit below the spread exchange (scan-level)
      if (q == "q47_stratified_sample")
        assert(p.contains("DataFilters: [(pmod(hash48"),
          s"$q sample filter not pushed to scan:\n" + p.take(3000))
    }
  }

  test("q109 span dedup back-join is LEFT SEMI (hot grams stay linear)") {
    val p = executed("q109_duplicate_spans")
    // the dup-gram join must be a semi join — an inner join against the
    // gram set would fan a k-doc boilerplate gram into k candidate rows
    // per occurrence; semi keeps it one row per position
    assert(p.contains("LeftSemi"), p.take(3000))
    // gram frequency aggregate must partial-aggregate map-side
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q117 keyless range join plans as hash join on buckets, never BNL/cartesian") {
    val p = executed("q117_range_join_keyless")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q144 dup matrix joins per-key COUNTS, never doc pairs — no cartesian/BNL") {
    val p = executed("q144_cross_source_dups")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    // the only joins are equi on the fingerprint key of the COUNT frame
    assert(p.contains("dedup_key"), "pair combinatorics must key on dedup_key")
  }

  test("q145 hard negatives broadcasts the anchor side like q24") {
    val p = executed("q145_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "anchors must broadcast:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"), "scoring must not shuffle the base:\n" +
      p.take(3000))
  }

  test("q147 KMV overlap matrix aggregates before its tiny pair join") {
    val p = executed("q147_kmv_source_overlap")
    // the data-sized stage is the min-k aggregate: partial_minkarray must
    // appear (map-side combining) before the exchange; the pair join is
    // over G sketch rows and may be a nested loop — that's the design
    assert(p.toLowerCase.contains("partial_"), p.take(3000))
  }

  test("q121 heavy hitters screens with a broadcast semi join, counts only candidates") {
    val p = executed("q121_heavy_hitters")
    // the exact recheck must never shuffle the full term universe: the
    // candidate set broadcasts and screens map-side
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")), p.take(3000))
    // the MG nomination pass is the single imperative stage
    assert(p.contains("MapPartitions"), p.take(3000))
  }

  test("q123 winnowing is map-only: no exchange before the output sort") {
    val p = executed("q123_winnow_fingerprints")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"unexpected exchange:\n${exchanges.mkString("\n")}")
  }

  test("q127 random projection: only Spread + output-order exchanges") {
    val p = executed("q127_random_projection")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    // allowed: Spread's explicit repartition of the raw vectors (r16 —
    // the single-row-group input otherwise runs k×dim dots in one task)
    // + the output-order range exchange; the projection itself adds none
    assert(exchanges.forall(l =>
      l.contains("REPARTITION_BY_NUM") || l.contains("rangepartitioning")),
      s"unexpected exchange:\n${exchanges.mkString("\n")}")
  }

  test("q114 linear classifier scores with zero exchanges before the sort") {
    val p = executed("q114_linear_classifier")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    // allowed: Spread's explicit repartition + the output-order range
    // exchange; model scoring itself must add none
    assert(exchanges.forall(l =>
      l.contains("REPARTITION_BY_NUM") || l.contains("rangepartitioning")),
      s"unexpected exchange:\n${exchanges.mkString("\n")}")
  }

  test("value-domain stats never plan a partition-less WindowExec") {
    // these entries rank or sum over a value domain by sort-and-offset
    // (Stats.selectSorted, Stats.runningSums) precisely so no
    // cumulative sum funnels a whole value domain through one task; a
    // refactor that reintroduces Window.orderBy with an empty partition
    // spec must fail here, not in the 100 TB run.
    import org.apache.spark.sql.execution.window.WindowExec
    // q135/q139 rank limit-bounded (≤100-row) frames: their windows carry
    // a literal partition key, so they too must never plan bare.
    for (q <- Seq("q36_percentiles", "q85_equidepth_hist",
        "q88_median_mad", "q93_weighted_percentiles",
        "q132_robust_outliers", "q137_quantile_normalize",
        "q135_rrf_fusion", "q139_phrase_search",
        "q164_classifier_calibration")) {
      val plan = SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$q has ${bare.size} partition-less WindowExec node(s)")
    }
  }

  test("q180 hot-bucket cap screens with a broadcast anti-join; no cartesian") {
    val p = executed("q180_lsh_hot_bucket_cap")
    // the hot-bucket list is bounded (distinct over-cap keys), so the
    // anti-join must broadcast it over the band frame, and the candidate
    // generation must stay a hash join on (band, band_key)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "hot-bucket screen lost its broadcast anti-join:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "cartesian appeared in the capped LSH plan:\n" + p.take(3000))
  }

  test("q179 curation DAG: no cartesian pair generation, no bare windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q179_curation_dag")(spark, dir)
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    // the only nested-loop joins allowed are the broadcast single-row
    // stat/total joins; candidate generation must never be cartesian
    assert(!s.contains("CartesianProduct"),
      "cartesian in the curation DAG:\n" + s.take(3000))
    val bare = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty, s"${bare.size} partition-less WindowExec node(s)")
  }

  test("q181 CMS join-size: the cell join never shuffles the input rows") {
    // both sides of the inner-product join are depth×width-bounded
    // counter frames — the exchanges after the two sketch aggregates
    // must operate on the CELL frames, and nothing in the plan may
    // re-shuffle raw lineitem rows beyond the two sketch builds
    val p = executed("q181_cms_join_size")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      "unexpected cartesian in the CMS estimate plan:\n" + p.take(3000))
    // the final min-over-rows aggregate is a single-row reduce — the
    // plan must collapse to one partition only AFTER the cell join
    assert(p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("q186 SQ8 rerank broadcasts the query side in both stages") {
    val p = executed("q186_sq8_rerank")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side not broadcast in the SQ8 screen:\n" + p.take(3000))
    // rerank joins candidates back by id — the bounded candidate frame
    // must never trigger a cartesian against the base
    assert(!p.contains("CartesianProduct"),
      "cartesian in the rerank stage:\n" + p.take(3000))
  }

  test("q190 corpus diff reuses the q06 shape: full-outer join, bounded exchanges") {
    val p = executed("q190_corpus_diff")
    assert(p.contains("FullOuter"), "diff lost its full-outer join:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("new frontier aggregates keep windows partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q183_time_weighted_avg", "q187_rate_anomaly",
        "q188_value_trend", "q193_label_noise")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$q has ${bare.size} partition-less WindowExec node(s)")
    }
  }

  test("wave-5/6 plans: no cartesian pair generation, no bare windows") {
    import org.apache.spark.sql.execution.window.WindowExec
    // q207 is the critical one: exact GLOBAL sort positions with no
    // global window (bucket-local ranks + broadcast offsets) — a
    // refactor that sneaks in row_number over an empty partition spec
    // or a cartesian candidate join must fail here
    for (q <- Seq("q198_ngram_diversity", "q199_cusum_changepoint",
        "q200_lag_autocorr", "q202_benford_profile",
        "q203_peak_concurrency", "q204_prefix_filter_join",
        "q207_sorted_neighborhood", "q209_path_trigrams")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$q has ${bare.size} partition-less WindowExec node(s)")
      assert(!plan.toString.contains("CartesianProduct"),
        s"$q plans a CartesianProduct:\n" + plan.toString.take(3000))
    }
  }

  test("prefix-filtered pair cores: id-partitioned window, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the round-12 port: q21/q111 run the prefix+positional machinery —
    // their one window must stay partitioned on the doc id (the prefix
    // rank), and candidate generation must never degrade to a cartesian
    for (q <- Seq("q21_dedup_ngram_jaccard", "q111_containment_pairs",
        "q232_prefix_delta_join")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$q has ${bare.size} partition-less WindowExec node(s)")
      assert(!plan.toString.contains("CartesianProduct"),
        s"$q plans a CartesianProduct:\n" + plan.toString.take(3000))
      graft.PendingRelease.drain() // managed internals registered by the query
    }
  }

  test("wave-8..13 plans: windows partitioned, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q213_burstiness_fano", "q214_pareto_coverage",
        "q215_salt_plan", "q216_join_explosion_audit",
        "q217_pii_census", "q218_template_clusters",
        "q219_zone_store", "q220_readability",
        "q222_lateness_profile", "q223_gini_concentration",
        "q224_seasonality_profile", "q225_cohort_value_curve",
        "q226_trimmed_mean", "q227_double_fire_audit",
        "q228_drift_dashboard")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$q has ${bare.size} partition-less WindowExec node(s)")
      assert(!plan.toString.contains("CartesianProduct"),
        s"$q plans a CartesianProduct:\n" + plan.toString.take(3000))
    }
  }

  test("wave-15 plans: windows partitioned, no cartesian") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q229_source_xent", "q230_group_kfold",
        "q231_kfold_composition")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val bare = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(bare.isEmpty,
        s"$q has ${bare.size} partition-less WindowExec node(s)")
      assert(!plan.toString.contains("CartesianProduct"),
        s"$q plans a CartesianProduct:\n" + plan.toString.take(3000))
    }
  }

  test("q216 join-explosion top-k is TakeOrdered, never a global sort") {
    val p = executed("q216_join_explosion_audit")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k lost its TakeOrdered shape:\n" + p.take(3000))
  }

  test("q204 prefix filter verifies candidates with hash joins only") {
    val p = executed("q204_prefix_filter_join")
    // candidate generation is an equi-join on the prefix shingle and
    // the verify stage equi-joins the full shingle sets — nothing may
    // degrade to a nested-loop over doc pairs
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "prefix-filter join lost its equi-join shape:\n" + p.take(3000))
  }
}
