package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Dataset-curation operators for training-data pipelines: deterministic
  * sampling, split assignment, and sequence packing. All decisions derive
  * from the portable 48-bit content hash — NEVER from `rand()` — so any
  * run, any engine, and any partitioning produces the identical dataset
  * (reproducible data recipes; the DuckDB oracle replays each rule
  * exactly).
  *
  * Scale: sampling and splitting are pure map-side column expressions
  * (no shuffle at all). Packing windows over hash shards — each shard's
  * cumulative sum runs in one task, so `shards` bounds both parallelism
  * and per-task state; size it ≈ cluster cores × a small factor.
  */
object Curate {

  /** `hash48(key) mod denom` — the deterministic sampling coordinate. */
  def hashBucket(key: Column, denom: Int): Column =
    pmod(Portable.hash48(key.cast("string")), lit(denom.toLong))

  /** Stratified downsampling: keep a row iff its hash bucket falls below
    * the per-row rate (per-mille-style: `rateCol` out of `denom`). The
    * caller expresses strata as a rate expression, e.g.
    * `when(col("lang") === "en", 50).otherwise(10)` — any stratum logic,
    * no fixed stratum column needed. Map-only; no shuffle.
    */
  def stratifiedSample(df: DataFrame, keyCol: Column, rateCol: Column,
      denom: Int = 100): DataFrame =
    df.filter(hashBucket(keyCol, denom) < rateCol)

  /** Temperature-balanced stratum quotas at T=2 — the multilingual
    * sampling compromise between proportional (T=1, head languages
    * drown the tail) and uniform (T=∞, tail upsampled into
    * repetition): stratum weight = ⌊√n⌋, quota =
    * `(budget · w) div Σw`, members kept by smallest key hash. The
    * integer square root is `floor` of IEEE-754 `sqrt`, which the
    * standard requires correctly rounded — so unlike `pow`-based
    * temperatures, T=2 is exactly replayable on every engine, keeping
    * the whole selection integer-deterministic.
    *
    * One tiny per-stratum count agg → broadcast quotas → per-stratum
    * PARALLEL rank windows. For heavily skewed strata, compute quotas
    * here and feed `max(quota)` to [[quotaSample]]'s bounded top-k
    * aggregator instead of ranking all rows (two-phase; the window
    * form below is the single-pass version).
    * Output: (strata..., id, quota, n).
    */
  def sqrtBalancedQuota(df: DataFrame, strataCols: Seq[String],
      idCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget=$budget")
    val counts = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt(col("n").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("w")).as("sw"))
    val quotas = counts.crossJoin(broadcast(tot))
      .select(strataCols.map(col) :+ col("n") :+
        expr(s"(CAST($budget AS BIGINT) * w) div sw").as("quota"): _*)
    val ranked = df.select(strataCols.map(col) :+ idCol.as("id"): _*)
      .withColumn("rk", row_number().over(
        Window.partitionBy(strataCols.map(col): _*)
          .orderBy(Portable.hash48(col("id").cast("string")), col("id"))))
    ranked.join(broadcast(quotas), strataCols)
      .filter(col("rk") <= col("quota"))
      .select(strataCols.map(col) :+ col("id") :+ col("quota") :+ col("n"): _*)
  }

  /** Deterministic epoch shuffle: the reproducible pseudorandom
    * training order every pre-training run needs — each epoch is an
    * independent permutation of the corpus, sharded for `shards`
    * parallel readers. Shard = hash48(key#e‹epoch›) mod shards; order
    * within a shard = that same hash (ties broken on key), so the
    * "shuffle" is pure hashing: any engine, cluster size, or re-run
    * reproduces the identical order, and a training job can seek into
    * (epoch, shard, pos) without materializing anything.
    *
    * No global-sort funnel: one map-only pass assigns shard/order keys,
    * then `row_number` windows run per (epoch, shard) — `shards`-way
    * parallel, one shuffle. At 100 TB the per-shard window sorts
    * 1/shards of the corpus; pick shards ≥ the reader count.
    * Output: (epoch, shard, pos, key).
    */
  def epochShuffle(df: DataFrame, keyCol: Column, epochs: Int = 1,
      shards: Int = 8): DataFrame = {
    require(epochs > 0 && shards > 0, s"epochs=$epochs shards=$shards")
    val h = Portable.hash48(concat(col("k"), lit("#e"),
      col("epoch").cast("string")))
    df.select(keyCol.cast("string").as("k"))
      .select(col("k"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      .select(col("epoch").cast("long").as("epoch"), col("k"),
        pmod(h, lit(shards.toLong)).as("shard"), h.as("hv"))
      .withColumn("pos",
        (row_number().over(Window.partitionBy("epoch", "shard")
          .orderBy(col("hv"), col("k"))) - 1).cast("long"))
      .select("epoch", "shard", "pos", "k")
  }

  /** Deterministic train/val/test (or N-way) split assignment: hash
    * buckets partition `[0, denom)` into contiguous ranges sized by the
    * given weights (must sum to `denom`). Adds a `split` column; the same
    * key always lands in the same split — across runs, engines, and
    * joins of derived tables. Map-only; no shuffle.
    */
  def hashSplit(df: DataFrame, keyCol: Column, splits: Seq[(String, Int)],
      denom: Int = 100): DataFrame = {
    require(splits.map(_._2).sum == denom,
      s"split weights must sum to $denom")
    val h = hashBucket(keyCol, denom)
    val uppers = splits.scanLeft(0)(_ + _._2).tail
    val assign = splits.zip(uppers).reverse
      .foldLeft(lit(null).cast("string")) {
        case (acc, ((name, _), ub)) => when(h < ub, name).otherwise(acc)
      }
    df.withColumn("split", assign)
  }

  /** LEAKAGE-AWARE train/val/test split: near-duplicate documents always
    * land in the SAME split. A plain per-doc hash split scatters a
    * near-dup cluster across train and test — the classic eval
    * contamination a fingerprint decontamination pass (q51) can't see,
    * because the near-dups are inside one corpus, not across two. Here
    * every document inherits its connected-component representative (min
    * id over the near-dup pair graph, [[Dedup.connectedComponents]];
    * singletons represent themselves) and the [[hashSplit]] rule keys on
    * the REPRESENTATIVE — one hash verdict per cluster.
    *
    * `pairs` is any near-dup pair frame — exact fingerprints, MinHash
    * LSH, SimHash, containment, SemDeDup — so the leakage definition is
    * the caller's dedup stack. Components cost one hash-join round per
    * cluster diameter (near-dup clusters are shallow); everything after
    * is a left join + map-only split assignment.
    *
    * Output: df + (rep, split).
    */
  def leakageAwareSplit(df: DataFrame, idCol: Column, pairs: DataFrame,
      splits: Seq[(String, Int)], denom: Int = 100): DataFrame = {
    val comps = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", "_la_id")
    val withRep = df.join(comps, idCol === col("_la_id"), "left")
      .withColumn("rep", coalesce(col("comp"), idCol))
      .drop("_la_id", "comp")
    hashSplit(withRep, col("rep"), splits, denom)
  }

  /** Group-atomic k-fold cross-validation assignment + audit — the CV
    * companion of [[leakageAwareSplit]]: every GROUP (dup cluster,
    * author, domain — the unit eval contamination travels along) lands
    * whole in exactly one of `k` folds, fold = hash48(group) mod k, so
    * the same corpus folds identically on any engine, any partitioning,
    * any run. A plain per-row k-fold scatters a group's members across
    * folds and every fold's eval set leaks into every other fold's
    * train set — the CV form of the q115 contamination.
    *
    * Returns the per-fold AUDIT (the go/no-go report a training run
    * reads, not the assignment itself — that's one map-only
    * `pmod(hash48(g), k)` column the caller adds with the same
    * formula): fold sizes in groups/rows/weight, plus
    * `max_folds_per_group` — computed from the data, not asserted —
    * which the atomicity contract pins at 1.
    *
    * One (group)-keyed aggregate, one k-domain aggregate, one
    * broadcast single-row audit join. Output ordered by fold:
    * (fold, n_groups, n_rows, weight, max_folds_per_group).
    */
  def groupKFold(df: DataFrame, groupCol: Column, weightCol: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2: $k")
    // fold assigned at ROW level (the map-only column a training job
    // adds), THEN folded per group — so the audit measures what rows
    // actually got, rather than asserting the formula about itself
    val rows = df
      .select(groupCol.as("g"), weightCol.cast("long").as("wt"))
      .withColumn("fold", pmod(graft.functions.Portable.hash48(col("g")),
        lit(k.toLong)))
    val perGroup = rows.groupBy("g")
      .agg(countDistinct(col("fold")).as("nf"), min("fold").as("fold"),
        count(lit(1)).as("n_rows"), sum("wt").as("weight"))
    val audit = perGroup.agg(max("nf").as("max_folds_per_group"))
    perGroup.groupBy("fold")
      .agg(count(lit(1)).as("n_groups"), sum("n_rows").as("n_rows"),
        sum("weight").as("weight"))
      .crossJoin(broadcast(audit))
      .select(col("fold"), col("n_groups"),
        col("n_rows").cast("long").as("n_rows"),
        col("weight").cast("long").as("weight"),
        col("max_folds_per_group"))
  }

  /** Per-fold composition audit — the representativeness check a CV
    * user runs right after [[groupKFold]]'s leakage check: for every
    * (fold, stratum) cell, the row count, the stratum's share of its
    * fold, the stratum's share of the whole corpus, and the signed
    * deviation between them (ppm). Group-atomic hashing balances folds
    * only in expectation; a stratum dominated by a few huge groups can
    * land lopsided, and a fold whose composition deviates from the
    * corpus biases that fold's eval — this is the report that catches
    * it before a training run does.
    *
    * Exact integers end-to-end: shares are `(10⁶·n) div total` (the
    * fold's total / the corpus total), deviation their difference.
    * One (fold, stratum) aggregate, two domain-bounded share joins.
    * Output: (fold, stratum, n_rows, share_ppm, corpus_ppm, dev_ppm),
    * fold = hash48(group) mod k — the [[groupKFold]] assignment.
    */
  def kFoldComposition(df: DataFrame, groupCol: Column,
      stratumCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2: $k")
    val cells = df
      .select(stratumCol.as("stratum"),
        pmod(graft.functions.Portable.hash48(groupCol), lit(k.toLong))
          .as("fold"))
      .groupBy("fold", "stratum").agg(count(lit(1)).as("n_rows"))
    val foldTot = cells.groupBy("fold").agg(sum("n_rows").as("ft"))
    val stratTot = cells.groupBy("stratum").agg(sum("n_rows").as("st"))
    val corpus = cells.agg(sum("n_rows").as("ct"))
    cells.join(broadcast(foldTot), "fold")
      .join(broadcast(stratTot), "stratum")
      .crossJoin(broadcast(corpus))
      .select(col("fold"), col("stratum"),
        col("n_rows").cast("long").as("n_rows"),
        expr("cast((cast(n_rows as decimal(38,0)) * 1000000) div ft" +
          " as bigint)").as("share_ppm"),
        expr("cast((cast(st as decimal(38,0)) * 1000000) div ct" +
          " as bigint)").as("corpus_ppm"))
      .withColumn("dev_ppm", col("share_ppm") - col("corpus_ppm"))
  }

  /** Global token-budget selection WITHOUT a global sort: keep the
    * highest-priority rows until `budget` cost is claimed. The naive
    * plan — ORDER BY priority DESC then running-sum — funnels the corpus
    * through one partition; here the global prefix decomposes: a
    * bounded-cardinality bucket aggregation (priority must be a small-
    * domain integer, e.g. a per-mille score — the collect is ≤ domain
    * rows, documented-justified), exclusive higher-bucket totals
    * computed driver-side and broadcast back, and a per-bucket window
    * (parallel across buckets) for the same-priority prefix. A row is
    * kept iff `higher_total + same_bucket_before < budget` — exactly the
    * global (priority DESC, id ASC) claim-what-fits rule, so the last
    * kept row may overshoot the budget.
    * Output: input columns + (pri, cost_before).
    */
  def budgetTrim(df: DataFrame, idCol: Column, priCol: Column,
      costCol: Column, budget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val buckets = df.groupBy(priCol.cast("long").as("pri"))
      .agg(sum(costCol.cast("long")).as("tot"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    val higher = buckets.scanLeft(0L)(_ + _._2).zip(buckets)
      .map { case (h, (p, _)) => (p, h) }.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pri").orderBy(idCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("pri", priCol.cast("long"))
      .join(broadcast(higher.toDF("pri", "_higher")), "pri")
      .withColumn("cost_before",
        col("_higher") + coalesce(sum(costCol.cast("long")).over(w), lit(0L)))
      .filter(col("cost_before") < budget)
      .drop("_higher")
  }

  /** Per-group ADAPTIVE quality gating: keep a row iff its integer score
    * reaches its own group's exact lower p-th percentile — "drop each
    * source's worst p%" instead of one corpus-wide threshold, which
    * over-prunes clean sources and under-prunes noisy ones. The threshold
    * is the smallest score v in the group with cum(v)·100 ≥ total·p (the
    * [[Stats.weightedPercentiles]] membership test: pure integer
    * cross-multiplication, no interpolation), so the kept set replays
    * bit-for-bit in any engine.
    *
    * Scale: thresholds aggregate on the (group, score) VALUE domain —
    * bounded by the score range, never the corpus — and come back as a
    * BROADCAST join feeding one map-only filter over the corpus; the
    * window runs over per-group distinct scores, not rows. Adds the
    * group's `thr` column.
    */
  def adaptiveQualityGate(df: DataFrame, groupCols: Seq[String],
      scoreCol: Column, p: Int): DataFrame = {
    require(p >= 1 && p <= 100, s"percentile $p out of [1, 100]")
    val scored = df.withColumn("__score", scoreCol.cast("long"))
    val counts = scored.groupBy((groupCols :+ "__score").map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val cum = counts
      .withColumn("__cum", sum(col("__n")).over(
        Window.partitionBy(groupCols.map(col): _*).orderBy("__score")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__tot", sum(col("__n")).over(
        Window.partitionBy(groupCols.map(col): _*)))
    val thr = cum.groupBy(groupCols.map(col): _*)
      .agg(min(when(col("__cum") * 100 >= col("__tot") * p, col("__score")))
        .as("thr"))
    scored.join(broadcast(thr), groupCols)
      .filter(col("__score") >= col("thr"))
      .drop("__score")
  }

  /** Exact per-stratum quota sampling: keep exactly `quota` rows per
    * stratum (fewer if the stratum is smaller), chosen as the quota
    * smallest `hash48(key)` values — deterministic, and rerun-stable
    * under data GROWTH too (a new row only enters the sample by evicting
    * the current largest kept hash). Implemented with the bounded top-k
    * aggregator (score = -hash), so partial aggregation ships ≤ quota
    * rows per stratum per partition — no full per-stratum window sort.
    * Output: strata columns + id.
    */
  def quotaSample(df: DataFrame, strataCols: Seq[String], idCol: Column,
      quota: Int): DataFrame = {
    val tk = graft.functions.TopKAggregator.topK(quota)
    // smallest hash == largest negated hash; hash48 < 2^48 so negation
    // is safe in Long
    df.select(strataCols.map(col) :+ idCol.as("id") :+
        (-Portable.hash48(idCol.cast("string"))).as("score"): _*)
      .groupBy(strataCols.map(col): _*)
      .agg(tk(col("id"), col("score")).as("top"))
      .select(strataCols.map(col) :+ explode(col("top.id")).as("id"): _*)
  }

  /** Systematic probability-proportional-to-size sampling: within each
    * stratum, lay rows out in id order, take the running weight sum, and
    * keep a row iff its weight interval ((cum−w)·k/W, cum·k/W] crosses an
    * integer — i.e. iff `floor(cum·k/W) > floor((cum−w)·k/W)`. Up to k
    * rows per stratum (exactly k when every weight ≤ W/k; a heavier row
    * spans several skip intervals but is kept once — the standard
    * certainty-unit case), with
    * inclusion probability proportional to weight — the classic
    * systematic PPS design, and because it is pure integer arithmetic on
    * exact sums it replays bit-for-bit in any engine (no `rand()`, no
    * transcendentals — contrast exponential-jump A-ES sampling, whose
    * pow/log calls differ across libms in the last ulp).
    *
    * Scale: one window cumulative sum per stratum — per-stratum
    * sequential, parallel across strata (same contract as
    * [[packSequences]]'s shards; for a single giant stratum, pre-shard
    * the stratum key the same way). Long arithmetic holds to W·k < 2⁶³.
    * Weights must be NON-NEGATIVE (a negative weight breaks the
    * cumulative sum's monotonicity and the boundary test with it);
    * zero-weight rows are never selected, by construction.
    * Output: strata columns + (id, w).
    */
  def ppsSample(df: DataFrame, strataCols: Seq[String], idCol: Column,
      weightCol: Column, k: Int): DataFrame = {
    val part = Window.partitionBy(strataCols.map(col): _*)
    val w = part.orderBy(col("id"))
    df.select(strataCols.map(col) :+ idCol.as("id") :+
        weightCol.cast("long").as("w"): _*)
      .withColumn("cum", sum(col("w")).over(w))
      .withColumn("tot", sum(col("w")).over(part))
      .filter(expr(s"(cum * $k) div tot") >
        expr(s"((cum - w) * $k) div tot"))
      .select(strataCols.map(col) :+ col("id") :+ col("w"): _*)
  }

  /** Deterministic MIXTURE materialization: turn target source weights
    * (a DoReMi/Pile-style data recipe) into a concrete dataset with
    * per-document copy counts. Each source's document budget is
    * `target = (weight · budget) div Σweights`; a source with more
    * documents than target is downsampled (first `target` docs in hash
    * order), one with fewer is EPOCH-UPSAMPLED — every doc repeated
    * `target div avail` times and the first `target mod avail` docs in
    * hash order once more, so Σcopies == target exactly, per source.
    * Sources without a weight are dropped.
    *
    * The per-source hash ranking is computed WITHOUT a per-source global
    * sort: rows rank within hash shards (parallel windows bounded by
    * shard size), and tiny per-(source, shard) count offsets — broadcast
    * back — lift shard ranks to the source-global rank in (shard, hash,
    * id) order. The same two-level trick any 100 TB "take the first N
    * by hash" selection needs; the oracle replays the identical order.
    *
    * Output: (source, doc_id, copies ≥ 1), Σ copies = target per source.
    */
  def mixToBudget(df: DataFrame, sourceCol: String, idCol: Column,
      weights: Seq[(String, Long)], budget: Long,
      shards: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wSum = weights.map(_._2).sum
    val wdf = weights.toDF("source", "wt")
      .withColumn("target", expr(s"(wt * ${budget}L) div ${wSum}L"))
      .select("source", "target")
    val base = df.select(col(sourceCol).as("source"), idCol.as("id"))
      .withColumn("h", Portable.hash48(col("id").cast("string")))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
    val offs = base.groupBy("source", "shard")
      .agg(count(lit(1)).as("c"))
      .withColumn("off",
        sum(col("c")).over(Window.partitionBy("source").orderBy("shard"))
          - col("c"))
    val avail = base.groupBy("source").agg(count(lit(1)).as("avail"))
    val plan = wdf.join(avail, Seq("source"))
      .withColumn("base_copies", expr("target div avail"))
      .withColumn("rem", expr("target % avail"))
      .select("source", "base_copies", "rem")
    base
      .withColumn("r",
        row_number().over(
          Window.partitionBy("source", "shard").orderBy("h", "id"))
          .cast("long"))
      .join(broadcast(offs.select("source", "shard", "off")),
        Seq("source", "shard"))
      .join(broadcast(plan), Seq("source"))
      .withColumn("copies", col("base_copies") +
        when(col("off") + col("r") <= col("rem"), 1L).otherwise(0L))
      .filter(col("copies") >= 1L)
      .select(col("source"), col("id").as("doc_id"), col("copies"))
  }

  /** Sequence packing: assign documents to fixed-capacity token bins —
    * the context-window packing step of an LLM training pipeline. Within
    * each hash shard, documents are laid out in id order and a document
    * starts at its shard's running token offset; its bin is that offset
    * `div` capacity (documents may straddle bins, the standard
    * concat-then-chunk packing). Output: (id, shard, bin, bin_offset,
    * n_tok). Deterministic: shard = hash48(id) mod shards, order = id.
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
      capacity: Long, shards: Int): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(idCol)
    df.select(col(idCol), tokensCol.cast("long").as("n_tok"),
        hashBucket(col(idCol), shards).as("shard"))
      .withColumn("cum_before",
        sum(col("n_tok")).over(w) - col("n_tok"))
      .select(col(idCol), col("shard"),
        (col("shard") * 1000000L +
          expr(s"cum_before div ${capacity}L")).as("bin"),
        (col("cum_before") % capacity).as("bin_offset"),
        col("n_tok"))
  }

  /** Packing-quality report over a [[packSequences]] result: per
    * utilization decile, how many bins landed there, how many documents
    * they hold, and the tokens they carry — the "how much context
    * window am I wasting" answer that decides whether the packing
    * capacity/shard choice is production-ready. util_decile =
    * (fill·10) div capacity clamped to 10: the 10 bucket holds bins at
    * or over capacity (a document straddling a bin boundary stays in
    * the bin where it started — [[packSequences]]' contract — so
    * boundary bins legitimately overfill). Two hash aggregates (bin,
    * then decile), both map-side combined; nothing holds per-bin state.
    * Output: (util_decile, n_bins, n_docs, total_tokens).
    */
  def packingReport(packed: DataFrame, capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity=$capacity")
    packed.groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("fill"))
      .withColumn("util_decile",
        least(lit(10L), expr(s"(fill * 10) div ${capacity}L")))
      .groupBy("util_decile")
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        sum(col("fill")).as("total_tokens"))
  }

  /** Per-document drop audit — which curation gate removed each
    * document, in gate-priority order: the "why is my document gone"
    * answer every production pipeline eventually needs for debugging
    * recall complaints and filter regressions.
    *
    * Gate order (first failure wins): `quality` (Gopher rule score <
    * `minGopher` — [[TextOps.gopherRules]]), `exact_dup` (another doc
    * with a smaller id has byte-identical text — the q20 canonical-
    * owner rule), `contaminated` (text byte-matches a benchmark doc —
    * the q51 decontamination rule), else `pass`.
    *
    * The naive audit runs the pipeline once per gate (N corpus scans).
    * Here ALL gate flags compute in a single scan: the Gopher columns
    * and the md5 fingerprint are fused map-side expressions, the
    * canonical-owner flag is one fingerprint-keyed aggregate joined
    * back on the same key (one shuffle, reusing its own partitioning),
    * and the benchmark membership is a broadcast left join on the
    * fingerprint (benchmarks are small by nature). Verdict is a CASE
    * over the flags — adding a gate adds a column, never a scan.
    * Output: (id, gopher_score, verdict).
    */
  def dropAudit(df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, minGopher: Int = 4): DataFrame = {
    val base = Spread.ensure(
        df.select(col(idCol).as("id"), col(textCol).as("text")), "id")
      .select((col("id") +: TextOps.gopherRules(col("text")) :+
        md5(col("text").cast("binary")).as("fp")): _*)
      .select(col("id"), col("gopher_score"), col("fp"))
    val owner = base.groupBy("fp").agg(min(col("id")).as("owner_id"))
    val bench = benchmark.select(
      md5(col(benchmark.columns.head).cast("string").cast("binary"))
        .as("fp"), lit(1L).as("in_bench"))
      .distinct()
    base.join(owner, Seq("fp"))
      .join(broadcast(bench), Seq("fp"), "left")
      .select(col("id"), col("gopher_score"),
        when(col("gopher_score") < minGopher, "quality")
          .when(col("id") =!= col("owner_id"), "exact_dup")
          .when(col("in_bench").isNotNull, "contaminated")
          .otherwise("pass").as("verdict"))
  }

  /** Shard-assignment balance audit: hash-assign every row to one of
    * `nShards` output shards and report each shard's row count, weight
    * (bytes/tokens), and load as a per-mille multiple of the ideal
    * equal share — the pre-write check that the layout a 100 TB export
    * is about to commit to is actually balanced (hash sharding is
    * balanced in EXPECTATION; a skewed weight column still produces
    * fat shards, and this is where that shows up before the writers
    * straggle). One map-side-combined aggregate to ≤ nShards rows plus
    * a broadcast 1-row total. Output: (shard, n_docs, weight,
    * load_x1000 — 1000 = perfectly even).
    */
  def shardBalance(df: DataFrame, keyCol: Column, weightCol: Column,
      nShards: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val per = df
      .select(hashBucket(keyCol, nShards).as("shard"),
        weightCol.cast("long").as("w"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("weight"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { per.unpersist(); () })
    per.count() // feeds the broadcast total AND the final projection
    val tot = per.agg(sum(col("weight")).as("tw"))
    per.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("weight"),
        expr(s"(weight * $nShards * 1000) div tw").as("load_x1000"))
  }

  /** Quality-threshold sweep: for each candidate cutoff, what the
    * corpus retains — documents, weight (tokens), and their ppm shares
    * — if every row scoring BELOW the cutoff is dropped. The
    * "pick the gate" decision table printed before committing a
    * quality threshold to a 100 TB pass: the whole Pareto front in one
    * report instead of one trial pipeline per candidate.
    *
    * ONE corpus scan: a score-keyed aggregate collapses the data to
    * ≤ |score domain| rows, then each cutoff's retention is a triangle
    * join over the (tiny, broadcast) per-score frame — never a rescan
    * per cutoff, never a window. Output: (cutoff, n_docs, total_weight,
    * docs_ppm, weight_ppm).
    */
  def thresholdSweep(scored: DataFrame, scoreCol: String,
      weightCol: String, cutoffs: Seq[Int]): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val per = scored
      .groupBy(col(scoreCol).cast("long").as("s"))
      .agg(count(lit(1)).as("nd"), sum(col(weightCol)).as("nw"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { per.unpersist(); () })
    per.count() // feeds the broadcast total AND the triangle join
    val tot = per.agg(sum(col("nd")).as("td"), sum(col("nw")).as("tw"))
    per.select(explode(array(cutoffs.map(c => lit(c.toLong)): _*))
        .as("cutoff"), col("s"), col("nd"), col("nw"))
      .filter(col("s") >= col("cutoff"))
      .groupBy("cutoff")
      .agg(sum(col("nd")).as("n_docs"), sum(col("nw")).as("total_weight"))
      .crossJoin(broadcast(tot))
      .select(col("cutoff"), col("n_docs"), col("total_weight"),
        expr("(cast(n_docs as decimal(38,0)) * 1000000) div td").as("docs_ppm"),
        expr("(cast(total_weight as decimal(38,0)) * 1000000) div tw").as("weight_ppm"))
  }

  /** Classifier-calibration report: per equi-depth score bucket (the
    * [[graft.operators.Stats]] equi-depth rule — a distinct score v
    * lands wholly in bucket `(cumBefore(v)·k) div N`), how often an
    * INDEPENDENT quality signal (`passCol`, e.g. the full gopher-rule
    * battery) agrees — the audit run before trusting a learned quality
    * filter to gate a 100 TB corpus: a well-calibrated classifier shows
    * pass_ppm rising monotonically across buckets; a flat profile means
    * the score is noise.
    *
    * Shape: ONE score-keyed aggregate collapses the corpus to ≤
    * |score domain| rows carrying (count, passes); the cumulative rank
    * each bucket needs comes from [[Stats.runningSums]] over those rows
    * (sort-and-offset: no window, no task holding the whole domain),
    * which carries the passes along; the final aggregate is ≤ k rows.
    * Scores may be negative. Rows with a null score are skipped, and N
    * counts the scored rows.
    * Output: (bucket, n_docs, n_pass, pass_ppm, v_min, v_max).
    */
  def scoreCalibration(scored: DataFrame, scoreCol: String,
      passCol: String, k: Int = 10): DataFrame = {
    val counts = scored
      .groupBy(col(scoreCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"),
        sum(col(passCol).cast("long")).as("np"))
    Stats.runningSums(counts, 0)
      .withColumn("bucket", expr(s"((cum - c) * $k) div n"))
      .groupBy("bucket")
      .agg(sum(col("c")).as("n_docs"), sum(col("np")).as("n_pass"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"))
      .select(col("bucket"), col("n_docs"), col("n_pass"),
        expr("(cast(n_pass as decimal(38,0)) * 1000000) div n_docs").as("pass_ppm"),
        col("v_min"), col("v_max"))
  }

  /** k-anonymity audit over quasi-identifier columns — the
    * privacy-release gate run before publishing a corpus or its
    * metadata: every equivalence class (distinct quasi-identifier
    * combination) with fewer than k members re-identifies its members
    * by intersection with outside knowledge. Reports each class with
    * its size and whether it fails the threshold; the caller suppresses
    * or generalizes failing classes (the standard Samarati/Sweeney
    * workflow).
    *
    * One aggregate to the class domain (bounded by the quasi-identifier
    * value product, not the rows). Exact counts only.
    *
    * Output: (quasi cols…, n_members, below_k ∈ {0, 1}).
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[Column], k: Long): DataFrame =
    df.groupBy(quasiCols: _*)
      .agg(count(lit(1)).as("n_members"))
      .withColumn("below_k",
        when(col("n_members") < k, lit(1L)).otherwise(lit(0L)))

  /** l-diversity audit — [[kAnonymity]]'s necessary complement: a class
    * can hold k rows yet still leak if they all share one SENSITIVE
    * value (the homogeneity attack k-anonymity cannot see). For every
    * quasi-identifier equivalence class, the class size, the number of
    * DISTINCT sensitive values it carries, the modal sensitive-value
    * share in ppm (1-diverse classes leak deterministically;
    * high-share classes leak probabilistically), and the below-l flag.
    *
    * One aggregate to the (class × sensitive) domain, one to the class
    * domain — both bounded by value-domain products, never by rows.
    * Exact integers only.
    *
    * Output: (quasi cols…, n_members, n_distinct_sv, top_sv_ppm,
    * below_l ∈ {0, 1}).
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[Column],
      sensitiveCol: Column, l: Long): DataFrame = {
    val byValue = df.groupBy(quasiCols :+ sensitiveCol.as("sv"): _*)
      .agg(count(lit(1)).as("c"))
    val names = byValue.columns.dropRight(2)
    byValue.groupBy(names.map(col): _*)
      .agg(sum("c").as("n_members"),
        count(lit(1)).as("n_distinct_sv"), max("c").as("top_c"))
      .select(names.map(col) ++ Seq(col("n_members"), col("n_distinct_sv"),
        expr("(cast(top_c as decimal(38,0)) * 1000000) div n_members")
          .cast("long").as("top_sv_ppm"),
        when(col("n_distinct_sv") < l, lit(1L)).otherwise(lit(0L))
          .as("below_l")): _*)
  }

  /** Temporal train/embargo/test split accounting — the time-series
    * leakage control (financial-ML "purged" split): train takes the
    * first `trainTenths`/10 of the corpus time span, test starts after
    * an embargo gap of `embargoTwentieths`/20 of the span, and nothing
    * in between is used. Reports the three partition sizes plus the
    * KEY-overlap between train and test (entities active on both sides
    * — the residual leakage channel a per-row time split cannot close;
    * if it must be zero, follow with [[hashSplit]] on the key).
    *
    * Boundaries are exact integer µs arithmetic on the observed span —
    * deterministic in any engine; two aggregates (global span, one
    * grouped pass) plus one distinct-key intersection.
    *
    * Output: one row (n_train, n_embargo, n_test, keys_in_both).
    */
  def temporalSplit(df: DataFrame, tsCol: Column, keyCol: Column,
      trainTenths: Int = 6, embargoTwentieths: Int = 1): DataFrame = {
    require(trainTenths >= 1 && trainTenths <= 9, s"trainTenths: $trainTenths")
    require(embargoTwentieths >= 0 && embargoTwentieths <= 10,
      s"embargoTwentieths: $embargoTwentieths")
    val base = df.select(unix_micros(tsCol).as("us"), keyCol.as("key"))
    val span = base.agg(min("us").as("t0"), max("us").as("t3"))
      .select(col("t0"),
        expr(s"t0 + ((t3 - t0) * $trainTenths) div 10").as("t1"),
        expr(s"t0 + ((t3 - t0) * $trainTenths) div 10" +
          s" + ((t3 - t0) * $embargoTwentieths) div 20").as("t2"))
    val tagged = base.crossJoin(broadcast(span))
      .withColumn("part",
        when(col("us") < col("t1"), "train")
          .when(col("us") < col("t2"), "embargo")
          .otherwise("test"))
    val counts = tagged.groupBy()
      .agg(sum(when(col("part") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("part") === "embargo", 1L).otherwise(0L)).as("n_embargo"),
        sum(when(col("part") === "test", 1L).otherwise(0L)).as("n_test"))
    val overlap = tagged.filter(col("part") === "train")
      .select("key").distinct()
      .join(tagged.filter(col("part") === "test")
        .select("key").distinct(), Seq("key"), "left_semi")
      .agg(count(lit(1)).as("keys_in_both"))
    counts.crossJoin(overlap)
  }
}
