package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table statistics operators — the profiling/histogram layer every
  * engine needs before it can plan over unknown data (reference scope:
  * optimizer statistics and data-quality profiling of a synced corpus).
  *
  * Both operators avoid the naive global-sort formulations: the
  * histogram works on the VALUE DOMAIN (distinct values + counts — a
  * distributed aggregate) instead of ntile over a globally sorted row
  * stream (one task holding every row), and the profiler unions
  * per-column aggregates so each parquet scan reads exactly one column —
  * the shapes that survive 100 TB.
  */
object Stats {

  /** Inclusive running sum over a (group, v) VALUE-DOMAIN frame with NO
    * unbounded window partition anywhere — the scale core under
    * [[equiDepthHistogram]] / [[medianMad]] / [[weightedPercentiles]] /
    * [[quantileNormalize]].
    *
    * A plain `sum(c) OVER (PARTITION BY g ORDER BY v)` funnels a
    * group's ENTIRE value domain through one task (and with no group at
    * all, Spark warns `No Partition Defined … moving all data to a
    * single partition`) — correct at bench scale, a named scale-killer
    * at 100 TB with a high-cardinality domain (prices in cents). Here
    * the global prefix decomposes over a 16-bit radix hierarchy of the
    * value — [[nLevels]] levels deep, 3 for the full 64-bit worst case
    * (b1 = v≫16, b2 = v≫32, b3 = v≫48), fewer when the caller supplies
    * a tighter data-independent `domainBits` bound:
    * per-level bucket totals are distributed aggregates, each
    * exclusive-prefix window partitions by the PARENT bucket and so
    * holds ≤ 2¹⁶ rows BY CONSTRUCTION — at every level, for any data
    * size, any value distribution (arithmetic shift is floor division:
    * order-preserving for negatives too). cum(v) = h3(b3) + p2(b2) +
    * p1(b1) + in-bucket prefix. No driver collect, no action; the b3
    * root level is one ≤ 65 536-row partition keyed by the group (or a
    * constant when there is none — never an empty partition spec).
    *
    * Input: distinct (groups…, v) rows with a Long weight `cCol`.
    * Output: input + `cum` (inclusive prefix of cCol within group by v)
    * + `n` (group total, broadcast back from the root level).
    *
    * The hierarchy's frames are referenced more than once in the DAG
    * (tₖ feeds both the next level and its own prefix join), so the
    * input-with-bucket frame and the level-1 totals are persisted —
    * without that each reference re-derives the whole chain and the
    * query re-scans its INPUT once per reference. Both caches are
    * released at the calling thread's next [[graft.PendingRelease.drain]]
    * (after the consuming action), so every warm run of a caller
    * (q36/q85/q93/q137, …) pays — and releases — its own caches instead
    * of reusing the previous run's. The plan's broadcast subjobs run
    * CONCURRENTLY — racing them on a lazy uncached parent recomputes it
    * once per subjob (cache fills do not dedupe in-flight work), hence
    * the eager count() before any consumer is built.
    */
  private[graft] def valueDomainCum(counts0: DataFrame, gCols: Seq[String],
      cCol: String = "c", domainBits: Int = 64): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (in0, gNames) = injectG(counts0, gCols)
    val g = gNames.map(col)
    val l0 = in0.select(g :+ col("v").cast("long").as("b") :+
        col(cCol).cast("long").as("c"): _*).persist(lvl)
    val t1 = up(l0, gNames).persist(lvl)
    t1.count()
    graft.PendingRelease.defer(() => { l0.unpersist(); t1.unpersist(); () })
    // t1 .. t_n: each level 16 bits coarser; root has <= 2^16 buckets
    val ts = Iterator.iterate(t1)(up(_, gNames)).take(nLevels(domainBits))
      .toList
    val root = ts.last
    val tot = root.groupBy(g: _*).agg(sum(col("c")).as("n"))
    val hRoot = exPrefix(root, gNames)
      .select(g :+ col("b") :+ col("p").as("h"): _*)
    def down(tk: DataFrame, hUp: DataFrame): DataFrame =
      exPrefix(
        tk.withColumn("bp", shiftright(col("b"), 16))
          .join(broadcast(hUp.select(g :+ col("b").as("bp") :+
            col("h").as("hp"): _*)), gNames :+ "bp"),
        gNames :+ "bp")
      .select(g :+ col("b") :+ (col("hp") + col("p")).as("h"): _*)
    val h1 = ts.init.reverse.foldLeft(hRoot)((h, tk) => down(tk, h))
    l0.withColumn("bp", shiftright(col("b"), 16))
      .join(broadcast(h1.select(g :+ col("b").as("bp") :+
        col("h").as("hp"): _*)), gNames :+ "bp")
      .withColumn("cin", sum(col("c")).over(
        Window.partitionBy((gNames :+ "bp").map(col): _*).orderBy("b")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(g :+ col("b").as("v") :+ col("c").as(cCol) :+
        (col("hp") + col("cin")).as("cum"): _*)
      .join(broadcast(tot), gNames)
      .drop((if (gCols.isEmpty) Seq("_g") else Nil): _*)
  }

  // ---- shared radix machinery --------------------------------------
  // Uniform level schema (groups..., b, c): IDENTICAL column names at
  // every level, so all per-level stages compile to the same
  // whole-stage-codegen unit and hit the codegen cache. (A first
  // version named columns per level — _b1/_c1/_b2/... — and paid one
  // multi-hundred-ms compile per level per descent; compile time, not
  // data, dominated the cold run.)

  private def injectG(df: DataFrame, gCols: Seq[String])
      : (DataFrame, Seq[String]) =
    if (gCols.nonEmpty) (df, gCols)
    else (df.withColumn("_g", lit(0)), Seq("_g"))

  /** One 16-bit coarsening step: (g, b, c) -> (g, b>>16, sum c). */
  private def up(df: DataFrame, gNames: Seq[String]): DataFrame =
    df.select(gNames.map(col) :+ shiftright(col("b"), 16).as("b") :+
        col("c"): _*)
      .groupBy((gNames :+ "b").map(col): _*)
      .agg(sum(col("c")).as("c"))

  /** Exclusive prefix `p` of c over b within `part` — every partition
    * holds <= 2^16 rows by radix construction (the root level spans the
    * 2^16 possible values of v>>48).
    */
  private def exPrefix(df: DataFrame, part: Seq[String]): DataFrame =
    df.withColumn("p", coalesce(sum(col("c")).over(
      Window.partitionBy(part.map(col): _*).orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))

  /** Number of 16-bit coarsening levels above the value level needed to
    * bring the root to <= 2^16 buckets for values fitting in
    * `domainBits` signed bits. 64-bit worst case -> 3 (the t1/t2/t3
    * chain); a cents-valued price column (fits well inside 40 bits for
    * any real currency amount — a DATA-INDEPENDENT bound, so it holds
    * at 100 TB exactly as at bench scale) -> 2; a 32-bit domain -> 1.
    * Every level that cannot distinguish any values (all buckets would
    * be 0/-1) is pure stage overhead: one shuffle, one window, one
    * broadcast, and — under AQE — one more re-planning barrier, which
    * is where the wall time of a chain of sub-second stages actually
    * goes.
    */
  private def nLevels(domainBits: Int): Int = {
    require(domainBits >= 1 && domainBits <= 64, s"domainBits=$domainBits")
    math.max(1, math.ceil((domainBits - 16) / 16.0).toInt)
  }

  /** The smallest value whose inclusive running weight reaches a
    * per-group target rank — the point-lookup sibling of
    * [[valueDomainCum]]: instead of materializing the full cumulative
    * sum over the domain, DESCEND the radix hierarchy. Per level, an
    * exclusive-prefix window over the <= 2^16 child buckets of the
    * (single) chosen parent bucket finds where the target rank crosses;
    * after three descents only one level-1 bucket of actual values is
    * scanned. Work is O(domain/2^16 + 4*2^16) rows per group versus the
    * full-cum's O(domain) — the right shape when only a handful of
    * ranks are needed (medians, MADs); every window partition stays
    * <= 2^16 rows.
    *
    * `targetOf(n)` maps a group's total weight to the 1-based target
    * rank (e.g. `(n+1) div 2` for the lower median); must be >= 1 and
    * <= n. Output: (groups..., `out` = selected value, n).
    */
  private[graft] def rankSelect(counts0: DataFrame, gCols: Seq[String],
      cCol: String, targetOf: Column => Column, out: String,
      persistInput: Boolean = true, domainBits: Int = 64)
      : (DataFrame, () => Unit) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (in0, gNames) = injectG(counts0, gCols)
    val g = gNames.map(col)
    val l0p = in0.select(g :+ col("v").cast("long").as("b") :+
        col(cCol).cast("long").as("c"): _*)
    val l0 = if (persistInput) l0p.persist(lvl) else l0p
    val t1 = up(l0, gNames).persist(lvl)
    t1.count() // one parallel build before concurrent broadcasts race
    val ts = Iterator.iterate(t1)(up(_, gNames)).take(nLevels(domainBits))
      .toList
    val root = ts.last
    val tgt = root.groupBy(g: _*).agg(sum(col("c")).as("n"))
      .withColumn("t", targetOf(col("n")))
    // descend: keep the one bucket per group where the exclusive prefix
    // crosses the target; prefixes are monotone over b, so min(struct)
    // picks the first crossing
    val sRoot = exPrefix(root.join(broadcast(tgt), gNames), gNames)
      .filter(col("p") + col("c") >= col("t"))
      .groupBy(g: _*)
      .agg(min(struct(col("b"), col("p").as("h"), col("n"), col("t")))
        .as("s"))
      .select(g :+ col("s.b").as("bp") :+ col("s.h").as("h") :+
        col("s.n").as("n") :+ col("s.t").as("t"): _*)
    def step(tk: DataFrame, st: DataFrame): DataFrame =
      exPrefix(
        tk.withColumn("bp", shiftright(col("b"), 16))
          .join(broadcast(st), gNames :+ "bp"),
        gNames :+ "bp")
      .filter(col("h") + col("p") + col("c") >= col("t"))
      .groupBy(g: _*)
      .agg(min(struct(col("b"), (col("h") + col("p")).as("h"), col("n"),
        col("t"))).as("s"))
      .select(g :+ col("s.b").as("bp") :+ col("s.h").as("h") :+
        col("s.n").as("n") :+ col("s.t").as("t"): _*)
    val s0 = step(l0, ts.init.reverse.foldLeft(sRoot)((st, tk) =>
      step(tk, st)))
    val res = s0.select(g :+ col("bp").as(out) :+ col("n"): _*)
      .drop((if (gCols.isEmpty) Seq("_g") else Nil): _*)
    (res, () => { if (persistInput) l0.unpersist(); t1.unpersist(); () })
  }

  /** Multi-target [[rankSelect]]: the value at EACH of several per-group
    * target ranks from ONE shared radix hierarchy (r16 optimization,
    * guide §2.4 "remove shuffles outright"). [[rankSelect]] rebuilds —
    * and re-persists, re-counts, re-scans — the whole level chain per
    * call, so k percentile lookups over the same counts frame paid k
    * hierarchy builds and k scans of every level; every multi-percentile
    * operator (p50/p90/p99 audits, trim boundaries, tertiles) was
    * calling it 2-3 times on one counts frame. Here the chain is built
    * once and the k descent states ride the same per-level scan: the
    * broadcast state frame carries a target label, so a level's join
    * fans each scanned bucket out only to the targets whose chosen
    * parent bucket covers it (exactly 1 state row per (group, label)).
    * Arithmetic per target is IDENTICAL to [[rankSelect]]'s — same
    * exclusive prefix, same first-crossing min(struct) — so results are
    * bit-equal (RankSelectMultiSpec pins this against rankSelect).
    *
    * The O(|groups|·k) result is returned LAZY and unpersisted: callers
    * consume it exactly once (a conditional aggregation folding the
    * labels into columns), so the descent materializes as one broadcast
    * subjob inside the caller's final action. A caller that must
    * consume it twice persists it itself — each extra lazy consumer
    * re-runs the full descent (see the inline comment at the return for
    * the measured eager-persist counter-example). The returned thunk
    * releases only the internal level caches.
    *
    * `targets`: (label, targetOf) pairs — label lands in `labelCol`
    * (Long; callers map it back to their percentile/boundary names).
    * targetOf must be >= 1 and <= n, as in [[rankSelect]].
    * Output: (groups..., labelCol, out, n).
    */
  private[graft] def rankSelectMulti(counts0: DataFrame, gCols: Seq[String],
      cCol: String, targets: Seq[(Long, Column => Column)],
      labelCol: String, out: String,
      persistInput: Boolean = true, domainBits: Int = 64)
      : (DataFrame, () => Unit) = {
    require(targets.nonEmpty, "rankSelectMulti: no targets")
    require(targets.map(_._1).distinct.size == targets.size,
      "rankSelectMulti: duplicate target labels")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (in0, gNames) = injectG(counts0, gCols)
    val g = gNames.map(col)
    val l0p = in0.select(g :+ col("v").cast("long").as("b") :+
        col(cCol).cast("long").as("c"): _*)
    val l0 = if (persistInput) l0p.persist(lvl) else l0p
    val t1 = up(l0, gNames).persist(lvl)
    t1.count() // one parallel build before concurrent broadcasts race
    val ts = Iterator.iterate(t1)(up(_, gNames)).take(nLevels(domainBits))
      .toList
    val root = ts.last
    // (groups, label, n, t): one target rank per (group, label); built
    // from the tiny root totals, so the k-way union is k scans of an
    // O(groups)-row frame, not of the data
    val tot = root.groupBy(g: _*).agg(sum(col("c")).as("n"))
    val tgt = targets.map { case (lab, f) =>
        tot.select(g :+ lit(lab).as("__rsLab") :+ col("n") :+
          f(col("n")).as("t"): _*)
      }.reduce(_.unionByName(_))
    val sRoot = exPrefix(root.join(broadcast(tgt), gNames),
        gNames :+ "__rsLab")
      .filter(col("p") + col("c") >= col("t"))
      .groupBy((gNames :+ "__rsLab").map(col): _*)
      .agg(min(struct(col("b"), col("p").as("h"), col("n"), col("t")))
        .as("s"))
      .select(g :+ col("__rsLab") :+ col("s.b").as("bp") :+
        col("s.h").as("h") :+ col("s.n").as("n") :+ col("s.t").as("t"): _*)
    def step(tk: DataFrame, st: DataFrame): DataFrame =
      exPrefix(
        tk.withColumn("bp", shiftright(col("b"), 16))
          .join(broadcast(st), gNames :+ "bp"),
        // bp is a FUNCTION of (group, label) — st holds exactly one row
        // per (group, label) — so partitioning the prefix by label keeps
        // every window <= 2^16 rows exactly as the single-target descent
        gNames :+ "__rsLab")
      .filter(col("h") + col("p") + col("c") >= col("t"))
      .groupBy((gNames :+ "__rsLab").map(col): _*)
      .agg(min(struct(col("b"), (col("h") + col("p")).as("h"), col("n"),
        col("t"))).as("s"))
      .select(g :+ col("__rsLab") :+ col("s.b").as("bp") :+
        col("s.h").as("h") :+ col("s.n").as("n") :+ col("s.t").as("t"): _*)
    val s0 = step(l0, ts.init.reverse.foldLeft(sRoot)((st, tk) =>
      step(tk, st)))
    // the label travels under an internal name through the descent:
    // exPrefix/struct columns (p, h, n, t, b, bp) must never collide
    // with the caller's labelCol (q172 passes labelCol = "p", which
    // exPrefix would otherwise overwrite mid-descent)
    val res = s0.select(g :+ col("__rsLab").as(labelCol) :+
        col("bp").as(out) :+ col("n"): _*)
      .drop((if (gCols.isEmpty) Seq("_g") else Nil): _*)
    // deliberately LAZY and unpersisted: callers consume the result
    // exactly once (a conditional aggregation folding the labels into
    // columns), so the whole descent materializes as one broadcast
    // subjob INSIDE the caller's final action, overlapped with its main
    // scan. An eager persist+count here was measured to serialize the
    // descent behind an extra AQE-barrier chain and LOSE ~0.5-1 s per
    // query vs the overlapped two-descent form it replaced — a caller
    // that must consume the result twice persists it itself.
    (res, () => { if (persistInput) l0.unpersist(); t1.unpersist(); () })
  }


  /** Equi-depth histogram of an integer-valued column: `k` buckets with
    * (as near as ties allow) equal row counts. Rule: every distinct
    * value v lands WHOLLY in bucket `(cumBefore(v) · k) div N` (its
    * first row's 0-based position scaled to buckets) — deterministic,
    * tie-stable, and exactly replayable in SQL.
    *
    * Plan: groupBy(value).count (distributed, map-side combined) → the
    * radix-decomposed cumulative sum over DISTINCT VALUES
    * ([[valueDomainCum]]: every window partition ≤ 2¹⁶ rows, no
    * single-partition WindowExec) → final per-bucket aggregate.
    * Output: (bucket, n_rows, n_values, v_min, v_max).
    */
  def equiDepthHistogram(df: DataFrame, valueCol: Column, k: Int,
      domainBits: Int = 64): DataFrame = {
    val counts = df.select(valueCol.cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    valueDomainCum(counts, Nil, domainBits = domainBits)
      .withColumn("bucket", expr(s"((cum - c) * $k) div n"))
      .groupBy("bucket")
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_values"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"))
  }

  /** Robust location/scale statistics per group: exact LOWER MEDIAN and
    * MAD (median absolute deviation) of an integer-valued column, plus
    * the count of robust outliers (|v − median| > z·MAD) — the
    * quality-gate statistic that, unlike mean/stddev, is not itself
    * dragged by the outliers it is hunting.
    *
    * Both medians are "lower medians" (the ⌈n/2⌉-th smallest value):
    * exact integers, no interpolation, so any engine replays them
    * bit-for-bit. Plan shape is the q36/q85 value-domain histogram
    * argument applied twice: groupBy(group, value).count (distributed,
    * map-side combined) → a cumulative-sum window over DISTINCT VALUES
    * per group (state bounded by the value domain, not the row count) →
    * the same again over |v − median|. No per-group buffered aggregate
    * state, no global row sort.
    *
    * The (group, value) count frame feeds three consumers — the median
    * window, the deviation re-aggregation, and the final outlier count —
    * so it is persisted (value-domain-sized, far smaller than the input);
    * without it the input would be scanned and re-aggregated three times.
    * Every internal cache is released at the calling thread's next
    * [[graft.PendingRelease.drain]].
    * Output: (group, n, median, mad, n_outliers).
    */
  def medianMad(df: DataFrame, groupCol: Column, valueCol: Column,
      z: Int = 3, domainBits: Int = 64): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val counts = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { counts.unpersist(); () })
    // the O(groups) median/MAD frames are tiny; rankSelect (a point
    // lookup) beats the full cumulative sum here: a median needs ONE
    // rank per group, not the whole distribution.
    def lowerMedian(cts: DataFrame, out: String): DataFrame = {
      // |v − median| spans at most the value domain, so the median's
      // domainBits bound covers the MAD descent too
      val (m0, rel) = rankSelect(cts, Seq("g"), "c",
        n => ((n + 1) / 2).cast("long"), out, persistInput = false,
        domainBits = domainBits)
      graft.PendingRelease.defer(rel)
      m0
    }
    // The median feeds two consumers (the deviation re-aggregation and
    // the final stats join), but they run in SUCCESSIVE jobs — the MAD
    // chain's own eager t1.count() materializes the deviation frame
    // (and with it this cache) before the final action ever consumes
    // the stats join — so a LAZY persist fills without a barrier and
    // nothing races it. The previous eager persist+count() here (and
    // on the MAD result) serialized FIVE driver-visible jobs ahead of
    // the final action (median t1.count, med.count, MAD t1.count,
    // mad.count, action); r17 measured the lazy form against it —
    // same rankSelectMulti lesson from r16: overlap the tiny descent
    // with its consumer instead of fencing it behind its own barrier.
    val med = lowerMedian(counts, "median").persist(lvl)
    graft.PendingRelease.defer(() => { med.unpersist(); () })
    val dev = counts.join(broadcast(med.select("g", "median")), Seq("g"))
      .groupBy(col("g"), abs(col("v") - col("median")).as("v"))
      .agg(sum(col("c")).as("c"))
      .persist(lvl) // feeds the mad descent's level chain AND its leaf probe
    graft.PendingRelease.defer(() => { dev.unpersist(); () })
    val mad = lowerMedian(dev, "mad").drop("n")
    val stats = med.join(mad, Seq("g"))
    counts.join(broadcast(stats), Seq("g"))
      .groupBy("g")
      .agg(max(col("n")).as("n"), max(col("median")).as("median"),
        max(col("mad")).as("mad"),
        coalesce(sum(when(
          abs(col("v") - col("median")) > col("mad") * z, col("c"))),
          lit(0L)).as("n_outliers"))
  }

  /** Exact weighted lower percentiles per group: for each requested
    * percentile p, the smallest value whose cumulative weight reaches
    * p% of the group's total weight — "the price where half the
    * *quantity* sits", "the doc length where 90% of the *tokens* sit".
    * The membership test is the pure integer cross-multiplication
    * `cum·100 ≥ W·p` (no division, no float target), so any engine
    * replays it bit-for-bit; weights must be non-negative integers with
    * W·100 within Long range (~9·10¹⁶ total weight — beyond any real
    * corpus).
    *
    * Same scale shape as [[equiDepthHistogram]]/[[medianMad]]: one
    * distributed groupBy(group, value) weight-sum, one cumulative window
    * over DISTINCT VALUES per group, one final aggregate with a
    * conditional min per percentile. No per-group buffered state.
    * Output: (g, w_total, p_<p1>, p_<p2>, ...).
    */
  def weightedPercentiles(df: DataFrame, groupCol: Column, valueCol: Column,
      weightCol: Column, ps: Seq[Int], domainBits: Int = 64): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percentiles $ps out of [1, 100]")
    val counts = df.select(groupCol.as("g"), valueCol.cast("long").as("v"),
        weightCol.cast("long").as("w"))
      .groupBy("g", "v").agg(sum(col("w")).as("wv"))
    val cum = valueDomainCum(counts, Seq("g"), cCol = "wv",
      domainBits = domainBits)
      .withColumnRenamed("n", "wt")
    val aggs = max(col("wt")).as("w_total") +:
      ps.map(p => min(when(col("cum") * 100 >= col("wt") * p, col("v")))
        .as(s"p_$p"))
    cum.groupBy("g").agg(aggs.head, aggs.tail: _*)
  }

  /** Column profile: per listed column, row/null/distinct counts and
    * min/max rendered as strings. Each column is profiled by its OWN
    * aggregate over a one-column projection (column-pruned scan), then
    * the single-row results union — N distinct-counts in one aggregate
    * would Expand the input N× (the q46 lesson). Columns must render
    * identically across engines: strings, integers, and dates are safe;
    * raw doubles are not (format the value to an exact type first).
    * Output: (col_name, n_rows, n_nulls, n_distinct, min_s, max_s).
    */
  /** Row-level robust outlier extraction — the records themselves, not
    * just q88-style counts: every row whose |v − median| exceeds
    * z·MAD for its group, with the group stats attached. The
    * median/MAD pass is [[medianMad]] (value-domain windows, no
    * per-group buffered state); the per-group stats frame is tiny and
    * broadcast back onto the input, so extraction is a map-only second
    * pass over the data — the shape that lets 100 TB flag its anomalies
    * without a self-join shuffle.
    * Output: (g, id, v, median, mad, dev). The median/MAD caches are
    * released as [[medianMad]]'s are.
    */
  def robustOutliers(df: DataFrame, groupCol: Column, valueCol: Column,
      idCol: Column, z: Int = 3, domainBits: Int = 64): DataFrame = {
    val stats = medianMad(df, groupCol, valueCol, z, domainBits)
    df.select(groupCol.as("g"), idCol.as("id"), valueCol.cast("long").as("v"))
      .join(broadcast(stats.select("g", "median", "mad")), Seq("g"))
      .filter(abs(col("v") - col("median")) > col("mad") * z)
      .select(col("g"), col("id"), col("v"), col("median"), col("mad"),
        abs(col("v") - col("median")).as("dev"))
  }

  /** Per-group quantile (rank) normalization: each row's value mapped
    * to its group-relative cumulative fraction `cume_micro =
    * (cum(v) · 1e6) div n` — the distribution-free feature transform
    * (uniformize before mixing heterogeneous sources, compare lengths
    * across languages, …). Ties share one quantile by construction:
    * the rank lives on the DISTINCT value, not the row.
    *
    * Value-domain shape throughout (the medianMad argument): one
    * groupBy(g, v) count, one cumulative window over distinct values
    * per group, then the tiny per-value frame joins back to the rows on
    * (g, v) — no global sort, no per-group row window, state bounded by
    * the value domain. Output: (g, id, v, cume_micro).
    */
  def quantileNormalize(df: DataFrame, groupCol: Column, valueCol: Column,
      idCol: Column, domainBits: Int = 64): DataFrame = {
    val rows = df.select(groupCol.as("g"), idCol.as("id"),
      valueCol.cast("long").as("v"))
    val q = valueDomainCum(
        rows.groupBy("g", "v").agg(count(lit(1)).as("c")), Seq("g"),
        domainBits = domainBits)
      .select(col("g"), col("v"),
        expr("(cum * 1000000) div n").as("cume_micro"))
    rows.join(q, Seq("g", "v"))
      .select("g", "id", "v", "cume_micro")
  }

  /** Two-sample chi-square histogram drift between the `sideCol=false`
    * ("old") and `sideCol=true` ("new") rows — the distribution-shift
    * monitor a pipeline runs between corpus snapshots before trusting a
    * refresh. Per bucket b with counts (a, b') and side totals (A, B),
    * the contribution is the textbook
    * `(a·B − b'·A)² · (A+B) / (A·B·(a+b'))`, emitted micro-scaled as an
    * exact Long (the double ops are one-shot IEEE — products/quotients
    * only, every engine rounds them identically; summing happens in
    * integers, so partition order can't change anything).
    *
    * ONE shuffle on ≤ #buckets keys (map-side combined counts), then a
    * broadcast of the 1-row totals — nothing here grows with the data.
    * Output: (bucket, n_old, n_new, chi2_micro); Σ chi2_micro / 1e6 is
    * the statistic (df = buckets−1).
    */
  def histogramDrift(df: DataFrame, sideCol: Column,
      bucketCol: Column): DataFrame = {
    val counts = df.select(sideCol.as("s"), bucketCol.cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(!col("s"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("s"), 1L).otherwise(0L)).as("n_new"))
    val tot = counts.agg(sum(col("n_old")).as("ta"), sum(col("n_new")).as("tb"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_old"), col("n_new"),
        floor(
          (col("n_old").cast("double") * col("tb").cast("double") -
            col("n_new").cast("double") * col("ta").cast("double")) *
          (col("n_old").cast("double") * col("tb").cast("double") -
            col("n_new").cast("double") * col("ta").cast("double")) /
          (col("ta").cast("double") * col("tb").cast("double") *
            (col("n_old") + col("n_new")).cast("double")) *
          (col("ta") + col("tb")).cast("double") * lit(1000000.0d) + lit(0.5d))
          .cast("long").as("chi2_micro"))
  }

  /** Schema inference over a semi-structured JSON column — the landing
    * step for ingesting heterogeneous event/log data: per key and
    * per observed value type (long / double / bool / string), the
    * occurrence count and lexical min/max. Optional keys and mixed
    * types surface as multiple rows per key, which IS the schema
    * drift report.
    *
    * Map-only parse (one `from_json` to map<string,string> per row —
    * no per-key path probing) + one tiny (key, type)-keyed aggregate;
    * nothing grows with the data but the distinct key/type set.
    * Output: (key, vtype, n, min_v, max_v).
    */
  def jsonSchemaProfile(df: DataFrame, jsonCol: Column): DataFrame = {
    val kv = df.select(explode(from_json(jsonCol,
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))
      .as(Seq("key", "v")))
    kv.withColumn("vtype",
        when(col("v").rlike("^-?[0-9]+$"), "long")
          .when(col("v").rlike("^-?[0-9]+\\.[0-9]+$"), "double")
          .when(col("v").isin("true", "false"), "bool")
          .otherwise("string"))
      .groupBy("key", "vtype")
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
  }

  /** Hot-key skew diagnostic for a Long join/aggregation key: the top-N
    * heaviest keys with their corpus share (ppm) and their multiple of
    * the mean per-key load (milli) — the report that decides whether a
    * key needs salting ([[Skew]]), AQE skew-join splitting, or a
    * broadcast rewrite BEFORE the job that would discover it by
    * stalling on one reducer. One (key)-keyed count aggregate (map-side
    * combining), then the bounded [[graft.functions.TopKAggregator]] —
    * at most N candidates per partition ship to a single final merge,
    * so profiling a 100 TB key column never sorts or collects the key
    * domain. Deterministic (count desc, key asc) ties.
    * Output: (key, cnt, share_ppm, skew_x1000, total, n_keys).
    */
  def skewProfile(df: DataFrame, key: Column, topN: Int): DataFrame = {
    val cnt = df.groupBy(key.cast("long").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    val tk = graft.functions.TopKAggregator.topK(topN)
    cnt.agg(tk(col("key"), col("cnt")).as("top"))
      .crossJoin(broadcast(tot))
      .select(explode(col("top")).as("t"), col("total"), col("n_keys"))
      .select(col("t.id").as("key"), col("t.score").as("cnt"),
        // 128-bit intermediates: cnt·n_keys·1000 exceeds Long at
        // ~1e12 rows × ~1e9 keys; DECIMAL(38,0) keeps the products
        // exact and `div` still emits bigint, so the schema (and the
        // oracle) are unchanged.
        expr("(CAST(t.score AS DECIMAL(38,0)) * 1000000) div total")
          .as("share_ppm"),
        expr("(CAST(t.score AS DECIMAL(38,0)) * n_keys * 1000) div total")
          .as("skew_x1000"),
        col("total"), col("n_keys"))
  }

  def profile(df: DataFrame, cols: Map[String, Column]): DataFrame =
    cols.toSeq.sortBy(_._1).map { case (name, c) =>
      df.select(c.as("v"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("v").isNull, lit(1))).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).cast("string").as("min_s"),
          max(col("v")).cast("string").as("max_s"))
        .select(lit(name).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"))
    }.reduce(_ unionByName _)

  /** Contingency-table standardized residuals between two categorical
    * columns — "is the corpus composition independent in (lang ×
    * source), and which cells drive the dependence": for each observed
    * cell, the expected count under independence e = rowTotal·colTotal/N
    * and the Pearson residual (o − e)/√e (|resid| ≳ 2 ⇒ the cell is
    * over/under-represented beyond sampling noise). The per-cell form
    * deliberately stops short of the χ² TOTAL: a total would sum doubles
    * across cells, which is partition-order-dependent — per-cell values
    * are each a fixed-order IEEE combination of exact integer counts,
    * so any engine reproduces them bit-for-bit.
    *
    * One aggregate to the (a, b) cell domain, two marginal aggregates
    * over the cells, one broadcast single-row total — bounded by the
    * category-domain product, never by the rows.
    *
    * Output: (a, b, n_obs, e_6dp, resid_6dp).
    */
  def contingencyResiduals(df: DataFrame, aCol: Column,
      bCol: Column): DataFrame = {
    val cells = df.select(aCol.as("a"), bCol.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_obs"))
    val rowT = cells.groupBy("a").agg(sum("n_obs").as("ra"))
    val colT = cells.groupBy("b").agg(sum("n_obs").as("cb"))
    val tot = cells.agg(sum("n_obs").as("nn"))
    cells.join(broadcast(rowT), Seq("a"))
      .join(broadcast(colT), Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("e_6dp", expr(
        "round(cast(ra as double) * cast(cb as double) / cast(nn as double), 6)"))
      .withColumn("resid_6dp", expr(
        """round((cast(n_obs as double)
          |    - cast(ra as double) * cast(cb as double) / cast(nn as double))
          |  / sqrt(cast(ra as double) * cast(cb as double)
          |    / cast(nn as double)), 6)""".stripMargin))
      .select("a", "b", "n_obs", "e_6dp", "resid_6dp")
  }

  /** Pairwise two-sample Kolmogorov–Smirnov distance between groups'
    * value distributions — the CONTINUOUS drift test beside the
    * categorical chi-square family (tokenDrift/contingencyResiduals):
    * "do these two sources draw document lengths from the same
    * distribution, and how far apart are the ECDFs". EXACT integers
    * throughout: the supremum gap is computed on cross-multiplied
    * counts, D_scaled = max_v |cumₐ(v)·n_b − cum_b(v)·n_a| (the
    * ECDF difference scaled by n_a·n_b — no division until the final
    * ppm report), so any engine agrees bit-for-bit. Products run in
    * decimal(38,0): at 10¹²-row groups cum·n crosses the int64 cliff.
    *
    * Shape: one aggregate to the (group, value) domain; the union
    * value GRID is one distinct + one cross join against the bounded
    * group list; per-group cumulative counts come from a window
    * PARTITIONED by group (never partition-less); the pair join is on
    * the value grid with group-pair fan-out bounded by the group
    * domain squared — groups are categorical (sources, langs), so the
    * whole computation after the first aggregate is domain-bounded,
    * not data-bounded.
    *
    * Output: (group_a, group_b, n_a, n_b, d_ppm) with
    * d_ppm = (10⁶·D_scaled) div (n_a·n_b) — D_ppm = 0 iff the ECDFs
    * coincide on the whole grid.
    */
  def ksDrift(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val counts = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val grid = counts.select("v").distinct()
      .crossJoin(counts.select("g").distinct())
    val w = Window.partitionBy("g").orderBy("v")
    val ecdf = grid.join(counts, Seq("g", "v"), "left")
      .withColumn("cum", sum(coalesce(col("c"), lit(0L))).over(w))
      .select(col("g"), col("v"), col("cum"))
    val totals = counts.groupBy("g").agg(sum("c").as("n"))
    val e = ecdf.join(totals, Seq("g"))
    e.select(col("g").as("group_a"), col("v"), col("cum").as("cum_a"),
        col("n").as("n_a"))
      .join(e.select(col("g").as("group_b"), col("v"),
        col("cum").as("cum_b"), col("n").as("n_b")), Seq("v"))
      .filter(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b", "n_a", "n_b")
      .agg(max(expr(
        """abs(cast(cum_a as decimal(38,0)) * cast(n_b as decimal(38,0))
          |  - cast(cum_b as decimal(38,0)) * cast(n_a as decimal(38,0)))"""
          .stripMargin)).as("d_scaled"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        expr("cast((cast(1000000 as decimal(38,0)) * d_scaled)" +
          " div (cast(n_a as decimal(38,0)) * n_b) as bigint)").as("d_ppm"))
  }

  /** CUSUM change-point detection over per-bucket totals — "did this
    * series' level shift, and WHEN": for each group the bucketed series
    * x₁..x_n (one aggregate), prefix sums P_k, grand total S, and the
    * cross-multiplied CUSUM statistic D_k = |n·P_k − k·S| — the
    * classic Σ(x_i − x̄) deviation scaled by n so it stays an EXACT
    * integer (no mean division until the final ppm report). The argmax
    * bucket is the estimated change point; ties break to the earliest
    * bucket via a lexicographic struct-max on (D, −k). The drift
    * TRIO's third member: ksDrift answers "are two distributions
    * apart", rateAnomaly "is this bucket anomalous NOW", cusum "where
    * in the past did the level move".
    *
    * Shape: one aggregate to the (group, bucket) domain, one window
    * PARTITIONED by group for the prefix sums, one per-group argmax
    * aggregate — domain-bounded after the first aggregate. Products in
    * decimal(38,0): n·P crosses int64 once buckets × rows pass ~10¹⁵.
    *
    * Output: (g, n_buckets, total, change_bucket, cusum_ppm) with
    * cusum_ppm = (10⁶·max_k D_k) div (n·S) ∈ [0, ~250000] (0 ⇔ flat).
    */
  def cusumChangePoint(df: DataFrame, groupCol: Column, bucketCol: Column,
      valueCol: Column): DataFrame = {
    val buckets = df.select(groupCol.as("g"), bucketCol.as("k"),
        valueCol.cast("long").as("x"))
      .groupBy("g", "k").agg(sum("x").as("xb"))
    val w = Window.partitionBy("g").orderBy("k")
    val cum = buckets
      .withColumn("p", sum(col("xb")).over(w))
      .withColumn("seq", row_number().over(w))
    val tot = cum.groupBy("g")
      .agg(max(col("seq")).as("n_buckets"), sum(col("xb")).as("total"))
    cum.join(tot, Seq("g"))
      .withColumn("d", expr(
        """abs(cast(n_buckets as decimal(38,0)) * p
          |  - cast(seq as decimal(38,0)) * total)""".stripMargin))
      .groupBy("g", "n_buckets", "total")
      .agg(max(struct(col("d"), (-col("seq")).as("nk"), col("k")))
        .as("best"))
      .select(col("g"), col("n_buckets"), col("total"),
        col("best.k").as("change_bucket"),
        expr("""cast((cast(1000000 as decimal(38,0)) * best.d)
          |  div (cast(n_buckets as decimal(38,0)) * total) as bigint)"""
          .stripMargin).as("cusum_ppm"))
  }

  /** Lag-1 autocorrelation of per-bucket totals — "is this series
    * momentum-driven or mean-reverting": for each group the bucketed
    * series in bucket order, deviations dev_k = n·x_k − S (the
    * cross-multiplied x_k − x̄, exact integers), and
    * r₁ = Σ dev_k·dev_{k−1} / Σ dev_k² reported as a fixed-order
    * double rounded to 6dp (numerator and denominator are each one
    * exact decimal(38,0) sum of integer products, so the single final
    * division is bit-reproducible on any engine — the
    * contingencyResiduals determinism pattern). Lag runs over
    * CONSECUTIVE PRESENT buckets (sequence position, not bucket
    * arithmetic), so sparse series are well-defined.
    *
    * One aggregate to the (group, bucket) domain, one window
    * PARTITIONED by group for the lagged neighbor, one per-group
    * aggregate. Output: (g, n_buckets, ac1_6dp); groups with zero
    * variance (constant series) report ac1_6dp = 0.0.
    */
  def lagAutocorr(df: DataFrame, groupCol: Column, bucketCol: Column,
      valueCol: Column): DataFrame = {
    val buckets = df.select(groupCol.as("g"), bucketCol.as("k"),
        valueCol.cast("long").as("x"))
      .groupBy("g", "k").agg(sum("x").as("xb"))
    val tot = buckets.groupBy("g")
      .agg(count(lit(1)).as("n_buckets"), sum("xb").as("s"))
    val w = Window.partitionBy("g").orderBy("k")
    buckets.join(tot, Seq("g"))
      .withColumn("dev", expr(
        "cast(n_buckets as decimal(38,0)) * xb - cast(s as decimal(38,0))"))
      .withColumn("dev_prev", lag(col("dev"), 1).over(w))
      .groupBy("g", "n_buckets")
      .agg(sum(expr("dev * dev_prev")).as("num"),
        sum(expr("dev * dev")).as("den"))
      .select(col("g"), col("n_buckets"),
        expr("""case when den = 0 then 0.0d else
          |  round(cast(num as double) / cast(den as double), 6) end"""
          .stripMargin).as("ac1_6dp"))
  }

  /** Functional-dependency audit — the schema-inference / data-quality
    * profiler: for each candidate FD lhs → rhs, whether it HOLDS
    * (every lhs value maps to exactly one rhs value), how many lhs
    * groups violate it, and the total count of extra rhs values
    * (Σ max(0, distinct_rhs − 1) — the minimum number of cell edits
    * that would repair the dependency, the standard g₃-style error
    * measure). Discovered FDs drive normalization, key inference, and
    * dirty-join debugging ("order_id no longer determines customer").
    *
    * One exact two-phase distinct aggregate per candidate (the (lhs,
    * rhs) domain bounds the shuffle), unioned — candidates are
    * independent, so Spark runs them as parallel subtrees of the union.
    *
    * Output: (fd, n_lhs, n_violating, extra_rhs, holds ∈ {0, 1}).
    */
  def fdAudit(df: DataFrame,
      fds: Seq[(String, Column, Column)]): DataFrame =
    fds.map { case (name, lhs, rhs) =>
      df.select(lhs.as("l"), rhs.as("r"))
        .groupBy("l").agg(countDistinct(col("r")).as("d"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("d") > 1L, 1L).otherwise(0L)).as("n_violating"),
          sum(col("d") - 1L).as("extra_rhs"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
          col("extra_rhs"),
          when(col("n_violating") === 0L, lit(1L)).otherwise(lit(0L))
            .as("holds"))
    }.reduce(_ unionByName _)

  /** Per-group Kendall concordance between two orderings — "does value
    * rise with time" (or any monotone-association question) without
    * the parametric assumptions of q188's OLS slope: over all within-
    * group pairs strictly ordered by `orderCol`, the counts of
    * concordant / discordant / tied `valueCol` moves and
    * tau = (conc − disc)/(conc + disc + ties) as a fixed-order 6dp
    * double (the one division; counts are exact integers — no signed
    * integral div, whose floor/truncate semantics differ across
    * engines).
    *
    * The pair join is an equi-join on the GROUP key with fan-out
    * C(group size, 2) — sound when the per-group cardinality is
    * a-priori bounded (orders per customer, versions per document);
    * rollupCol then aggregates the bounded pair counts to reporting
    * granularity. This is the documented small-group regime: for
    * unbounded groups use q188's OLS trend, which is linear.
    *
    * Output: (g, n_pairs, conc, disc, ties, tau_6dp).
    */
  def kendallTau(df: DataFrame, groupCol: Column, orderCol: Column,
      valueCol: Column, rollupCol: Column): DataFrame = {
    val base = df.select(groupCol.as("k"), rollupCol.as("g"),
      orderCol.as("o"), valueCol.as("v"))
    val a = base.select(col("k"), col("g"), col("o").as("oa"),
      col("v").as("va"))
    val b = base.select(col("k"), col("o").as("ob"), col("v").as("vb"))
    a.join(b, Seq("k")).filter(col("oa") < col("ob"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("vb") > col("va"), 1L).otherwise(0L)).as("conc"),
        sum(when(col("vb") < col("va"), 1L).otherwise(0L)).as("disc"),
        sum(when(col("vb") === col("va"), 1L).otherwise(0L)).as("ties"))
      .select(col("g"), col("n_pairs"), col("conc"), col("disc"),
        col("ties"),
        expr("""case when n_pairs = 0 then 0.0d else
          |  round((cast(conc as double) - cast(disc as double))
          |    / cast(n_pairs as double), 6) end""".stripMargin)
          .as("tau_6dp"))
  }

  /** Exact join-explosion audit — the post-hoc truth q181's CMS sketch
    * estimates a priori: the exact output cardinality of an equi-join
    * and the top-k keys driving it (|A⋈B| = Σ_k c_A(k)·c_B(k), each
    * key's share in ppm). Run when a join's output size surprises —
    * the top keys ARE the skew/salting worklist ([[graft.operators
    * .Skew.saltPlan]] consumes the same shape).
    *
    * Two key-domain aggregates, their equi-join, one TakeOrdered top-k
    * (never a full global sort) against a broadcast single-row total.
    * Products in decimal(38,0) — a 10⁹×10⁹ hot key prices 10¹⁸ pairs,
    * at the int64 edge.
    *
    * Output: top-k rows (k, n_a, n_b, pairs, share_ppm), ordered by
    * (pairs desc, k).
    */
  def joinExplosionAudit(a: DataFrame, aKey: Column, b: DataFrame,
      bKey: Column, topK: Int): DataFrame = {
    val ca = a.select(aKey.as("k")).groupBy("k")
      .agg(count(lit(1)).as("n_a"))
    val cb = b.select(bKey.as("k")).groupBy("k")
      .agg(count(lit(1)).as("n_b"))
    val j = ca.join(cb, "k")
      .withColumn("pairs",
        expr("cast(n_a as decimal(38,0)) * n_b"))
    val tot = j.agg(sum("pairs").as("total"))
    // top-k is selected on the DECIMAL product: a long cast of a
    // >int64 hot key is null under non-ANSI eval and would silently
    // corrupt both the ordering and the reported count. The output
    // cast stays long (the oracle contract) but RAISES past the edge
    // instead of nulling — only the k surviving rows pay the branch.
    j.crossJoin(broadcast(tot))
      .orderBy(col("pairs").desc, col("k"))
      .limit(topK)
      .select(col("k"), col("n_a"), col("n_b"),
        expr("CASE WHEN pairs > 9223372036854775807 THEN " +
          "CAST(raise_error('joinExplosionAudit: pair count exceeds " +
          "int64; keep the decimal form') AS BIGINT) " +
          "ELSE CAST(pairs AS BIGINT) END").as("pairs"),
        expr("cast((pairs * 1000000) div total as bigint)")
          .as("share_ppm"))
      .orderBy(col("pairs").desc, col("k"))
  }

  /** Fano factor (index of dispersion) of per-bucket totals — the
    * burstiness classifier for arrival series: variance/mean = 1 is
    * Poisson (memoryless arrivals), > 1 is bursty/clumped (retry
    * storms, batch jobs, crawler sweeps), < 1 is regular (rate-limited
    * or scheduled). Computed from cross-multiplied exact integers —
    * var/mean = (n·Q − S²)/(n·S) with S = Σx, Q = Σx² in decimal(38,0)
    * — and reported as the single fixed-order 6dp double division.
    * The drift family's SHAPE probe: cusum says where the level moved,
    * autocorr whether shocks persist, fano how clumped the mass is.
    *
    * One aggregate to the (group, bucket) domain, one per-group
    * reduce. Output: (g, n_buckets, total, fano_6dp); zero-total
    * groups report 0.0.
    */
  def fanoFactor(df: DataFrame, groupCol: Column, bucketCol: Column,
      valueCol: Column): DataFrame =
    df.select(groupCol.as("g"), bucketCol.as("k"),
        valueCol.cast("long").as("x"))
      .groupBy("g", "k").agg(sum("x").as("xb"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_buckets"), sum("xb").as("total"),
        sum(expr("cast(xb as decimal(38,0)) * xb")).as("q"))
      .select(col("g"), col("n_buckets"),
        col("total").cast("long").as("total"),
        expr("""case when total = 0 then 0.0d else
          |  round(cast(n_buckets * q
          |      - cast(total as decimal(38,0)) * total as double)
          |    / cast(cast(n_buckets as decimal(38,0)) * total as double),
          |    6) end""".stripMargin).as("fano_6dp"))

  /** Pareto coverage — "how few units carry half (and 90%) of the
    * mass": per group, the unit-count frame is ranked by contribution
    * (descending, unit id tie-break) and the report is the minimal
    * number of units whose cumulative share reaches 50% and 90% —
    * exact integers end to end (2·cum ≥ total and 10·cum ≥ 9·total; no
    * percentage is ever materialized). The concentration metric behind
    * load budgeting ("3 users are 90% of traffic") and dataset
    * curation ("12 domains are half the corpus").
    *
    * One aggregate to the (group, unit) domain, one window PARTITIONED
    * by group over that bounded frame, one per-group argmin-style
    * reduce. Output: (g, n_units, n_events, units_50, units_90).
    */
  def paretoCoverage(df: DataFrame, groupCol: Column,
      unitCol: Column): DataFrame = {
    val counts = df.select(groupCol.as("g"), unitCol.as("u"))
      .groupBy("g", "u").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("g").orderBy(col("c").desc, col("u"))
    counts
      .withColumn("r", row_number().over(w))
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("tot", sum(col("c")).over(Window.partitionBy("g")))
      .groupBy("g")
      .agg(count(lit(1)).as("n_units"), max(col("tot")).as("n_events"),
        min(when(col("cum") * 2 >= col("tot"), col("r"))).as("units_50"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("r")))
          .as("units_90"))
      .select(col("g"), col("n_units"),
        col("n_events").cast("long").as("n_events"),
        col("units_50").cast("long").as("units_50"),
        col("units_90").cast("long").as("units_90"))
  }

  /** Gini concentration of per-unit mass — [[paretoCoverage]]'s
    * single-number companion: 0 = perfectly even, →1 = one unit
    * carries everything. Computed from the exact integer form over
    * units ranked ASCENDING by contribution,
    * G = Σ (2r − n − 1)·x_(r) / (n·Σx) — the numerator is an exact
    * (possibly large, decimal(38,0)) integer and ≥ 0 by the ascending
    * order, so the report is the single fixed-order 6dp double
    * division.
    *
    * One aggregate to the (group, unit) domain, one group-PARTITIONED
    * rank window over that bounded frame, one per-group reduce.
    * Output: (g, n_units, n_events, gini_6dp).
    */
  def giniConcentration(df: DataFrame, groupCol: Column,
      unitCol: Column): DataFrame = {
    val counts = df.select(groupCol.as("g"), unitCol.as("u"))
      .groupBy("g", "u").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("g").orderBy(col("c"), col("u"))
    counts
      .withColumn("r", row_number().over(w))
      .groupBy("g")
      .agg(count(lit(1)).as("n_units"), sum("c").as("n_events"),
        sum(expr("cast(2 * r as decimal(38,0)) * c")).as("rc"))
      .select(col("g"), col("n_units"),
        col("n_events").cast("long").as("n_events"),
        expr("""round(cast(rc - (cast(n_units as decimal(38,0)) + 1)
          |    * n_events as double)
          |  / cast(cast(n_units as decimal(38,0)) * n_events as double),
          |  6)""".stripMargin).as("gini_6dp"))
  }

  /** Trimmed mean — the robust-location estimator completing the
    * medianMad family for the "average order value without the whale
    * orders" question: per group, the p-tail boundary VALUES (lo = the
    * value at rank ⌈αn⌉, hi = at rank ⌈(1−α)n⌉, both via the radix
    * [[rankSelect]] descent) and the mean over values inside
    * [lo, hi] — value-based trimming, so the definition is
    * partitioning-independent and the oracle replays it exactly; the
    * mean is the single fixed-order 6dp double division of an exact
    * integer sum.
    *
    * @param alphaPct tail percentage to trim on EACH side (e.g. 5)
    * Output: (g, n, lo, hi, n_kept, trimmed_mean_6dp).
    */
  def trimmedMean(df: DataFrame, groupCol: Column, valueCol: Column,
      alphaPct: Int, domainBits: Int = 64): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 49, s"alphaPct: $alphaPct")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val counts = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
      .persist(lvl)
    counts.count() // materialize before the descent's broadcasts race
    // both trim boundaries from ONE radix hierarchy (rankSelectMulti):
    // the two single-target descents each rebuilt the level chain over
    // the same counts frame — same lookups, half the hierarchy work
    val (boundRows, rel1) = rankSelectMulti(counts, Seq("g"), "c",
      Seq(0L -> ((nn: Column) => ((nn * alphaPct + 99) / 100).cast("long")),
        1L -> ((nn: Column) =>
          ((nn * (100 - alphaPct) + 99) / 100).cast("long"))),
      "__t", "bv", persistInput = false, domainBits = domainBits)
    // fold the two labeled rows per group into (lo, hi) COLUMNS with one
    // tiny aggregate — the single consumer the lazy multi-descent needs,
    // so it runs as one overlapped broadcast subjob of the final action
    val bounds = boundRows.groupBy("g")
      .agg(min(when(col("__t") === 0L, col("bv"))).as("lo"),
        min(when(col("__t") === 1L, col("bv"))).as("hi"))
    val out = counts
      .join(broadcast(bounds), Seq("g"))
      .groupBy("g", "lo", "hi")
      .agg(sum("c").as("n"),
        coalesce(sum(when(col("v") >= col("lo") && col("v") <= col("hi"),
          col("c"))), lit(0L)).as("n_kept"),
        coalesce(sum(when(col("v") >= col("lo") && col("v") <= col("hi"),
          expr("cast(v as decimal(38,0)) * c"))),
          lit(0L).cast("decimal(38,0)")).as("ks"))
      .select(col("g"), col("n").cast("long").as("n"), col("lo"),
        col("hi"), col("n_kept").cast("long").as("n_kept"),
        expr("""case when n_kept = 0 then 0.0d else
          |  round(cast(ks as double) / cast(n_kept as double), 6) end"""
          .stripMargin).as("trimmed_mean_6dp"))
    // LAZY persist + deferred release (r17): the eager res.count()
    // barrier only existed so the internals could release immediately,
    // and the result cache itself leaked (see EventOps.conversionLatency)
    val res = out.persist(lvl)
    graft.PendingRelease.defer(
      () => { rel1(); counts.unpersist(); res.unpersist(); () })
    res
  }

  /** Benford first-digit profile — the classic fabricated-data /
    * unit-mixup audit: for each group, the observed count of each
    * leading digit 1-9 of the (positive) integer value next to
    * Benford's expected share log₁₀(1+1/d) as hardcoded ppm constants
    * (they sum to exactly 10⁶), plus the per-digit deviation
    * |10⁶·obs − n·exp| div n — integer-exact, so no transcendental is
    * evaluated at query time on either engine. First digit is string
    * arithmetic on the non-negative value (substr of the cast), not
    * log/pow — exact for the full int64 range.
    *
    * One aggregate to the (group, digit) domain joined against the
    * broadcast 9-row constant table; zero-count digits surface with
    * n_obs = 0 so the profile always has 9·|groups| rows.
    *
    * Output: (g, digit, n_obs, exp_ppm, dev_ppm).
    */
  /** First-digit extraction shared by the batch profile and the
    * streaming monitor: string arithmetic on the positive long — exact
    * for the full int64 range, no log/pow.
    */
  def leadingDigitCounts(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame =
    df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .filter(col("v") > 0L)
      .withColumn("digit",
        substring(col("v").cast("string"), 1, 1).cast("long"))
      .groupBy("g", "digit").agg(count(lit(1)).as("c"))

  /** [[benfordProfile]]'s report half over a pre-aggregated
    * (g, digit, c) frame — the finisher a STREAMING digit-count
    * aggregate ([[graft.streaming.EventAnalytics.digitCounts]]) feeds
    * at read time, so the online monitor and the batch audit share one
    * deviation formula by construction.
    */
  def benfordFromCounts(obs: DataFrame): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    val expected = Seq((1L, 301030L), (2L, 176091L), (3L, 124939L),
      (4L, 96910L), (5L, 79181L), (6L, 66947L), (7L, 57992L),
      (8L, 51153L), (9L, 45757L)).toDF("digit", "exp_ppm")
    val grid = obs.select("g").distinct().crossJoin(broadcast(expected))
    grid.join(obs, Seq("g", "digit"), "left")
      .withColumn("n_obs", coalesce(col("c"), lit(0L)))
      .withColumn("n", sum(col("n_obs"))
        .over(Window.partitionBy("g")))
      .select(col("g"), col("digit"), col("n_obs"), col("exp_ppm"),
        expr("""cast(abs(cast(1000000 as decimal(38,0)) * n_obs
          |  - cast(n as decimal(38,0)) * exp_ppm)
          |  div cast(n as decimal(38,0)) as bigint)""".stripMargin)
          .as("dev_ppm"))
  }

  def benfordProfile(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame =
    benfordFromCounts(leadingDigitCounts(df, groupCol, valueCol))
}
