package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.Portable

/** Portable cardinality sketches.
  *
  * KMV (k-minimum-values): keep the k smallest distinct 48-bit hashes of
  * a column; if the k-th smallest is `kth`, the distinct count is
  * ≈ (k-1)·2⁴⁸/kth. Unlike HLL — whose register layout is
  * engine-specific, so `approx_count_distinct` can never hash-match
  * across engines — the KMV sketch over the md5-derived hash48 is fully
  * deterministic and any engine replays the identical estimate
  * (exactly checkable by the DuckDB oracle).
  *
  * Scale: one hash aggregation on the group keys — the bounded
  * [[graft.functions.MinKDistinctAggregator]] buffer dedups and keeps
  * the k smallest hashes inside the aggregate, so partial (map-side)
  * combining ships ≤ k longs per group per partition and there is no
  * pre-distinct shuffle and no per-group global sort.
  */
object Sketches {

  val HashSpace: Double = 281474976710656.0 // 2^48

  private def estCol(k: Int): Column =
    when(col("s.n_kept") < k, col("s.n_kept").cast("double"))
      .otherwise(round(lit((k - 1) * HashSpace) / col("s.kth"), 2))

  /** Per-group KMV distinct-count estimate of `valueCol` (hashed via its
    * canonical string form so any engine reproduces it). Groups with
    * fewer than k distinct values report the exact count.
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      k: Int): DataFrame = {
    val minK = graft.functions.MinKDistinctAggregator.minK(k)
    df.select(groupCols.map(col) :+
        Portable.hash48(valueCol.cast("string")).as("h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(minK(col("h")).as("s"))
      .select(groupCols.map(col) :+ estCol(k).as("est_distinct"): _*)
  }

  /** Per-group KMV SKETCH (the sorted min-k hash array) — the mergeable
    * form: persist per-shard/per-day, then [[kmvMerge]] unions sketches
    * into the same estimate a full rescan would give (exactly — KMV
    * min-k is associative), without touching the raw data again.
    */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      k: Int): DataFrame = {
    val minKArr = graft.functions.MinKDistinctAggregator.minKArray(k)
    df.select(groupCols.map(col) :+
        Portable.hash48(valueCol.cast("string")).as("h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(minKArr(col("h")).as("sketch"))
  }

  /** Merge sketch frames (same k) into per-group estimates: explode the
    * arrays and re-run the bounded min-k aggregation — one shuffle over
    * ≤ k longs per input sketch, never the raw data.
    */
  def kmvMerge(sketches: DataFrame, groupCols: Seq[String], k: Int): DataFrame = {
    val minK = graft.functions.MinKDistinctAggregator.minK(k)
    sketches
      .select(groupCols.map(col) :+ explode(col("sketch")).as("h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(minK(col("h")).as("s"))
      .select(groupCols.map(col) :+ estCol(k).as("est_distinct"): _*)
  }

  /** floor(log₂ v) for positive Longs, capped at 39 (covers any
    * cent-scaled money/length value) — NO float log(): Java's
    * `Math.log(x)/Math.log(2)` is not exact at powers of two, so a
    * float log2 disagrees across engines exactly at bucket boundaries.
    * The native [[graft.functions.FloorLog2Capped]] expression computes
    * it as one `numberOfLeadingZeros` instruction, bit-identical to the
    * 39-term comparison sum Σ [v ≥ 2^k] that the DuckDB oracles replay
    * (equivalence pinned exhaustively in NativeHashesSpec).
    */
  private def floorLog2(v: Column): Column =
    graft.functions.FloorLog2Capped(v)

  /** DDSketch-style MERGEABLE quantile sketch on a positive Long value
    * domain: values < 32 keep their own bucket (exact); larger values
    * bucket by (floor(log₂ v), next 4 mantissa bits) — a base-2^(1/16)
    * log histogram whose bucket width is ≤ 1/16 of its lower bound, so
    * any quantile read from it is within 6.25% RELATIVE error with a
    * bucket count bounded by 32 + 16·35 ≈ 600 regardless of data size.
    * This completes the bounded-sketch family (KMV/HLL cardinality,
    * count-min frequency, Misra-Gries heavy hitters) with quantiles:
    * per-shard/per-day sketches merge by adding counts and the merged
    * quantile equals the full-scan sketch EXACTLY — and unlike
    * rank-sketches with random compactors (KLL), every step is
    * deterministic integer arithmetic the oracle replays bit-for-bit.
    * Output: (groups..., bucket, cnt).
    */
  def logHistSketch(df: DataFrame, groupCols: Seq[String],
      valueCol: Column): DataFrame = {
    val base = df.select(groupCols.map(col) :+ valueCol.cast("long").as("v"): _*)
      .filter(col("v") > 0)
    // batch path: STAGE the floor-log2 into its own projection so the
    // 39-comparison sum is evaluated once per row. [[logBucket]] inlines
    // it twice inside one grouping expression — required for streaming
    // (a pre-groupBy projection drops the watermark) but a measured 7×
    // regression here when the duplicated tree lands in the agg key
    // (q151 0.65 s → 4.8 s at sf0.1).
    base.withColumn("b", floorLog2(col("v")))
      .withColumn("bucket", when(col("v") < 32, col("v"))
        .otherwise(lit(32) + (col("b") - 5) * 16 +
          (call_function("shiftright", col("v").cast("long"),
            col("b") - lit(4)) % 16)))
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** The [[logHistSketch]] bucket id for a positive Long `v`, as a
    * single Column — exposed so streaming callers can group by
    * (watermarked window struct, bucket) directly: projecting grouping
    * keys BEFORE a stateful groupBy would drop the event-time
    * watermark metadata and unbound the state.
    */
  def logBucket(v: Column): Column = {
    val b = floorLog2(v)
    when(v < 32, v).otherwise(lit(32) + (b - 5) * 16 +
      (call_function("shiftright", v.cast("long"), b - lit(4)) % 16))
  }

  /** Merge log-histogram sketch frames (same bucketing): counts add. */
  def logHistMerge(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from a [[logHistSketch]]: for each integer
    * percentile p, the LOWER BOUND of the first bucket whose cumulative
    * count crosses `n·p` (the exact integer membership test — no float
    * rank). est ≤ true value ≤ est·17/16 by construction. The
    * cumulative walk is a window over ≤ ~600 bucket rows per group —
    * value-domain work, independent of data size.
    * Output: (groups..., p, est).
    */
  def logHistQuantiles(sketch: DataFrame, groupCols: Seq[String],
      ps: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("bucket")
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    val cum = sketch
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("lb", when(col("bucket") < 32, col("bucket"))
        .otherwise(expr(
          """shiftleft(CAST(16 AS BIGINT) + ((bucket - 32) % 16),
            |  CAST(((bucket - 32) div 16) + 1 AS INT))""".stripMargin)))
    // ONE pass for every requested percentile: explode the (bounded)
    // percentile list against the ~600-bucket cumulative frame instead
    // of a per-percentile union, which re-evaluates the upstream sketch
    // aggregation once per p
    cum.select(groupCols.map(col) ++ Seq(col("cum"), col("n"), col("lb"),
        explode(array(ps.map(p => lit(p.toLong)): _*)).as("p")): _*)
      .filter(col("cum") * 100 >= col("n") * col("p"))
      .groupBy((groupCols :+ "p").map(col): _*)
      .agg(min(col("lb")).as("est"))
      .select(groupCols.map(col) :+ col("p") :+ col("est"): _*)
  }

  /** Pairwise KMV Jaccard matrix across groups: for every unordered
    * group pair, estimate the Jaccard similarity of their value SETS
    * from bounded min-k sketches — the "how much do these sources
    * overlap" report (shingle sets per crawl source, key sets per
    * shard) computed WITHOUT any cross-group row join: one bounded
    * min-k aggregate over the data (map-side combining, ≤ k longs per
    * group shipped), then G² pair arithmetic on k-length arrays — at
    * 100 TB the data is touched once, the matrix costs nothing.
    *
    * Beyer et al. set algebra per pair: U = the k smallest of
    * K_A ∪ K_B, ρ = |U ∩ K_A ∩ K_B|, J ≈ ρ/|U|. When |U| < k both
    * sets were seen whole and the figure is EXACT. Deterministic
    * hash48 + integer ppm make the estimate itself replayable.
    * Output: (grp_a, grp_b, matches, union_k, jaccard_ppm).
    */
  def kmvJaccardMatrix(df: DataFrame, groupCol: String, valueCol: Column,
      k: Int): DataFrame = {
    val sk = kmvSketch(df, Seq(groupCol), valueCol, k)
    val a = sk.select(col(groupCol).as("grp_a"), col("sketch").as("ka"))
    val b = sk.select(col(groupCol).as("grp_b"), col("sketch").as("kb"))
    // G sketch rows per side — the pair join is a deliberate tiny
    // nested-loop over group pairs, never over data rows
    a.join(b, col("grp_a") < col("grp_b"))
      .withColumn("u", expr(s"slice(array_sort(array_union(ka, kb)), 1, $k)"))
      .select(col("grp_a"), col("grp_b"),
        expr("CAST(size(array_intersect(array_intersect(u, ka), kb)) AS BIGINT)")
          .as("matches"),
        expr("CAST(size(u) AS BIGINT)").as("union_k"))
      .withColumn("jaccard_ppm", expr("(matches * 1000000) div union_k"))
  }

  /** KMV set-intersection estimate between two key columns — the join-
    * cardinality statistic an optimizer wants BEFORE running the join
    * ("how many distinct keys do these two 100 TB tables share?") from
    * two bounded sketches instead of a key-domain shuffle.
    *
    * Beyer et al.'s KMV set algebra: K_∪ = the k smallest hashes of
    * K_A ∪ K_B with θ its max, ρ = |{h ∈ K_∪ : h ∈ K_A ∧ h ∈ K_B}|;
    * then |A∪B| ≈ (k−1)·2⁴⁸/θ and |A∩B| ≈ ρ·|A∪B|/k. When the union
    * sketch holds fewer than k hashes both sides were seen WHOLE, and
    * every figure is exact. Deterministic hash48 + fixed evaluation
    * order make the estimate itself (not just its error bound) exactly
    * replayable — the oracle rebuilds both sketches relationally and
    * agrees bit-for-bit.
    *
    * Scale: one bounded min-k aggregate per side (map-side combining,
    * ≤ k longs shipped), then a driver-free 1-row × 1-row join of the
    * two sketch arrays. Output: (n_a_kept, n_b_kept, theta, rho,
    * est_union, est_intersect).
    */
  def kmvIntersectEstimate(a: DataFrame, aCol: Column,
      b: DataFrame, bCol: Column, k: Int): DataFrame = {
    val sa = kmvSketch(a.select(aCol.as("v")), Seq.empty, col("v"), k)
      .select(col("sketch").as("ka"))
    val sb = kmvSketch(b.select(bCol.as("v")), Seq.empty, col("v"), k)
      .select(col("sketch").as("kb"))
    sa.crossJoin(sb)
      .withColumn("un", slice(array_sort(
        array_distinct(concat(col("ka"), col("kb")))), 1, k))
      .withColumn("theta", element_at(col("un"), size(col("un"))))
      .withColumn("rho", size(array_intersect(
        array_intersect(col("un"), col("ka")), col("kb"))))
      .withColumn("est_union",
        when(size(col("un")) < k, size(col("un")).cast("double"))
          .otherwise(round(lit((k - 1) * HashSpace) / col("theta"), 2)))
      .withColumn("est_intersect",
        when(size(col("un")) < k, col("rho").cast("double"))
          .otherwise(round(col("rho") * (lit((k - 1) * HashSpace) /
            col("theta")) / k, 2)))
      .select(size(col("ka")).cast("long").as("n_a_kept"),
        size(col("kb")).cast("long").as("n_b_kept"),
        col("theta"), col("rho").cast("long").as("rho"),
        col("est_union"), col("est_intersect"))
  }

  /** Count-min sketch — frequency estimation for heavy-hitter queries
    * over a token/key stream, the counting sibling of KMV: `depth`
    * counter rows of `width` cells, cell (r, c) counting every item whose
    * r-th hash position is c; an item's estimate is the MIN over its
    * depth cells (always ≥ the true count — collisions only inflate).
    * Positions come from the deterministic hash48 family
    * (hash48(key || "#r") mod width), so any engine — the DuckDB oracle
    * included — builds the identical counters and identical estimates,
    * collisions and all.
    *
    * Scale: building is explode(depth) → ONE hash agg to depth·width
    * bounded rows (map-side combining does the heavy lifting); the sketch
    * is mergeable by cell-wise addition, and probing is a broadcast join
    * against the tiny counter frame.
    */
  def countMin(df: DataFrame, keyCol: Column, depth: Int,
      width: Int): DataFrame = {
    val rows = array((0 until depth).map { r =>
      struct(lit(r).as("r"),
        (Portable.hash48(concat(keyCol.cast("string"), lit("#" + r)))
          % width).cast("int").as("pos"))
    }: _*)
    df.select(explode(rows).as("rp"))
      .groupBy(col("rp.r").as("r"), col("rp.pos").as("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Probe a count-min sketch for a literal key set: (key, est) with
    * est = min over the key's depth cells. Positions are computed
    * driver-side with the same native hash48, so the probe frame is
    * depth rows per key — a broadcast join, no scan of anything.
    */
  def countMinEstimate(sketch: DataFrame, keys: Seq[String], depth: Int,
      width: Int): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val probes: Seq[(String, Int, Int)] =
      for { k <- keys; r <- 0 until depth } yield
        (k, r, (graft.functions.NativeHashUtil.hash48(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$k#$r"))
          % width).toInt)
    val p = probes.toDF("key", "r", "pos")
    // broadcast the SKETCH: it is bounded at depth·width cells whatever
    // the data size, and Spark only supports build-right for a LEFT
    // outer join — a broadcast hint on the preserved probe side is
    // ignored (HintErrorLogger) and the join degrades to a shuffle
    p.join(broadcast(sketch), Seq("r", "pos"), "left")
      .groupBy("key")
      // a key hitting an empty cell has true count 0 in that row
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Join-cardinality estimation from two count-min sketches — the
    * planner statistic that decides join strategy BEFORE running the
    * join: |A ⋈_key B| = Σ_v cntA(v)·cntB(v), estimated per sketch row
    * as the inner product of the two counter arrays and taken as the
    * MIN over the depth rows (collisions only add cross terms, so every
    * row's inner product ≥ the true size — the AMS/count-min
    * upper-bound estimator). Cost is two bounded sketch builds (one
    * hash agg each, ≤ depth·width cells whatever the input size) plus a
    * join of two tiny counter frames: at 100 TB this replaces running a
    * possibly-exploding join to learn it explodes.
    *
    * Output: one row, `est_pairs`. Both sketches must share (depth,
    * width) — positions come from the same deterministic hash48 family,
    * so any engine reproduces the identical estimate, collisions and
    * all.
    */
  def cmsJoinSize(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      depth: Int, width: Int): DataFrame = {
    val sa = countMin(a, aKey, depth, width)
    val sb = countMin(b, bKey, depth, width)
    // inner join on the cell: a cell empty on either side contributes 0
    sa.as("sa").join(sb.as("sb"), Seq("r", "pos"))
      .groupBy(col("r"))
      .agg(sum(col("sa.cnt") * col("sb.cnt")).as("ip"))
      .agg(min(col("ip")).as("est_pairs"))
  }

  /** EXACT heavy hitters without shuffling the full term universe:
    * per-partition Misra-Gries summaries nominate candidates, a
    * broadcast semi-screen + exact count verifies them. The pigeonhole
    * argument makes the candidate set a guaranteed superset: a term with
    * global count > n/(capacity+1) must exceed N_p/(capacity+1) in some
    * partition (else the sum is bounded), and Misra-Gries never evicts a
    * key whose decremented counter is still positive — so with
    * `supportPpm · (capacity+1) > 1e6` (enforced) no qualifying term can
    * be missed, and the exact recheck removes every false positive.
    * Output is therefore EXACT (term, cnt) for all terms with
    * `cnt · 1e6 ≥ n · supportPpm` — deterministic regardless of
    * partitioning, even though the intermediate candidate set is not.
    *
    * Scale: the only full-width shuffle a naive `groupBy(term)` needs on
    * a 100 TB corpus (billions of distinct long-tail terms) is replaced
    * by a bounded candidate frame (≤ capacity·partitions rows,
    * broadcast) and an aggregation over candidate rows only. Three
    * streaming scans of the term column, no persisted state.
    *
    * mapPartitions is deliberate (SURVEY §2 last-resort rule): the MG
    * counter bank is genuine per-partition imperative state with
    * data-dependent eviction — no Catalyst expression expresses it.
    */
  def heavyHitters(df: DataFrame, termCol: Column, capacity: Int,
      supportPpm: Long): DataFrame = {
    require(supportPpm * (capacity + 1) > 1000000L,
      s"capacity $capacity too small for support ${supportPpm}ppm: " +
        "the Misra-Gries superset guarantee needs supportPpm*(capacity+1) > 1e6")
    val spark = df.sparkSession
    import spark.implicits._
    val terms = df.select(termCol.cast("string").as("t"))
      .filter(col("t").isNotNull)
    val n = terms.count()
    val cands = terms.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        m.get(t) match {
          case Some(c) => m.update(t, c + 1)
          case None =>
            if (m.size < capacity) m.update(t, 1L)
            else {
              // decrement-all (the arriving item's implicit 1 included)
              val ks = m.keys.toArray
              var i = 0
              while (i < ks.length) {
                val k = ks(i); val c = m(k) - 1
                if (c == 0L) m.remove(k) else m.update(k, c)
                i += 1
              }
            }
        }
      }
      m.keysIterator
    }.toDF("t").distinct()
    terms.join(broadcast(cands), Seq("t"), "left_semi")
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 1000000L >= lit(n) * supportPpm)
      .select(col("t").as("term"), col("cnt"))
  }

  /** Bit length of a non-negative Long column (position of the highest
    * set bit; 0 for 0) as a pure comparison chain — no log2()/floats
    * (whose rounding near powers of two is engine-dependent) and no
    * reliance on a bin() string format, so the DuckDB oracle replays the
    * identical CASE chain. maxBits codegen'd comparisons.
    */
  private def bitLen(c: Column, maxBits: Int): Column =
    (1 to maxBits).foldLeft(lit(0)) { (acc, b) =>
      when(c >= lit(1L << (b - 1)), lit(b)).otherwise(acc)
    }

  /** α·m² rounded to a Long — the HLL bias constant for m = 2^p ≥ 128
    * registers (Flajolet et al.'s 0.7213/(1 + 1.079/m)), pre-multiplied
    * by m² so the whole estimator is one integer division. Computed
    * driver-side only; executors and the oracle see a literal.
    */
  def alphaM2(p: Int): Long = {
    val m = 1L << p
    math.round(0.7213 / (1 + 1.079 / m) * m * m)
  }

  /** Portable HyperLogLog registers of `valueCol` per group — the
    * FIXED-SIZE mergeable cardinality sketch (m = 2^p registers
    * regardless of cardinality, vs KMV's k kept values): bucket = the
    * hash48's top p bits; register = max over the bucket's values of
    * rank = (leading zeros of the remaining 48−p bits) + 1. Engine-native
    * HLL registers (`approx_count_distinct`) are layout-opaque and never
    * hash-match across engines; these registers — and the estimates
    * derived from them — are exact integers any engine reproduces.
    *
    * Scale: one hash aggregation to ≤ m rows per group, map-side
    * combining doing the heavy lifting (max is commutative); no
    * pre-distinct shuffle of the value domain at any point.
    */
  def hllSketch(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      p: Int = 9): DataFrame = {
    require(p >= 7 && p <= 14, s"p must be in [7, 14], got $p")
    val w = 48 - p
    df.select(groupCols.map(col) :+
        Portable.hash48(valueCol.cast("string")).as("__h"): _*)
      .select(groupCols.map(col) :+
        expr(s"__h div ${1L << w}").as("bucket") :+
        (lit(w + 1) - bitLen(col("__h") % (1L << w), w)).as("rank"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rank")).as("reg"))
  }

  /** Collapse [[hllSketch]] registers into per-group estimates. The
    * harmonic sum Σ 2^−M is kept as the scaled INTEGER
    * Σ 2^(48−p+1−M_b) + (m − hit)·2^(48−p+1) (≤ 2^49 — fits a Long; the
    * second term covers never-hit registers at M = 0), and the estimate
    * is round(α·m²)·2^(48−p+1) div Z — numerator ≤ 6.7·10^18 at p = 14,
    * still a Long. Zero floats anywhere, so the estimate itself (not
    * just its error bound) is bit-replayable. Raw estimator only: the
    * small-range linear-counting correction needs ln() (a transcendental
    * the oracle can't replay bit-for-bit), so callers below ~2.5·m
    * distinct should use exact counting or [[kmvDistinct]] instead.
    */
  def hllEstimate(sketch: DataFrame, groupCols: Seq[String],
      p: Int = 9): DataFrame = {
    require(p >= 7 && p <= 14, s"p must be in [7, 14], got $p")
    val m = 1L << p
    val scale = 1L << (48 - p + 1)
    sketch.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__hit"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${48 - p + 1} - reg)"))
          .as("__z"))
      .select(groupCols.map(col) :+
        expr(s"(${alphaM2(p)}L * ${scale}L) div " +
          s"(__z + ($m - __hit) * ${scale}L)").as("est_distinct"): _*)
  }

  /** Per-group HLL distinct-count estimate in one call. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      p: Int = 9): DataFrame =
    hllEstimate(hllSketch(df, groupCols, valueCol, p), groupCols, p)

  /** The register-COLUMNS formulation of the portable HLL for
    * single-aggregation contexts — Structured Streaming allows exactly
    * one stateful aggregation per query, so the (group, bucket)-row
    * shape of [[hllSketch]]→[[hllEstimate]] (two grouping levels) can't
    * stream. Instead: [[hllPrep]] projects the bucket/rank pair,
    * [[hllRegCols]] turns them into m conditional `max` AGGREGATE
    * columns (one grouped aggregation total — the simhashTable /
    * featureHashTable wide-agg pattern), and [[hllEstFromCols]] folds
    * the m register columns into the same integer estimate as
    * [[hllEstimate]], as a mere projection. Bit-identical to the row
    * formulation (spec-pinned), so batch and stream agree exactly.
    */
  def hllPrep(valueCol: Column, p: Int = 7): Seq[Column] = {
    require(p >= 7 && p <= 10, s"p must be in [7, 10] for the column form, got $p")
    val w = 48 - p
    val h = Portable.hash48(valueCol.cast("string"))
    // bucket = h div 2^w and rest = h mod 2^w via bit ops (h is a
    // non-negative 48-bit value, so shift/mask ARE the divisions)
    Seq(shiftright(h, w).as("__b"),
      (lit(w + 1) - bitLen(h.bitwiseAND(lit((1L << w) - 1)), w)).as("__r"))
  }

  /** The m aggregate columns: register k = max rank among bucket-k rows. */
  def hllRegCols(p: Int = 7): Seq[Column] =
    (0 until (1 << p)).map(k =>
      max(when(col("__b") === k, col("__r"))).as(s"__reg_$k"))

  /** The integer estimate from the m register columns (null register =
    * never hit = rank 0, contributing the full 2^(48−p+1) term — the
    * `(m − hit)·scale` arm of [[hllEstimate]]).
    */
  def hllEstFromCols(p: Int = 7): Column = {
    val scale = 1L << (48 - p + 1)
    val terms = (0 until (1 << p)).map(k =>
      s"coalesce(shiftleft(CAST(1 AS BIGINT), ${48 - p + 1} - __reg_$k), ${scale}L)")
    expr(s"(${alphaM2(p)}L * ${scale}L) div (${terms.mkString(" + ")})")
  }

  /** The single-UDAF register aggregation — same integers as
    * [[hllRegCols]] but ONE aggregate expression producing the m-int
    * register array, so the streaming plan that is re-optimized every
    * micro-batch stays constant-size (the m-column form costs seconds
    * of planner time per batch at p = 7).
    */
  def hllRegsAgg(p: Int = 7): Column = {
    require(p >= 7 && p <= 10, s"p must be in [7, 10] for the column form, got $p")
    udaf(new graft.functions.HllRegsAggregator(1 << p))
      .apply(col("__b"), col("__r"))
  }

  /** The integer estimate from the register-ARRAY column (register 0 =
    * never hit = the full 2^(48−p+1) term) — one `aggregate()` fold,
    * bit-identical to [[hllEstFromCols]]'s m-term sum.
    */
  def hllEstFromRegs(regsCol: String, p: Int = 7): Column = {
    val shift = 48 - p + 1
    expr(s"(${alphaM2(p)}L * ${1L << shift}L) div aggregate($regsCol, " +
      s"CAST(0 AS BIGINT), (acc, x) -> acc + shiftleft(CAST(1 AS BIGINT), $shift - x))")
  }

  /** Merge register frames (same p) into per-group estimates: register
    * max is associative and idempotent, so per-shard/per-day sketches
    * combine into EXACTLY the registers a full rescan would build — a
    * shuffle of ≤ m rows per sketch, never the raw data.
    */
  def hllMerge(sketches: DataFrame, groupCols: Seq[String],
      p: Int = 9): DataFrame =
    hllEstimate(
      sketches.groupBy((groupCols :+ "bucket").map(col): _*)
        .agg(max(col("reg")).as("reg")),
      groupCols, p)

  /** The window-based formulation [[kmvDistinct]] is checked against in
    * the spec: distinct → per-group row_number ≤ k → (count, max).
    * Identical estimates, but the window sorts every distinct hash of a
    * group in a single task — not for hot groups at scale.
    */
  def kmvDistinctViaWindow(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, k: Int): DataFrame = {
    val hashed = df
      .select(groupCols.map(col) :+
        Portable.hash48(valueCol.cast("string")).as("h"): _*)
      .distinct()
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy("h")
    val est = when(col("n_kept") < k, col("n_kept").cast("double"))
      .otherwise(round(lit((k - 1) * HashSpace) / col("kth"), 2))
    hashed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max("h").as("kth"))
      .select(groupCols.map(col) :+ est.as("est_distinct"): _*)
  }

  /** Persisted mergeable quantile-sketch store — the artifact contract
    * (LmStore / SigStore / AnnIndex) applied to [[logHistSketch]]: each
    * shard/day/source builds its ≤ ~600-bucket sketch ONCE, writes it
    * as parquet behind a [[ContentGate]] fingerprint, and any later
    * reader merges whatever stores it needs by adding counts — the
    * monitoring shape where per-day latency sketches roll up to
    * weekly/monthly quantiles without ever re-touching the raw data.
    * Count addition is exact, so quantiles from merged part stores
    * equal the full-scan sketch BIT-FOR-BIT (q178's oracle is q151's
    * SQL verbatim; the spec pins store == one-shot).
    */
  object SketchStore {
    def save(df: DataFrame, groupCols: Seq[String], valueCol: Column,
        dir: String): Unit =
      logHistSketch(df, groupCols, valueCol)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/sketch")

    /** [[save]] gated on the slice's content fingerprint (`idCol` +
      * the value expression itself, so a changed value FORMULA also
      * rebuilds).
      */
    def ensure(df: DataFrame, groupCols: Seq[String], valueCol: Column,
        idCol: Column, dir: String): Unit =
      ContentGate.ensure(dir,
        ContentGate.tag(df, idCol, valueCol, lit(true))) {
        save(df, groupCols, valueCol, dir)
      }

    /** Quantiles over the MERGE of any set of part stores. */
    def quantilesFrom(spark: org.apache.spark.sql.SparkSession,
        dirs: Seq[String], groupCols: Seq[String], ps: Seq[Int])
        : DataFrame = {
      require(dirs.nonEmpty, "need at least one part store")
      logHistQuantiles(
        logHistMerge(dirs.map(d => spark.read.parquet(s"$d/sketch"))
          .reduce(_.unionByName(_)), groupCols),
        groupCols, ps)
    }
  }

  /** Persisted mergeable count-min store — the artifact contract
    * (LmStore / SigStore / [[SketchStore]]) applied to [[countMin]]:
    * each shard/day/source builds its depth×width counter frame ONCE,
    * writes it behind a [[ContentGate]] fingerprint, and any later
    * reader merges whatever stores it needs by CELL-WISE ADDITION —
    * exact, so frequency estimates from merged part stores equal the
    * full-rescan sketch bit-for-bit (the q61 oracle formula holds
    * verbatim over the merged cells). The heavy-hitter / frequency
    * surface this buys at 100 TB: per-day token counters roll up to
    * arbitrary date ranges without re-tokenizing anything.
    */
  object CmsStore {
    def save(df: DataFrame, keyCol: Column, depth: Int, width: Int,
        dir: String): Unit =
      countMin(df, keyCol, depth, width)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/cms")

    /** [[save]] gated on the slice's content fingerprint (`idCol` +
      * the key expression, so a changed key FORMULA also rebuilds).
      */
    def ensure(df: DataFrame, keyCol: Column, idCol: Column, depth: Int,
        width: Int, dir: String): Unit =
      ContentGate.ensure(dir, ContentGate.tag(df, idCol, keyCol, lit(true))) {
        save(df, keyCol, depth, width, dir)
      }

    /** Point estimates for `keys` over the MERGE of any part stores. */
    def estimateFrom(spark: org.apache.spark.sql.SparkSession,
        dirs: Seq[String], keys: Seq[String], depth: Int,
        width: Int): DataFrame = {
      require(dirs.nonEmpty, "need at least one part store")
      val merged = dirs.map(d => spark.read.parquet(s"$d/cms"))
        .reduce(_.unionByName(_))
        .groupBy("r", "pos").agg(sum("cnt").as("cnt"))
      countMinEstimate(merged, keys, depth, width)
    }
  }

  /** Sketch-vs-exact quantile error audit — the calibration report for
    * the [[logHistSketch]] family (the quantile sibling of the LSH
    * S-curve and PQ distortion reports): for each group × percentile,
    * the sketch's estimate next to the EXACT quantile and the relative
    * error in ppm, plus the membership check of the sketch's
    * guaranteed band est ≤ exact ≤ est·17/16. This is what turns
    * "≤ 6.25% by construction" into a measured number a pipeline can
    * alert on.
    *
    * One data scan total: the per-(group, value) counts frame feeds a
    * WEIGHTED sketch aggregation (identical bucketing to
    * [[logHistSketch]] — count(*) becomes sum(c)) AND the exact side's
    * [[Stats.selectSorted]] (one target per percentile, all crossings
    * in one pass over the sorted counts — never a partition-less
    * window). The exact rank target mirrors the sketch's crossing
    * test: smallest v with cum·100 ≥ n·p ⟺ rank ceil(n·p/100). The
    * exact quantiles come back to the driver as a local frame. Rows
    * whose value is not positive or whose group is null are skipped.
    * Output: (groups..., p, est, exact, err_ppm, within_bound).
    *
    * Precondition: `ps` must be distinct; a duplicated p is rejected.
    */
  def logHistErrorAudit(df: DataFrame, groupCols: Seq[String],
      valueCol: Column, ps: Seq[Int]): DataFrame = {
    require(ps.distinct.size == ps.size, s"logHistErrorAudit: duplicate ps $ps")
    // feeds the sketch AND the exact selection
    val counts = Lineage.persistOwned(df
      .select(groupCols.map(col) :+ valueCol.cast("long").as("v"): _*)
      .filter(col("v") > 0)
      .groupBy((groupCols :+ "v").map(col): _*)
      .agg(count(lit(1)).as("c")))
    graft.PendingRelease.defer(() => { counts.unpersist(); () })
    val sk = counts.withColumn("b", floorLog2(col("v")))
      .withColumn("bucket", when(col("v") < 32, col("v"))
        .otherwise(lit(32) + (col("b") - 5) * 16 +
          (call_function("shiftright", col("v").cast("long"),
            col("b") - lit(4)) % 16)))
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("c")).as("cnt"))
    val est = logHistQuantiles(sk, groupCols, ps)
    // integral `div`, not float `/` + cast: double rounding keeps
    // ceil(n·p/100) exact only while n·p+99 < ~2⁵³; past that the
    // truncation can come out off by one and silently shift the
    // 'exact' quantile this audit compares against.
    val rows = Stats.selectSorted(counts, ps.map(p => (n: Column) =>
        call_function("div", n * p + lit(99L), lit(100L)))) { (_, hits) =>
      hits.flatMap { case (g, _, vs) =>
        ps.zip(vs).map { case (p, v) => Row.fromSeq(g.toSeq :+ p.toLong :+ v) }
      }
    }
    val exact = df.sparkSession.createDataFrame(rows.asJava, StructType(
      groupCols.map(counts.schema(_)) ++
        Seq("p", "exact").map(StructField(_, LongType))))
    est.join(exact, groupCols :+ "p")
      .select(groupCols.map(col) ++ Seq(col("p"), col("est"), col("exact"),
        expr("((exact - est) * 1000000) div exact").as("err_ppm"),
        (col("est") <= col("exact") && col("exact") * 16 <= col("est") * 17)
          .cast("long").as("within_bound")): _*)
  }
}
