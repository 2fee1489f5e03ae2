package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Event-stream product analytics: ordered funnels, cohort retention,
  * power-of-two time-decayed engagement, and Markov transition counts.
  * (Reference scope: the `events` table workloads of a training-data
  * telemetry pipeline; no counterpart in sync.py — north-star
  * extensions.) All four are exact: integer microsecond timestamps,
  * integer counts, and divisions either integer floor-div or a single
  * mirrored double division at the end — the cross-engine-parity rules
  * used everywhere else in this repo.
  */
object EventOps {

  /** Ordered funnel completion per user: for `steps = Seq(a, b, c, …)`,
    * t0 = the user's earliest `a`, t1 = earliest `b` STRICTLY AFTER t0,
    * t2 = earliest `c` strictly after t1, … — the "did the user progress
    * through the journey in order" metric, not mere per-step presence.
    *
    * `events` needs columns (`userCol`, `typeCol`, `tsCol`); `tsCol`
    * must be an integer (epoch-microsecond) column so comparisons are
    * exact. Output: (user, t0 … t{k-1}, depth) with each t nullable and
    * depth = number of completed steps. One aggregate per step, each
    * keyed on the user — the shuffles all share one key, so at cluster
    * scale the exchange is reused across rounds rather than re-planned.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col(userCol).as("user"),
      col(typeCol).as("etype"), col(tsCol).as("ts_us"))
    // Step 0 over ALL users (users who never reach step 0 stay with a
    // null t0 and depth 0 — the funnel reports the whole population).
    var acc = e.groupBy("user")
      .agg(min(when(col("etype") === steps.head, col("ts_us"))).as("t0"))
    for ((st, i) <- steps.tail.zipWithIndex) {
      val prevTs = (0 to i).map(j => col(s"t$j"))
      // when(ts > null) is null, so a missed earlier step cascades:
      // every later t stays null without special-casing.
      acc = acc.join(e, Seq("user"), "left")
        .groupBy(col("user") +: prevTs: _*)
        .agg(min(when(col("etype") === st &&
          col("ts_us") > col(s"t$i"), col("ts_us"))).as(s"t${i + 1}"))
    }
    val depth = steps.indices
      .map(i => when(col(s"t$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    acc.withColumn("depth", depth)
  }

  /** Cohort retention: users grouped by first-activity day (their
    * cohort), counted as active per whole-week offset from that day.
    * Output: (cohort 'yyyy-MM-dd', week, n_users). Two aggregates and a
    * join keyed on the user — no window over the full event stream.
    */
  def retention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val e = events.select(col(userCol).as("user"),
      to_date(col(tsCol)).as("day"))
    val first = e.groupBy("user").agg(min(col("day")).as("cohort_day"))
    e.distinct()
      .join(first, "user")
      .withColumn("week", expr("CAST(datediff(day, cohort_day) AS BIGINT) div 7"))
      .groupBy(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
        col("week"))
      .agg(countDistinct(col("user")).as("n_users"))
  }

  /** Time-decayed engagement with power-of-two decay: each value is
    * weighted 2^-(whole weeks of age at the newest event), implemented
    * as an integer right-shift-style floor division — EXACT in any
    * engine (the usual exp(-λ·age) is transcendental and
    * order-sensitive; halving per bucket keeps the sum commutative and
    * bit-replayable). `valueCol` must be a non-negative integer column
    * (e.g. cents — floor-div parity needs non-negative operands);
    * `tsCol` epoch microseconds. The shift is capped at 40 (past that
    * the contribution is 0 for any plausible cent value).
    * Output per key: (keys…, n_events, raw, decayed).
    */
  def decayedSum(events: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, bucketUs: Long = 7L * 86400000000L): DataFrame = {
    val ref = events.agg(max(col(tsCol)).as("ref_us"))
    events.crossJoin(broadcast(ref))
      .withColumn("age_b", expr(s"(ref_us - $tsCol) div $bucketUs"))
      .withColumn("dv",
        expr(s"$valueCol div shiftleft(CAST(1 AS BIGINT), CAST(least(age_b, 40) AS INT))"))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("raw"),
        sum(col("dv")).as("decayed"))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: counts of (from_type → to_type) adjacent pairs plus the
    * conditional probability. The sequence order is (ts, tieCol) — a
    * TOTAL order, so lead() picks identical successors in any engine.
    * One window (partitioned by user, the same key the events shuffle
    * already has) and two small aggregates.
    */
  def transitionMatrix(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val tr = events
      .withColumn("to_type", lead(col(typeCol), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = tr.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    tr.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from")).as("prob"))
  }

  /** Item–item co-occurrence similarity from user interactions — the
    * "users who touched A also touched B" collaborative signal. Jaccard
    * over each item's DISTINCT-USER set, computed by a self-join of the
    * distinct (user, item) frame keyed ON THE USER: each user contributes
    * pairs among their own items only, so the candidate volume is
    * Σ_u k_u², never items². `maxItemsPerUser` drops power users /
    * crawler accounts BEFORE the pair join — at web scale one
    * 10⁵-item bot account would otherwise contribute 10¹⁰ pairs, and
    * pruning it changes the similarity of nothing a human touched.
    * All set sizes exact integers; one double division.
    * Output: (item_a, item_b, n_a, n_b, n_common, jaccard),
    * item_a < item_b, n_common ≥ minCommon.
    */
  def itemCooccurrence(events: DataFrame, userCol: String, itemCol: String,
      maxItemsPerUser: Int = 1000, minCommon: Int = 2): DataFrame = {
    val ui = events.select(col(userCol).as("u"), col(itemCol).as("i"))
      .filter(col("i").isNotNull)
      .distinct()
    val userSizes = ui.groupBy("u").agg(count(lit(1)).as("k"))
      .filter(col("k") <= maxItemsPerUser)
    val kept = ui.join(userSizes.select("u"), Seq("u"))
    val sizes = kept.groupBy("i").agg(count(lit(1)).as("n"))
    val pairs = kept.as("a")
      .join(kept.as("b"), col("a.u") === col("b.u") && col("a.i") < col("b.i"))
      .groupBy(col("a.i").as("item_a"), col("b.i").as("item_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    pairs
      .join(sizes.select(col("i").as("item_a"), col("n").as("n_a")), "item_a")
      .join(sizes.select(col("i").as("item_b"), col("n").as("n_b")), "item_b")
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Time-weighted average of a gauge-style value per key — the correct
    * mean for irregularly-sampled signals (a value holds until the next
    * event, so averaging raw samples over-weights bursty periods):
    * TWA = Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_last − t_first), piecewise-constant
    * (last-observation-carried-forward) interpolation.
    *
    * Exact integers end to end: microsecond timestamps, cent-quantized
    * values, Long weighted sum (cents·µs ≈ 1e14 per segment — ~4 orders
    * below Long overflow even for year-long per-key spans), one integer
    * division at the end. `value` must be non-negative (integer `div`
    * vs floor-div disagree on negatives; asserted cheaply upstream by
    * the caller if in doubt). Keys with a single event (span 0) are
    * excluded — there is no interval to average over.
    *
    * One window (lead) plus one aggregate, both keyed on `keyCol`: the
    * sort is per-key within the exchange the aggregate reuses, never a
    * global sort.
    *
    * Output: (key, n_events, span_sec, twa_cents), ordered by nothing —
    * callers order.
    */
  def timeWeightedAvg(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy("key").orderBy(col("us"), col(tieCol))
    val seg = events
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("us"),
        round(col(valueCol) * 100).cast("long").as("vc"), col(tieCol))
      .withColumn("nxt", lead(col("us"), 1).over(w))
    seg.groupBy("key")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("nxt").isNull, 0L)
          .otherwise(col("vc") * (col("nxt") - col("us")))).as("wsum"),
        (max("us") - min("us")).as("span"))
      .filter(col("span") > 0)
      .select(col("key"), col("n_events"),
        expr("span div 1000000").as("span_sec"),
        expr("wsum div span").as("twa_cents"))
  }

  /** Event-rate anomaly z-scores: hourly event counts per key, each
    * standardized against the key's own observed-hour distribution —
    * the traffic-monitoring read ("which hours are a burst/outage for
    * this event type"). Buckets with zero events are NOT zero-filled
    * (a gauge over observed hours; zero-filling needs the calendar,
    * which is a reporting choice, not an operator one) — documented so
    * the baseline is per-key observed hours.
    *
    * Determinism: counts are exact longs, summed exactly; the mean /
    * population-variance / z combination runs on doubles cast from
    * exact integer sums in a FIXED operation order the oracle mirrors —
    * no double is ever summed across rows. z = (c − Σc/n) / √var with
    * var = (n·Σc² − (Σc)²)/n², population form.
    *
    * One aggregate to the (key, hour) domain, one more to per-key
    * moments (broadcast back) — bounded by keys × observed hours, not
    * by events.
    *
    * Output: (key, bucket, n_in_bucket, z_6dp) for keys with ≥ 2
    * observed buckets and positive variance.
    */
  def rateAnomaly(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val hourly = events
      .select(col(keyCol).as("key"),
        date_format(date_trunc("hour", col(tsCol)), "yyyy-MM-dd HH:00")
          .as("bucket"))
      .groupBy("key", "bucket").agg(count(lit(1)).as("c"))
    val moments = hourly.groupBy("key")
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).as("sc"),
        // per-row square stays a safe Long (hourly counts ≪ 3e9);
        // the cross-hour SUM is decimal — exact and cliff-free
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("sc2"))
      .filter(col("n") >= 2)
    // no broadcast hint: moments is bounded by KEY cardinality, which
    // is small for event types but unbounded for, say, per-user keys —
    // AQE broadcasts when the runtime size allows
    hourly.join(moments, Seq("key"))
      .withColumn("z_6dp", expr(
        """round((cast(c as double) - cast(sc as double) / cast(n as double))
          |  / sqrt((cast(n as double) * cast(sc2 as double)
          |      - cast(sc as double) * cast(sc as double))
          |    / (cast(n as double) * cast(n as double))), 6)""".stripMargin))
      // positive variance only; the compare runs in doubles (identical
      // IEEE both engines, no integer-overflow cliff)
      .filter(expr("cast(n as double) * cast(sc2 as double) " +
        "> cast(sc as double) * cast(sc as double)"))
      .select(col("key"), col("bucket"), col("c").as("n_in_bucket"),
        col("z_6dp"))
  }

  /** Per-key least-squares trend of a value over time — "is this event
    * type's value drifting, and how fast": OLS slope in cents/second
    * over (seconds-since-corpus-start, cent-value) points.
    *
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *
    * Determinism + overflow: x and y are exact longs (seconds rebased
    * to the GLOBAL min timestamp — one broadcast row — so x² stays
    * small); the four sums accumulate as decimal(38,0) (exact,
    * order-free, no ANSI Long cliff — Σx² at 100 TB exceeds int64); the
    * final combination is fixed-order IEEE doubles cast from those
    * exact sums, mirrored verbatim by the oracle.
    *
    * Output: (key, n_events, slope_6dp) for keys with ≥ 2 distinct x
    * (positive denominator), ordered by nothing — callers order.
    */
  def valueTrend(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    // floor division (see conversionLatency): second-bucketing must
    // match the oracle's flooring `//` for pre-1970 timestamps too
    val pts0 = events.select(col(keyCol).as("key"),
      expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), 1000000))" +
        " div 1000000").as("xs"),
      round(col(valueCol) * 100).cast("long").as("y"))
    val t0 = pts0.agg(min("xs").as("x0"))
    val pts = pts0.crossJoin(broadcast(t0))
      .select(col("key"), (col("xs") - col("x0")).as("x"), col("y"))
    pts.groupBy("key")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sx2"))
      // positive denominator; double compare — no decimal-precision cap
      .filter(expr("cast(n as double) * cast(sx2 as double) " +
        "> cast(sx as double) * cast(sx as double)"))
      .select(col("key"), col("n").as("n_events"), expr(
        """round((cast(n as double) * cast(sxy as double)
          |    - cast(sx as double) * cast(sy as double))
          |  / (cast(n as double) * cast(sx2 as double)
          |    - cast(sx as double) * cast(sx as double)), 6)""".stripMargin)
        .as("slope_6dp"))
  }

  /** Multi-touch LINEAR attribution: each conversion splits one unit of
    * credit equally across ALL the user's touch events inside the
    * lookback window (vs [[graft.streaming.EventAnalytics
    * .clickAttribution]]'s raw pairs / last-touch reads) — the
    * channel-budget report marketing actually allocates by. Credit is
    * integer ppm (`1e6 div n_touches` per touch, remainder dropped —
    * deterministic in any engine; a conversion with no in-window touch
    * contributes nothing).
    *
    * Shape: one user-keyed equi-join (hash join on the user, time-range
    * as a post-filter) — per-user fan-out is bounded by per-user
    * activity in the window, the same scale envelope as the q89
    * co-occurrence join; then two aggregates (per-conversion touch
    * count, per-channel rollup).
    *
    * Output: (channel, n_touches, credit_ppm) — credit_ppm sums to
    * ~1e6 × conversions-with-touches (minus division remainders).
    */
  def linearAttribution(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, convType: String,
      windowUs: Long): DataFrame = {
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("cts"),
        col("event_id").as("conv_id"))
    val touch = events.filter(col(typeCol) =!= convType)
      .select(col(userCol).as("u"), col(typeCol).as("channel"),
        unix_micros(col(tsCol)).as("tts"), col("event_id").as("touch_id"))
    val pairs = conv.join(touch, Seq("u"))
      .filter(col("tts") <= col("cts") &&
        col("tts") >= col("cts") - windowUs)
    val perConv = pairs.groupBy("conv_id")
      .agg(count(lit(1)).as("n_touches_conv"))
    pairs.join(perConv, Seq("conv_id"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_touches"),
        sum(expr("1000000 div n_touches_conv")).as("credit_ppm"))
  }

  /** First-touch→first-conversion latency quantiles per daily cohort —
    * "how long does a converting user take": for each user, the µs gap
    * between their first `fromType` event and the first `toType` event
    * at or after it; users are cohorted by the DAY of the first touch
    * and each cohort reports its exact lower-median and p90 latency in
    * seconds. Both quantiles come from one [[Stats.selectSorted]] over
    * the (cohort, latency-second) count frame — no per-cohort window,
    * no partition-less window. Rank targets: median = ⌈n/2⌉ = (n+1) div 2,
    * p90 = ⌈9n/10⌉ = (9n+9) div 10 (both "min v with cum ≥ target").
    *
    * Shape: two user-keyed aggregates (first touch, first conversion),
    * one (cohort, second) count aggregate, one sort-and-offset
    * selection. The work runs when this is called and nothing stays
    * cached: the result is a local frame, in cohort order.
    * Output: (g, n_conv, median_s, p90_s), g = epoch day of the
    * cohort's first touch.
    */
  def conversionLatency(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, fromType: String,
      toType: String): DataFrame = {
    val base = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("us"), col(typeCol).as("et"))
    val first = base.filter(col("et") === fromType)
      .groupBy("u").agg(min("us").as("t0"))
    val conv = base.filter(col("et") === toType).join(first, "u")
      .filter(col("us") >= col("t0"))
      .groupBy("u").agg(min("us").as("t1"), min("t0").as("t0"))
    val counts = conv
      // floor division, not `div` (which truncates toward zero): the
      // oracle's `//` floors, so a pre-1970 first touch (negative
      // epoch micros) must land in the PRECEDING day on both engines.
      // (t0 - pmod(t0, d)) is exactly divisible by d, so the div is
      // exact and equals floor(t0/d) for every sign.
      .select(expr("(t0 - pmod(t0, 86400000000)) div 86400000000").as("g"),
        expr("(t1 - t0) div 1000000").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val rows = Stats.selectSorted(counts, Seq(
        (n: Column) => ((n + 1) / 2).cast("long"),
        (n: Column) => ((n * 9 + 9) / 10).cast("long"))) { (_, qs) =>
      qs.map { case (g, n, q) => Row(g.get(0), n, q(0), q(1)) }
    }
    events.sparkSession.createDataFrame(rows.asJava, StructType(
      counts.schema("g") +: Seq("n_conv", "median_s", "p90_s")
        .map(StructField(_, LongType))))
  }

  /** Event-type path trigrams — the navigation-pattern census behind
    * funnel design: per user, events in (ts, event_id) order (the id
    * tie-break makes simultaneous events deterministic on any engine),
    * every 3 consecutive types counted corpus-wide. The output domain
    * is |types|³ — bounded by the type vocabulary, not the rows — so
    * downstream joins broadcast. One user-partitioned window (two
    * leads), one domain-bounded aggregate.
    *
    * Output: (step1, step2, step3, n).
    */
  def pathTrigrams(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy("u").orderBy("us", "eid")
    events.select(col(userCol).as("u"), unix_micros(col(tsCol)).as("us"),
        col(idCol).as("eid"), col(typeCol).as("step1"))
      .withColumn("step2", lead(col("step1"), 1).over(w))
      .withColumn("step3", lead(col("step1"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy("step1", "step2", "step3")
      .agg(count(lit(1)).as("n"))
  }

  /** Event-time lateness profile — THE input to choosing a streaming
    * watermark delay: per group, how far behind the running event-time
    * high-water mark events arrive (in arrival order), as the exact
    * late-share plus median / p99 / max lateness seconds. A watermark
    * shorter than p99 lateness drops that tail from every windowed
    * aggregate; longer holds state for nothing — this report prices
    * both sides before a `withWatermark` is written.
    *
    * Lateness = running max(ts) over arrival order − ts, so it needs a
    * total arrival order (`arrivalCol` — an ingest sequence/offset;
    * ties broken by it being unique). One group-PARTITIONED window for
    * the running max, one (group, second) count aggregate, one
    * [[Stats.selectSorted]] for both quantiles and one pass over its
    * sorted rows for the late count and the max — no partition-less
    * window, no per-group window at the percentile step. Events whose
    * group or lateness is null are skipped, and n_events counts the
    * events ranked. The work runs when this is called and nothing
    * stays cached: the result is a local frame, in group order.
    *
    * Output: (g, n_events, late_ppm, median_s, p99_s, max_s) — median/
    * p99 over ALL events (on-time = 0 s), late_ppm the >0 share.
    */
  def latenessProfile(events: DataFrame, groupCol: String,
      tsCol: String, arrivalCol: String): DataFrame = {
    val lat = events.select(col(groupCol).as("g"),
        col(arrivalCol).as("aid"), unix_micros(col(tsCol)).as("us"))
      .withColumn("lat_s",
        expr("(max(us) over (partition by g order by aid " +
          "rows between unbounded preceding and current row) - us)" +
          " div 1000000"))
      .select("g", "lat_s")
    val counts = lat.groupBy(col("g"), col("lat_s").as("v"))
      .agg(count(lit(1)).as("c"))
    val rows = Stats.selectSorted(counts, Seq(
        (n: Column) => ((n + 1) / 2).cast("long"),
        (n: Column) => ((n * 99 + 99) / 100).cast("long"))) { (sorted, qs) =>
      // (late events, max lateness) per group
      val tail = Stats.groupSums(sorted, 1, (0L, Long.MinValue))(_ =>
        (s, r) => (s._1 + (if (r.getLong(1) > 0) r.getLong(2) else 0L),
          math.max(s._2, r.getLong(1))))(
        (a, b) => (a._1 + b._1, math.max(a._2, b._2)))
      qs.map { case (g, n, q) =>
        val (late, mx) = tail(g)
        Row(g.get(0), n, (BigInt(late) * 1000000 / n).toLong, q(0), q(1), mx)
      }
    }
    events.sparkSession.createDataFrame(rows.asJava, StructType(
      counts.schema("g") +: Seq("n_events", "late_ppm", "median_s", "p99_s",
        "max_s").map(StructField(_, LongType))))
  }

  /** Cohort value curve — q79's retention grid with MONEY on it: users
    * cohorted by the epoch week of their first event; for each cohort
    * and week-of-age, the active users, the cent value booked, and the
    * running cumulative value (the LTV curve a payback model reads).
    * Exact integers: weeks are `us div (7·86400·10⁶)`, values cents,
    * the cumulative a window PARTITIONED by cohort over the bounded
    * (cohort × age) grid.
    *
    * Output: (cohort_week, age_week, n_users, value_c, cum_value_c).
    */
  def cohortValueCurve(events: DataFrame, userCol: String,
      tsCol: String, valueCol: Column): DataFrame = {
    val wk = 7L * 86400000000L
    // floor division (see conversionLatency): pre-1970 timestamps must
    // week-bucket identically to the oracle's flooring `//`.
    val base = events.select(col(userCol).as("u"),
      expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), $wk))" +
        s" div $wk").as("w"),
      valueCol.cast("long").as("vc"))
    val first = base.groupBy("u").agg(min("w").as("w0"))
    val cells = base.join(first, "u")
      .groupBy(col("w0").as("cohort_week"),
        (col("w") - col("w0")).as("age_week"))
      .agg(countDistinct(col("u")).as("n_users"),
        sum("vc").as("value_c"))
    cells.withColumn("cum_value_c",
        sum(col("value_c")).over(Window.partitionBy("cohort_week")
          .orderBy("age_week")))
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        col("value_c").cast("long").as("value_c"),
        col("cum_value_c").cast("long").as("cum_value_c"))
  }

  /** Instrumentation double-fire audit — duplicate-burst detection for
    * event pipelines: per event type, how many events arrive within
    * `maxGapUs` of the SAME user's PREVIOUS event of that type (in
    * (ts, id) order) — the signature of a client double-firing a
    * tracking call, which exact-id dedup cannot see (the ids differ)
    * and which silently inflates every downstream count. One window
    * PARTITIONED by (user, type), one domain-bounded aggregate.
    *
    * Output: (g, n_events, n_bursts, burst_ppm).
    */
  def doubleFireAudit(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      maxGapUs: Long): DataFrame = {
    val w = Window.partitionBy("u", "g").orderBy("us", "eid")
    events.select(col(userCol).as("u"), col(typeCol).as("g"),
        unix_micros(col(tsCol)).as("us"), col(idCol).as("eid"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .groupBy("g")
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(when(col("gap") <= maxGapUs, 1L)), lit(0L))
          .as("n_bursts"))
      .select(col("g"), col("n_events"), col("n_bursts"),
        expr("(cast(n_bursts as decimal(38,0)) * 1000000) div n_events")
          .cast("long").as("burst_ppm"))
  }

  /** Hour-of-day seasonality profile — the baseline the drift family
    * normalizes against (a "spike" at 09:00 is the diurnal shape, not
    * an anomaly): per group, the 24-hour grid of event counts and each
    * hour's traffic share in ppm; zero-traffic hours surface
    * explicitly. One aggregate to the (group × 24) domain joined
    * against the broadcast hour grid.
    *
    * Output: (g, hour, n, share_ppm).
    */
  def seasonalityProfile(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame =
    seasonalityFromCounts(
      hourOfDayCounts(events, col(groupCol), col(tsCol)))

  /** (g, hour, c) observed hour-of-day counts — the extraction shared
    * by [[seasonalityProfile]] and its ONLINE form
    * ([[graft.streaming.EventAnalytics.hourCounts]]), so the streaming
    * monitor equals the batch report by construction.
    */
  def hourOfDayCounts(events: DataFrame, groupCol: Column,
      tsCol: Column): DataFrame =
    events.select(groupCol.as("g"),
        hour(tsCol).cast("long").as("hour"))
      .groupBy("g", "hour").agg(count(lit(1)).as("c"))

  /** Finish a (g, hour, c) count frame into the seasonality grid —
    * the back half of [[seasonalityProfile]], also run over a
    * streaming sink snapshot of [[hourOfDayCounts]].
    */
  def seasonalityFromCounts(obs: DataFrame): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    val hours = broadcast((0L to 23L).toDF("hour"))
    val grid = obs.select("g").distinct().crossJoin(hours)
    grid.join(obs, Seq("g", "hour"), "left")
      .withColumn("n", coalesce(col("c"), lit(0L)))
      .withColumn("tot",
        sum(col("n")).over(Window.partitionBy("g")))
      .select(col("g"), col("hour"), col("n"),
        expr("(cast(n as decimal(38,0)) * 1000000) div tot")
          .cast("long").as("share_ppm"))
  }

  /** Peak concurrency per key — the capacity-planning sweep line: from
    * half-open intervals [s, e) (µs), the maximum number
    * simultaneously open and the earliest instant reaching that peak.
    * Endpoints become ±1 deltas; deltas are NETTED per (key, ts)
    * FIRST (one aggregate), which both makes the running sum
    * deterministic under endpoint ties and encodes the half-open
    * convention — an interval ending at t cancels one starting at t,
    * so touching intervals never count as concurrent. Then one window
    * PARTITIONED by key accumulates net deltas in ts order, and one
    * per-key argmax (lexicographic struct-max on (conc, −ts)) picks
    * the peak. Empty intervals (e ≤ s) are dropped — they would allow
    * a transient within-instant peak the netted sweep cannot see.
    *
    * Per-key sweep only — no global ordering, no self-join; the
    * shuffle is one (key, ts) aggregate, the window is bounded by a
    * key's endpoint count.
    *
    * Output: (key, n_intervals, peak, peak_ts_us).
    */
  def peakConcurrency(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val iv = df.filter(col(endCol) > col(startCol))
      .select(col(keyCol).as("key"), col(startCol).as("s"),
        col(endCol).as("e"))
    val deltas = iv.select(col("key"), col("s").as("ts"), lit(1L).as("d"))
      .unionByName(
        iv.select(col("key"), col("e").as("ts"), lit(-1L).as("d")))
      .groupBy("key", "ts").agg(sum("d").as("net"))
    val n = iv.groupBy("key").agg(count(lit(1)).as("n_intervals"))
    val w = Window.partitionBy("key").orderBy("ts")
    deltas.withColumn("conc", sum(col("net")).over(w))
      .groupBy("key")
      .agg(max(struct(col("conc"), (-col("ts")).as("nts"), col("ts")))
        .as("best"))
      .join(n, Seq("key"))
      .select(col("key"), col("n_intervals"),
        col("best.conc").as("peak"), col("best.ts").as("peak_ts_us"))
  }
}
