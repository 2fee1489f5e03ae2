package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

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

  /** Range-sorts `rows` on their first `nG` columns (the groups) and
    * the value after them, and runs pass 1 over the sorted rows: the
    * weight (the column after the value, a Long) of each run of one
    * group in one partition. A group is a run of rows that may span many
    * partitions, so one large group never lands in one task. Rows with
    * a null group, value or weight are skipped; group columns must not
    * be binary.
    *
    * Returns the sorted rows, persisted (deserialized, spilling to
    * disk) so later passes read them without sorting again, and per
    * group, in group order, the (partition, weight) of each of its runs
    * in partition order: at most groups + partitions pairs on the
    * driver. The caller releases the sorted rows; if pass 1 throws they
    * are released here.
    */
  private def sortedRuns(rows: DataFrame, nG: Int)
      : (RDD[Row], Seq[(Row, Seq[(Int, Long)])]) = {
    require(!rows.schema.take(nG).exists(_.dataType == BinaryType),
      "binary group column")
    val keys = rows.columns.take(nG + 1).map(col).toIndexedSeq
    val sorted = rows.na.drop(rows.columns.take(nG + 2).toIndexedSeq)
      .repartitionByRange(keys: _*).sortWithinPartitions(keys: _*).rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a group's runs are consecutive across partitions
      val spans = mutable.ArrayBuffer.empty[(Row, mutable.ArrayBuffer[(Int, Long)])]
      sorted.mapPartitionsWithIndex((p, it) =>
          runSums(it, nG, 0L)(_ => (s, r) => s + r.getLong(nG + 1))
            .map { case (g, w) => (p, g, w) })
        .collect().foreach { case (p, g, w) =>
          if (spans.nonEmpty && spans.last._1 == g) spans.last._2 += ((p, w))
          else spans += ((g, mutable.ArrayBuffer((p, w))))
        }
      (sorted, spans.map { case (g, runs) => (g, runs.toSeq) }.toSeq)
    } catch { case e: Throwable => sorted.unpersist(blocking = false); throw e }
  }

  /** Exact per-group weighted rank selection by sort-and-offset: for
    * each group of `rows` (groups…, v, c), with Long v and c, and for
    * each target, the smallest value v whose running weight c, in value
    * order, reaches the target rank `targetOf(n)`, n the group's total
    * weight. Every target must lie in [0, n]; target 0 selects the
    * group's smallest value. Rows with a null in any column are
    * skipped; group columns must not be binary.
    *
    * The range sort and pass 1 are [[sortedRuns]]. The driver turns
    * the run weights into each group's n, its targets, and for each
    * target the partition and remaining rank where the running sum
    * crosses it. Pass 2 reads the same sorted rows with those offsets
    * in its closure and returns every crossing row, all targets at
    * once; several targets may cross in one run. Driver memory is
    * O(groups · targets + partitions); the value domain is never
    * collected.
    *
    * The sorted rows are released when `use` returns or throws. `use`
    * gets them, for further passes of the caller, and per group, in
    * group order, its key (the group columns as a Row), n and the
    * selected value of each target.
    */
  private[graft] def selectSorted[A](rows: DataFrame,
      targetsOf: Seq[Column => Column])(
      use: (RDD[Row], Seq[(Row, Long, Seq[Long])]) => A): A = {
    val spark = rows.sparkSession
    val nG = rows.columns.length - 2
    val (sorted, spans) = sortedRuns(rows, nG)
    try {
      val ns = spans.map(_._2.map(_._2).sum)
      val ts = spark.createDataFrame(ns.map(Row(_)).asJava,
          StructType(Seq(StructField("n", LongType, nullable = false))))
        .select(targetsOf.map(_(col("n")).cast("long")): _*).collect()
        .map(r => targetsOf.indices.map(r.getLong))
      // per partition and crossing group: (target, rank still to go),
      // ascending by rank
      val needs = spans.zip(ns).zip(ts).flatMap { case (((g, runs), n), gts) =>
        val before = runs.scanLeft(0L)(_ + _._2)
        gts.zipWithIndex.map { case (t, k) =>
          require(t >= 0 && t <= n, s"target $t outside [0, $n] for group $g")
          val i = runs.indices.find(i => before(i + 1) >= t).get
          (runs(i)._1, g, (k, t - before(i)))
        }
      }.groupBy(_._1).map { case (p, hs) =>
        p -> hs.groupMap(_._2)(_._3).map { case (g, ks) => g -> ks.sortBy(_._2).toList }
      }
      // pass 2: every crossing row, one per (group, target)
      val hit = sorted.mapPartitionsWithIndex { (p, it) =>
        needs.get(p).fold(Iterator.empty[((Row, Int), Long)]) { want =>
          var cur: Row = null; var left = List.empty[(Int, Long)]; var sum = 0L
          keyed(it, nG).flatMap { case (g, r) =>
            if (!(g eq cur)) { cur = g; sum = 0L; left = want.getOrElse(g, Nil) }
            if (left.isEmpty) Nil
            else {
              sum += r.getLong(nG + 1)
              val (done, rest) = left.span(_._2 <= sum)
              left = rest
              done.map { case (k, _) => (g, k) -> r.getLong(nG) }
            }
          }
        }
      }.collect().toMap
      use(sorted, spans.zip(ns).map { case ((g, _), n) =>
        (g, n, targetsOf.indices.map(k => hit((g, k))))
      })
    } finally { sorted.unpersist(blocking = false); () }
  }

  /** Inclusive running sum per group by sort-and-offset: each row of
    * `rows` (groups…, v, c, carried…), distinct on (groups…, v), its
    * first `nG` columns the groups, with Long v and c, plus `cum`, the
    * sum of c over the group's rows with a value ≤ v, and `n`, the
    * group's total. Other columns ride along unchanged. Rows with a
    * null group, v or c are skipped; group columns must not be binary.
    *
    * The range sort and pass 1 are [[sortedRuns]], as in
    * [[selectSorted]]. The driver turns each (partition, group) run's
    * weight into the weight of the group's earlier runs, and pass 2
    * adds it to the running sum within the run. Driver memory is
    * O(groups + partitions); no window runs and no task holds a whole
    * group. Pass 2 is lazy: the result is a distributed frame over the
    * sorted rows, which stay persisted until the calling thread's
    * [[graft.PendingRelease.drain]].
    */
  private[graft] def runningSums(rows: DataFrame, nG: Int): DataFrame = {
    val (sorted, spans) = sortedRuns(rows, nG)
    graft.PendingRelease.defer(() => { sorted.unpersist(blocking = false); () })
    // per partition and group: (weight of the group's earlier runs, n)
    val offsets = spans.flatMap { case (g, runs) =>
      val n = runs.map(_._2).sum
      runs.zip(runs.scanLeft(0L)(_ + _._2)).map { case ((p, _), before) =>
        (p, g, (before, n))
      }
    }.groupBy(_._1).map { case (p, gs) => p -> gs.map(x => x._2 -> x._3).toMap }
    val out = sorted.mapPartitionsWithIndex { (p, it) =>
      val off = offsets.getOrElse(p, Map.empty[Row, (Long, Long)])
      var cur: Row = null; var cum = 0L; var n = 0L
      keyed(it, nG).map { case (g, r) =>
        if (!(g eq cur)) { cur = g; cum = off(g)._1; n = off(g)._2 }
        cum += r.getLong(nG + 1)
        Row.fromSeq(r.toSeq :+ cum :+ n)
      }
    }
    rows.sparkSession.createDataFrame(out, StructType(rows.schema.fields ++
      Seq("cum", "n").map(StructField(_, LongType, nullable = false))))
  }

  /** Pairs each row of a partition sorted on its first `nG` columns with
    * its group key; rows of one run share one key instance, so `eq`
    * finds the run boundaries.
    */
  private def keyed(it: Iterator[Row], nG: Int): Iterator[(Row, Row)] = {
    var cur: Row = null
    it.map { r =>
      if (cur == null || (0 until nG).exists(i => cur.get(i) != r.get(i)))
        cur = Row.fromSeq(r.toSeq.take(nG))
      (cur, r)
    }
  }

  /** Per run of one group in a sorted partition, the fold of
    * `add(group)` over its rows from `zero`.
    */
  private def runSums[S](it: Iterator[Row], nG: Int, zero: S)(
      add: Row => (S, Row) => S): Iterator[(Row, S)] = {
    val out = mutable.ArrayBuffer.empty[(Row, S)]
    var cur: Row = null; var f: (S, Row) => S = null; var sum = zero
    keyed(it, nG).foreach { case (g, r) =>
      if (!(g eq cur)) {
        if (cur != null) out += ((cur, sum))
        cur = g; f = add(g); sum = zero
      }
      sum = f(sum, r)
    }
    if (cur != null) out += ((cur, sum))
    out.iterator
  }

  /** Per group of the sorted rows `sorted`, the fold of `add(group)`
    * over its rows: one job, whose runs' folds (one per partition and
    * group) `merge` joins on the driver.
    */
  private[graft] def groupSums[S](sorted: RDD[Row],
      nG: Int, zero: S)(add: Row => (S, Row) => S)(merge: (S, S) => S)
      : Map[Row, S] =
    sorted.mapPartitions(it => runSums(it, nG, zero)(add)).collect()
      .groupMapReduce(_._1)(_._2)(merge)

  /** Equi-depth histogram of an integer-valued column: `k` buckets with
    * (as near as ties allow) equal row counts. Rule: every distinct
    * value v lands WHOLLY in bucket `(cumBefore(v) · k) div N` (its
    * first row's 0-based position scaled to buckets) — deterministic,
    * tie-stable, and exactly replayable in SQL.
    *
    * Null values are skipped, and N counts the non-null rows.
    *
    * Plan: groupBy(value).count (distributed, map-side combined) → the
    * running sum over DISTINCT VALUES by sort-and-offset
    * ([[runningSums]]: a range sort, no window, no task holding the
    * whole domain) → final per-bucket aggregate.
    * Output: (bucket, n_rows, n_values, v_min, v_max).
    */
  def equiDepthHistogram(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    val counts = df.select(valueCol.cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    runningSums(counts, 0)
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
    * bit-for-bit. Rows whose group or value is null are skipped, as
    * SQL's median skips nulls; a group with no non-null value has no
    * output row.
    *
    * Plan: groupBy(group, value).count (map-side combined), then one
    * [[selectSorted]] for the median over those counts and one for the
    * MAD over the deviation rows (group, |v − median|, c), mapped from
    * the median selection's sorted rows with the medians held on the
    * driver. A last pass over those rows counts the outliers per
    * group. No window is partitioned by group, so a large group spreads
    * over many range partitions; driver memory is O(groups +
    * partitions). The work runs when this is called and nothing stays
    * cached: the result is a local frame, in group order.
    * Output: (g, n, median, mad, n_outliers).
    */
  def medianMad(df: DataFrame, groupCol: Column, valueCol: Column,
      z: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val counts = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val half = (n: Column) => ((n + 1) / 2).cast("long")
    val rows = selectSorted(counts, Seq(half)) { (sorted, meds) =>
      val median = meds.map { case (g, _, ms) => g -> ms.head }.toMap
      val dev = sorted.mapPartitions { it =>
        var cur: Row = null; var m = 0L
        keyed(it, 1).map { case (g, r) =>
          if (!(g eq cur)) { cur = g; m = median(g) }
          Row(r.get(0), math.abs(r.getLong(1) - m), r.getLong(2))
        }
      }
      val mad = selectSorted(spark.createDataFrame(dev, counts.schema), Seq(half))(
        (_, hits) => hits.map { case (g, _, ds) => g -> ds.head }.toMap)
      val outliers = groupSums(sorted, 1, 0L) { g =>
        val (m, bound) = (median(g), mad(g) * z)
        (s, r) => if (math.abs(r.getLong(1) - m) > bound) s + r.getLong(2) else s
      }(_ + _)
      meds.map { case (g, n, ms) => Row(g.get(0), n, ms.head, mad(g), outliers(g)) }
    }
    spark.createDataFrame(rows.asJava, StructType(counts.schema("g") +:
      Seq("n", "median", "mad", "n_outliers").map(StructField(_, LongType))))
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
    * A group whose total weight W is 0 passes the test at every value,
    * so each of its percentiles is the group's smallest value. Rows
    * whose group, value or weight is null are skipped, and W sums the
    * weights ranked.
    *
    * Plan: one distributed groupBy(group, value) weight-sum, then one
    * [[selectSorted]] with one target per percentile: `cum·100 ≥ W·p`
    * holds from rank ⌈W·p/100⌉ on, and W = 0 gives target 0. No window
    * is partitioned by group; driver memory is O(groups · percentiles +
    * partitions). The work runs when this is called and nothing stays
    * cached: the result is a local frame, in group order.
    * Output: (g, w_total, p_<p1>, p_<p2>, ...).
    */
  def weightedPercentiles(df: DataFrame, groupCol: Column, valueCol: Column,
      weightCol: Column, ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"percentiles $ps out of [1, 100]")
    val counts = df.select(groupCol.as("g"), valueCol.cast("long").as("v"),
        weightCol.cast("long").as("w"))
      .groupBy("g", "v").agg(sum(col("w")).as("wv"))
    val rows = selectSorted(counts, ps.map(p => (w: Column) =>
        call_function("div", w * p + 99, lit(100L)))) { (_, hits) =>
      hits.map { case (g, w, vs) => Row.fromSeq(g.get(0) +: w +: vs) }
    }
    df.sparkSession.createDataFrame(rows.asJava, StructType(counts.schema("g") +:
      ("w_total" +: ps.map(p => s"p_$p")).map(StructField(_, LongType))))
  }

  /** Row-level robust outlier extraction — the records themselves, not
    * just q88-style counts: every row whose |v − median| exceeds
    * z·MAD for its group, with the group stats attached. The
    * median/MAD pass is [[medianMad]] (nulls skipped as there); its
    * per-group stats frame is local and broadcast back onto the input,
    * so extraction is a map-only second pass over the data — the shape
    * that lets 100 TB flag its anomalies without a self-join shuffle.
    * Output: (g, id, v, median, mad, dev).
    */
  def robustOutliers(df: DataFrame, groupCol: Column, valueCol: Column,
      idCol: Column, z: Int = 3): DataFrame = {
    val stats = medianMad(df, groupCol, valueCol, z)
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
    * Rows whose group or value is null are skipped and have no output
    * row; n counts the rows ranked.
    *
    * Value-domain shape throughout (the medianMad argument): one
    * groupBy(g, v) count, one [[runningSums]] over the distinct values
    * per group, then the per-value frame joins back to the rows on
    * (g, v) — no global sort, no per-group row window, state bounded by
    * the value domain. Output: (g, id, v, cume_micro).
    */
  def quantileNormalize(df: DataFrame, groupCol: Column, valueCol: Column,
      idCol: Column): DataFrame = {
    val rows = df.select(groupCol.as("g"), idCol.as("id"),
      valueCol.cast("long").as("v"))
    val q = runningSums(rows.groupBy("g", "v").agg(count(lit(1)).as("c")), 1)
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

  /** Column profile: per listed column, row/null/distinct counts and
    * min/max rendered as strings. Each column is profiled by its OWN
    * aggregate over a one-column projection (column-pruned scan), then
    * the single-row results union — N distinct-counts in one aggregate
    * would Expand the input N× (the q46 lesson). Columns must render
    * identically across engines: strings, integers, and dates are safe;
    * raw doubles are not (format the value to an exact type first).
    * Output: (col_name, n_rows, n_nulls, n_distinct, min_s, max_s).
    */
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
    * value at rank ⌈αn⌉, hi = at rank ⌈(1−α)n⌉) and the mean over
    * values inside [lo, hi] — value-based trimming, so the definition
    * is partitioning-independent and the oracle replays it exactly; the
    * mean is the single fixed-order 6dp double division of an exact
    * integer sum.
    *
    * Plan: groupBy(group, value).count, then one [[selectSorted]] for
    * both boundaries, and one pass over its sorted rows for the kept
    * count and sum, with the boundaries held on the driver. Rows whose
    * group or value is null are skipped, and n counts the rows ranked.
    * The work runs when this is called and nothing stays cached: the
    * result is a local frame, in group order.
    *
    * @param alphaPct tail percentage to trim on EACH side (e.g. 5)
    * Output: (g, n, lo, hi, n_kept, trimmed_mean_6dp).
    */
  def trimmedMean(df: DataFrame, groupCol: Column, valueCol: Column,
      alphaPct: Int): DataFrame = {
    require(alphaPct >= 1 && alphaPct <= 49, s"alphaPct: $alphaPct")
    val counts = df.select(groupCol.as("g"), valueCol.cast("long").as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val rows = selectSorted(counts, Seq(
        (n: Column) => ((n * alphaPct + 99) / 100).cast("long"),
        (n: Column) => ((n * (100 - alphaPct) + 99) / 100).cast("long"))) {
      (sorted, bounds) =>
        val lohi = bounds.map { case (g, _, b) => g -> (b(0), b(1)) }.toMap
        val kept = groupSums(sorted, 1, (0L, BigInt(0))) { g =>
          val (lo, hi) = lohi(g)
          (s, r) => {
            val (v, c) = (r.getLong(1), r.getLong(2))
            if (v >= lo && v <= hi) (s._1 + c, s._2 + BigInt(v) * c) else s
          }
        }((a, b) => (a._1 + b._1, a._2 + b._2))
        bounds.map { case (g, n, b) =>
          val (nk, ks) = kept(g)
          // nk ≥ 1: the lo row is kept. Spark's round(double, 6) is
          // HALF_UP on the double's decimal form
          val mean = java.math.BigDecimal.valueOf(ks.toDouble / nk.toDouble)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
          Row(g.get(0), n, b(0), b(1), nk, mean)
        }
    }
    df.sparkSession.createDataFrame(rows.asJava, StructType(counts.schema("g") +:
      Seq("n", "lo", "hi").map(StructField(_, LongType)) :+
      StructField("n_kept", LongType, nullable = false) :+
      StructField("trimmed_mean_6dp", org.apache.spark.sql.types.DoubleType)))
  }

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
  def benfordProfile(df: DataFrame, groupCol: Column,
      valueCol: Column): DataFrame =
    benfordFromCounts(leadingDigitCounts(df, groupCol, valueCol))
}
