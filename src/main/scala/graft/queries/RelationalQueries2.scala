package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables

/** Second batch of relational coverage: pivot, math/array functions over
  * embeddings, and rollup (grouping sets). Same oracle-parity rules as
  * RelationalQueries.
  */
object RelationalQueries2 {

  private type Q = (SparkSession, String) => DataFrame

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  // ---------------------------------------------------------------- q17
  /** Pivot: order counts per priority × status (the reference's per-table
    * stats matrix shape, sync.py:293-300, as groupBy.pivot).
    */
  val q17: Q = (s, dir) => {
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")
  }
  val q17Sql: String =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Math/array functions over the embedding vectors: exact quantized
    * norm, element min/max, rounded mean.
    */
  val q18: Q = (s, dir) => {
    val q = graft.functions.Portable.quantize(col("embedding"), 1000)
    Tables.embeddings(s, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(sqrt(graft.functions.Portable.dotQ(q, q).cast("double")) / 1000.0, 6)
          .as("l2_norm"),
        array_max(q).as("max_q"),
        array_min(q).as("min_q"),
        round(aggregate(q, lit(0L), (acc, x) => acc + x).cast("double")
          / (size(col("embedding")) * 1000.0), 6).as("mean_v"))
      .orderBy("vec_id")
  }
  val q18Sql: String =
    """SELECT vec_id,
      |  CAST(len(embedding) AS BIGINT) AS dim,
      |  round(sqrt(CAST(list_dot_product(q, q) AS DOUBLE)) / 1000.0, 6) AS l2_norm,
      |  list_max(q) AS max_q,
      |  list_min(q) AS min_q,
      |  round(CAST(list_reduce(q, (a,b) -> a+b) AS DOUBLE) / (len(embedding) * 1000.0), 6) AS mean_v
      |FROM (SELECT vec_id, embedding, list_transform(embedding,
      |        x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |      FROM embeddings)
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Rollup: revenue at (region, nation), per-region subtotal, and grand
    * total; NULL grouping slots labeled for stable comparison.
    */
  val q19: Q = (s, dir) => {
    // via spark.sql: the Dataset rollup API trips the ambiguous-self-join
    // check when the grouping columns are referenced after agg; the SQL
    // analyzer resolves GROUP BY ROLLUP cleanly (and shows the SQL entry
    // point + broadcast hints)
    Tables.orders(s, dir).createOrReplaceTempView("v_orders")
    Tables.customer(s, dir).createOrReplaceTempView("v_customer")
    Tables.nation(s, dir).createOrReplaceTempView("v_nation")
    Tables.region(s, dir).createOrReplaceTempView("v_region")
    s.sql(
      """SELECT /*+ BROADCAST(v_nation), BROADCAST(v_region) */
        |  coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        |  count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT))/CAST(100 AS DOUBLE) AS revenue
        |FROM v_orders
        |JOIN v_customer ON o_custkey = c_custkey
        |JOIN v_nation ON c_nationkey = n_nationkey
        |JOIN v_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin)
  }
  val q19Sql: String =
    """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
      |  count(*) AS n_orders,
      |  sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q38
  /** CUBE: all four grouping combinations of (status, priority) in one
    * pass — the sibling of q19's ROLLUP, exercising full grouping sets.
    */
  val q38: Q = (s, dir) => {
    Tables.orders(s, dir).createOrReplaceTempView("v_orders_cube")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM v_orders_cube
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)
  }
  val q38Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Statistical aggregates (mean/variance/correlation) computed from
    * exact integer sums — order-independent, unlike the built-in
    * float-accumulating stddev/corr — then finished in deterministic
    * double arithmetic.
    */
  val q44: Q = (s, dir) => {
    // Exact split-Long quadratic sums. Per-row products always fit Long
    // (p_c ≤ ~1e7 cents ⇒ p_c² ≤ ~1e14); only the group SUMS can
    // overflow, so each product is split hi = x div 1e9 / lo = x mod 1e9
    // and the halves are summed as plain Longs — the whole aggregate
    // stays in cheap codegen'd 64-bit arithmetic (no 128-bit decimal
    // math per row) and is recombined hi·1e9 + lo in the final
    // projection with the identical IEEE double ops on both engines.
    // q_c-only sums (sq, sqq) fit Long directly.
    val li = Tables.lineitem(s, dir)
      .withColumn("q_c", cents(col("l_quantity")))
      .withColumn("p_c", cents(col("l_extendedprice")))
      .withColumn("pp", col("p_c") * col("p_c"))
      .withColumn("qp", col("q_c") * col("p_c"))
    val d = (c: String) => col(c).cast("double")
    val rec = (hi: String, lo: String) =>
      col(hi).cast("double") * lit(1.0e9) + col(lo).cast("double")
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("q_c")).as("sq"), sum(col("p_c")).as("sp"),
        sum(col("q_c") * col("q_c")).as("sqq"),
        sum(expr("pp div 1000000000")).as("spphi"),
        sum(col("pp") % 1000000000L).as("spplo"),
        sum(expr("qp div 1000000000")).as("sqphi"),
        sum(col("qp") % 1000000000L).as("sqplo"))
      .select(
        col("l_returnflag"),
        col("n"),
        round(d("sq") / (col("n") * 100.0), 4).as("mean_qty"),
        round(
          sqrt((d("sqq") - d("sq") * d("sq") / col("n")) / col("n")) / 100.0,
          4).as("std_qty"),
        round(
          (rec("sqphi", "sqplo") - d("sq") * d("sp") / col("n")) /
            (sqrt(d("sqq") - d("sq") * d("sq") / col("n")) *
             sqrt(rec("spphi", "spplo") - d("sp") * d("sp") / col("n"))),
          6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }
  val q44Sql: String =
    """SELECT l_returnflag, n,
      |  round(CAST(sq AS DOUBLE)/(n*100.0), 4) AS mean_qty,
      |  round(sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/n)/n)/100.0, 4) AS std_qty,
      |  round(((CAST(sqphi AS DOUBLE)*1e9 + CAST(sqplo AS DOUBLE)) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)/n) /
      |    (sqrt(CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/n) *
      |     sqrt((CAST(spphi AS DOUBLE)*1e9 + CAST(spplo AS DOUBLE)) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)/n)), 6) AS corr_qty_price
      |FROM (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(q_c) AS BIGINT) AS sq, CAST(sum(p_c) AS BIGINT) AS sp,
      |    CAST(sum(q_c*q_c) AS BIGINT) AS sqq,
      |    CAST(sum(pp // 1000000000) AS BIGINT) AS spphi,
      |    CAST(sum(pp % 1000000000) AS BIGINT) AS spplo,
      |    CAST(sum(qp // 1000000000) AS BIGINT) AS sqphi,
      |    CAST(sum(qp % 1000000000) AS BIGINT) AS sqplo
      |  FROM (SELECT l_returnflag, q_c, p_c, p_c*p_c AS pp, q_c*p_c AS qp
      |    FROM (SELECT l_returnflag,
      |        CAST(round(l_quantity*100) AS BIGINT) AS q_c,
      |        CAST(round(l_extendedprice*100) AS BIGINT) AS p_c
      |      FROM lineitem))
      |  GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Analytic window functions: lag/lead/ntile over a total order. */
  val q45: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("tp_c", cents(col("o_totalprice")))
      .withColumn("prev_order", lag(col("o_orderkey"), 1).over(w))
      .withColumn("next_order", lead(col("o_orderkey"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("delta_spend",
        ((col("tp_c") - lag(col("tp_c"), 1).over(w)) / 100.0))
      .select("o_custkey", "o_orderkey", "prev_order", "next_order",
        "quartile", "delta_spend")
      .orderBy("o_custkey", "o_orderkey")
  }
  val q45Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  lag(o_orderkey, 1) OVER w AS prev_order,
      |  lead(o_orderkey, 1) OVER w AS next_order,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  (tp_c - lag(tp_c, 1) OVER w)/100.0 AS delta_spend
      |FROM (SELECT *, CAST(round(o_totalprice*100) AS BIGINT) AS tp_c FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Distinct aggregation (exact; the reference has none — SURVEY §2.2).
    *
    * Three DIFFERENT distinct keys in one groupBy would make Catalyst
    * rewrite through Expand — every input row is replicated once per
    * distinct clause (4× shuffle volume here) before the aggregate. At
    * 100 TB that multiplier is the whole cost, so instead each distinct
    * count runs as its own two-level hash aggregate (map-side partial
    * distinct → shuffle only the surviving distinct pairs → count), over
    * a scan pruned to exactly the two columns it needs, and the tiny
    * per-flag results (3 rows each) merge with broadcast joins.
    */
  val q46: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    def dcount(cols: Seq[String], alias: String): DataFrame =
      li.select("l_returnflag", cols: _*).distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as(alias))
    val nOrders = dcount(Seq("l_orderkey"), "n_orders")
    val nParts = dcount(Seq("l_partkey"), "n_parts")
    val nSuppPart = dcount(Seq("l_suppkey", "l_partkey"), "n_supp_part")
    val nRows = li.groupBy("l_returnflag").agg(count(lit(1)).as("n_rows"))
    nOrders
      .join(broadcast(nParts), "l_returnflag")
      .join(broadcast(nSuppPart), "l_returnflag")
      .join(broadcast(nRows), "l_returnflag")
      .select("l_returnflag", "n_orders", "n_parts", "n_supp_part", "n_rows")
      .orderBy("l_returnflag")
  }
  val q46Sql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part,
      |  count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Exact percentiles (linear interpolation over sorted integer cents —
    * Spark `percentile` and DuckDB `quantile_cont` share the definition,
    * and exact-integer inputs make the interpolation IEEE-identical).
    * The selected values come back as a local frame in flag order, so
    * no sort runs on top.
    */
  val q36: Q = (s, dir) => {
    // Distributed exact percentiles via integer histograms. Spark's
    // built-in `percentile` is a TypedImperativeAggregate buffering a
    // value→count map per group on a single reducer — O(distinct) state
    // in one task, which grows with data volume. Instead:
    // groupBy(flag, value).count() (fully distributed, map-side
    // combining), one sort-and-offset rank selection over that
    // histogram (Stats.selectSorted), and linear interpolation at rank
    // p·(n-1) — the exact definition both Spark's percentile and
    // DuckDB's quantile_cont implement, reproduced here value-for-value
    // (lower + (upper-lower)·frac on exact ints). Null values are
    // skipped, as both engines skip them.
    val li = Tables.lineitem(s, dir)
      .withColumn("qty_c", cents(col("l_quantity")))
      .withColumn("p_c", cents(col("l_extendedprice")))
    // (output name, which column, percentile)
    val ps: Seq[(String, String, Double)] = Seq(
      ("qty_p25", "q", 0.25), ("qty_p50", "q", 0.5), ("qty_p75", "q", 0.75),
      ("price_p50", "p", 0.5), ("price_p99", "p", 0.99))
    // both value columns share ONE histogram and selection via a 2-way
    // explode — half the stages of building them separately
    val ex = li.select(col("l_returnflag"), explode(array(
        struct(lit("q").as("w"), col("qty_c").as("v")),
        struct(lit("p").as("w"), col("p_c").as("v")))).as("e"))
      .select(col("l_returnflag"), col("e.w").as("w"), col("e.v").as("v"))
    val hist = ex.groupBy("l_returnflag", "w", "v").agg(count(lit(1)).as("c"))
    // the value at 0-based sorted index i is rank i + 1: per percentile
    // the ranks ⌊p·(n-1)⌋+1 and ⌈p·(n-1)⌉+1, for every (flag, w) group
    def pos(p: Double)(n: Column) = lit(p) * (n - 1).cast("double")
    val targets = ps.flatMap { case (_, _, p) =>
      Seq((n: Column) => floor(pos(p)(n)) + 1, (n: Column) => ceil(pos(p)(n)) + 1)
    }
    // per flag, in flag order: each percentile's n, lo and hi, taken
    // from its column's group (null when that column has no value)
    val rows = graft.operators.Stats.selectSorted(hist, targets) { (_, hits) =>
      val byGroup = hits.map { case (g, n, vs) => (g.get(0), g.get(1)) -> (n, vs) }.toMap
      hits.map(_._1.get(0)).distinct.map { flag =>
        Row.fromSeq(flag +: ps.zipWithIndex.flatMap { case ((_, w, _), i) =>
          byGroup.get((flag, w)).fold(Seq[Any](null, null, null)) {
            case (n, vs) => Seq(n, vs(2 * i), vs(2 * i + 1))
          }
        })
      }
    }
    val agg = s.createDataFrame(rows.asJava, StructType(hist.schema("l_returnflag") +:
      ps.flatMap { case (nm, _, _) =>
        Seq("n", "lo", "hi").map(x => StructField(s"${nm}_$x", LongType))
      }))
    // the local frame is already in flag order
    agg.select(col("l_returnflag") +: ps.map { case (nm, _, p) =>
      val r = pos(p)(col(s"${nm}_n"))
      val lo = col(s"${nm}_lo").cast("double")
      val hi = col(s"${nm}_hi").cast("double")
      // the symmetric interpolation both engines implement:
      // (ceil-pos)·lo + (pos-floor)·hi, exact-position early-out
      when(ceil(r) === floor(r), lo)
        .otherwise((ceil(r).cast("double") - r) * lo +
          (r - floor(r).cast("double")) * hi).as(nm)
    }: _*)
  }
  val q36Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(qty_c, 0.25) AS qty_p25,
      |  quantile_cont(qty_c, 0.5) AS qty_p50,
      |  quantile_cont(qty_c, 0.75) AS qty_p75,
      |  quantile_cont(p_c, 0.5) AS price_p50,
      |  quantile_cont(p_c, 0.99) AS price_p99
      |FROM (SELECT l_returnflag,
      |    CAST(round(l_quantity*100) AS BIGINT) AS qty_c,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS p_c
      |  FROM lineitem)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q91
  /** Incremental view maintenance ([[graft.engine.Ivm]]): the per-status
    * (count, sum-cents) view of the q06 backup table advanced by the
    * prod↔backup row delta. The ORACLE RECOMPUTES the aggregate from the
    * new table directly — an independent path, so agreement proves the
    * maintenance algebra (±contributions at old/new groups, zero-count
    * group drop), not a shared formulation.
    */
  val q91: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val prod = o.filter(col("o_orderkey") % 20 =!= 2)
    val backup = o.filter(col("o_orderkey") % 20 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 20 === 1, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    graft.engine.Ivm.maintainedAgg(backup, prod, Seq("o_orderkey"),
        col("o_orderstatus"), cents(col("o_totalprice")))
      .select(col("g").as("o_orderstatus"), col("n").as("n_orders"),
        col("s").as("sum_price_c"))
      .orderBy("o_orderstatus")
  }
  val q91Sql: String =
    """WITH prod AS (SELECT * FROM orders WHERE o_orderkey % 20 <> 2)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c
      |FROM prod GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Non-hierarchical GROUPING SETS — (flag, status), (flag), (status):
    * neither rollup (q19) nor cube (q38) expresses this set. grouping()
    * markers disambiguate genuine NULL groups from subtotal rows in both
    * engines.
    */
  val q92: Q = (s, dir) => {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_gs")
    s.sql("""SELECT l_returnflag, l_linestatus,
        grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
        CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        count(*) AS n_rows
      FROM li_gs
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        (l_returnflag), (l_linestatus))
      ORDER BY g_flag, g_status, l_returnflag, l_linestatus""")
  }
  val q92Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status,
      |  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), (l_linestatus))
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q95
  /** SCD-2 history ([[graft.engine.Scd.scd2]]): three derived snapshot
    * versions of orders (mod-arithmetic inserts/updates/deletes per
    * version) collapsed into (pk, values, ver_from, ver_to) validity
    * runs — the time-travel/audit layer over the sync engine's
    * versioned snapshots. Deletes close runs; reinserts open new ones.
    */
  private def scdStacked(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    def ver(v: Int, dropMod: Int, bumpMod: Int, bump: Double) =
      o.filter(col("o_orderkey") % 20 =!= dropMod)
        .select(lit(v).as("ver"), col("o_orderkey"),
          col("o_orderstatus"),
          cents(when(col("o_orderkey") % 20 === bumpMod,
            col("o_totalprice") + bump).otherwise(col("o_totalprice")))
            .as("price_c"))
    ver(0, 2, -1, 0.0)
      .unionByName(ver(1, 0, 1, 1.0))
      .unionByName(ver(2, 5, 3, 2.0))
  }

  val q95: Q = (s, dir) =>
    graft.engine.Scd.scd2(scdStacked(s, dir), "ver",
        Seq("o_orderkey"), Seq("o_orderstatus", "price_c"))
      .orderBy("o_orderkey", "ver_from")
  val q95Sql: String =
    """WITH vers AS (SELECT * FROM (VALUES (0), (1), (2)) v(ver)),
      |v0 AS (SELECT 0 AS ver, o_orderkey, o_orderstatus,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c
      |  FROM orders WHERE o_orderkey % 20 <> 2),
      |v1 AS (SELECT 1 AS ver, o_orderkey, o_orderstatus,
      |    CAST(round((CASE WHEN o_orderkey % 20 = 1 THEN o_totalprice + 1.0
      |      ELSE o_totalprice END)*100) AS BIGINT) AS price_c
      |  FROM orders WHERE o_orderkey % 20 <> 0),
      |v2 AS (SELECT 2 AS ver, o_orderkey, o_orderstatus,
      |    CAST(round((CASE WHEN o_orderkey % 20 = 3 THEN o_totalprice + 2.0
      |      ELSE o_totalprice END)*100) AS BIGINT) AS price_c
      |  FROM orders WHERE o_orderkey % 20 <> 5),
      |st AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
      |  UNION ALL SELECT * FROM v2),
      |pks AS (SELECT DISTINCT o_orderkey FROM st),
      |grid AS (SELECT p.o_orderkey, v.ver FROM pks p CROSS JOIN vers v),
      |j AS (SELECT g.o_orderkey, g.ver, st.o_orderstatus, st.price_c,
      |    st.o_orderkey IS NOT NULL AS present
      |  FROM grid g LEFT JOIN st
      |    ON st.o_orderkey = g.o_orderkey AND st.ver = g.ver),
      |m AS (SELECT *, lag(present) OVER w AS lp,
      |    lag(o_orderstatus) OVER w AS ls, lag(price_c) OVER w AS lc,
      |    row_number() OVER w AS rn
      |  FROM j WINDOW w AS (PARTITION BY o_orderkey ORDER BY ver)),
      |c AS (SELECT * FROM m WHERE rn = 1
      |  OR NOT (present IS NOT DISTINCT FROM lp
      |    AND o_orderstatus IS NOT DISTINCT FROM ls
      |    AND price_c IS NOT DISTINCT FROM lc)),
      |r AS (SELECT *, lead(ver)
      |    OVER (PARTITION BY o_orderkey ORDER BY ver) AS ver_to
      |  FROM c)
      |SELECT o_orderkey, o_orderstatus, price_c,
      |  CAST(ver AS BIGINT) AS ver_from, CAST(ver_to AS BIGINT) AS ver_to
      |FROM r WHERE present ORDER BY o_orderkey, ver_from""".stripMargin

  // --------------------------------------------------------------- q102
  /** Point-in-time table reconstruction ([[graft.engine.Scd.snapshotAt]]):
    * q95's snapshot stack collapsed to SCD-2 runs, then time-traveled
    * back to version 1 with one filter over the runs. The oracle does
    * NOT replay the engine path — it rebuilds version 1 directly from
    * the base table (the independent truth), so the query proves the
    * grid→runs→filter pipeline is a lossless encoding of the stack.
    */
  val q102: Q = (s, dir) =>
    graft.engine.Scd.snapshotAt(
        graft.engine.Scd.scd2(scdStacked(s, dir), "ver",
          Seq("o_orderkey"), Seq("o_orderstatus", "price_c")),
        at = 1L)
      .orderBy("o_orderkey")
  val q102Sql: String =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(round((CASE WHEN o_orderkey % 20 = 1 THEN o_totalprice + 1.0
      |    ELSE o_totalprice END)*100) AS BIGINT) AS price_c
      |FROM orders WHERE o_orderkey % 20 <> 0
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------- q103
  /** Incremental SCD-2 maintenance ([[graft.engine.Scd.advance]]): the
    * same history as q95 built by FOLDING one-snapshot advances (seed
    * from version 0, then two O(open + snapshot) diff joins) instead of
    * the batch pk×version grid. The oracle replays the FULL batch grid
    * in SQL (q95's statement verbatim), so the row pins incremental ==
    * batch — the property that lets a 100 TB history absorb arrivals
    * without ever rescanning its depth.
    */
  val q103: Q = (s, dir) => {
    val stacked = scdStacked(s, dir)
    val pk = Seq("o_orderkey")
    val vals = Seq("o_orderstatus", "price_c")
    val seed = graft.engine.Scd.scd2(
      stacked.filter(col("ver") === 0), "ver", pk, vals)
    graft.engine.Scd.advanceFold(seed,
        (1 to 2).map(v => (v.toLong,
          stacked.filter(col("ver") === v).drop("ver"))), pk, vals)
      .orderBy("o_orderkey", "ver_from")
  }
  val q103Sql: String = q95Sql

  // ---------------------------------------------------------------- q96
  /** Value-RANGE window frames + distribution window functions — the
    * window surface rows-frames can't express: a 60-second RANGE frame
    * keyed on event time (ties included by VALUE, so row order can't
    * change the sum), percent_rank/cume_dist over a total order, and
    * nth_value with an explicit ROWS frame.
    */
  val q96: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, dir).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"),
      round(col("value") * 100).cast("long").as("v_c"),
      col("event_type"))
    val wRange = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-60000000L, 0)
    val wTotal = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    val wRows = wTotal.rowsBetween(Window.unboundedPreceding, 0)
    e.select(col("user_id"), col("event_id"), col("us"), col("v_c"),
        sum(col("v_c")).over(wRange).as("sum_60s"),
        percent_rank().over(wTotal).as("pr"),
        cume_dist().over(wTotal).as("cd"),
        nth_value(col("event_type"), 3).over(wRows).as("third_type"))
      .orderBy("user_id", "us", "event_id")
  }
  val q96Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS v_c, event_type FROM events)
      |SELECT user_id, event_id, us, v_c,
      |  CAST(sum(v_c) OVER (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS sum_60s,
      |  percent_rank() OVER wt AS pr,
      |  cume_dist() OVER wt AS cd,
      |  nth_value(event_type, 3) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_type
      |FROM e
      |WINDOW wt AS (PARTITION BY user_id ORDER BY us, event_id)
      |ORDER BY user_id, us, event_id""".stripMargin

  // ---------------------------------------------------------------- q97
  /** Data-quality rule validation ([[graft.operators.Quality]]): four
    * row-level rules in ONE scan (a single aggregate with one codegen'd
    * conditional count per rule) plus two referential-integrity
    * anti-join rules — the pre-ingest gate, N rules ≠ N scans. The
    * discount and dim-subset rules are chosen to produce NON-zero
    * violation counts, so the oracle checks real counting, not zeros.
    */
  val q97: Q = (s, dir) => {
    import graft.operators.Quality
    val li = Tables.lineitem(s, dir)
    val rowRules = Quality.checkRules(li, Seq(
      "date_bound" -> (col("l_shipdate").cast("date") <=
        lit(java.sql.Date.valueOf("1998-12-31"))),
      "discount_range" -> (col("l_discount") >= 0.0 &&
        col("l_discount") <= 0.08),
      "price_positive" -> (col("l_extendedprice") > 0.0),
      "qty_range" -> (col("l_quantity") >= 1.0 && col("l_quantity") <= 50.0)))
    val fkOrders = Quality.checkReferential("fk_orderkey",
      li, col("l_orderkey"),
      Tables.orders(s, dir), col("o_orderkey"))
    val fkBigParts = Quality.checkReferential("fk_part_size_gt10",
      li, col("l_partkey"),
      Tables.part(s, dir).filter(col("p_size") > 10), col("p_partkey"))
    rowRules.unionByName(fkOrders).unionByName(fkBigParts).orderBy("rule")
  }
  val q97Sql: String =
    """WITH base AS (SELECT count(*) AS n,
      |    CAST(coalesce(sum(CASE WHEN NOT coalesce(
      |      CAST(l_shipdate AS DATE) <= DATE '1998-12-31', FALSE)
      |      THEN 1 END), 0) AS BIGINT) AS v_date,
      |    CAST(coalesce(sum(CASE WHEN NOT coalesce(
      |      l_discount >= 0.0 AND l_discount <= 0.08, FALSE)
      |      THEN 1 END), 0) AS BIGINT) AS v_disc,
      |    CAST(coalesce(sum(CASE WHEN NOT coalesce(
      |      l_extendedprice > 0.0, FALSE) THEN 1 END), 0) AS BIGINT) AS v_price,
      |    CAST(coalesce(sum(CASE WHEN NOT coalesce(
      |      l_quantity >= 1.0 AND l_quantity <= 50.0, FALSE)
      |      THEN 1 END), 0) AS BIGINT) AS v_qty
      |  FROM lineitem),
      |fk1 AS (SELECT count(*) AS v FROM lineitem l
      |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderkey IS NULL),
      |fk2 AS (SELECT count(*) AS v FROM lineitem l
      |  LEFT JOIN (SELECT p_partkey FROM part WHERE p_size > 10) p
      |    ON l.l_partkey = p.p_partkey
      |  WHERE p.p_partkey IS NULL)
      |SELECT rule, n_rows, n_violations,
      |  CAST(n_violations AS DOUBLE) / n_rows AS violation_frac
      |FROM (
      |  SELECT 'date_bound' AS rule, base.n AS n_rows, base.v_date AS n_violations FROM base
      |  UNION ALL SELECT 'discount_range', base.n, base.v_disc FROM base
      |  UNION ALL SELECT 'price_positive', base.n, base.v_price FROM base
      |  UNION ALL SELECT 'qty_range', base.n, base.v_qty FROM base
      |  UNION ALL SELECT 'fk_orderkey', base.n, fk1.v FROM base CROSS JOIN fk1
      |  UNION ALL SELECT 'fk_part_size_gt10', base.n, fk2.v FROM base CROSS JOIN fk2)
      |ORDER BY rule""".stripMargin

  // ---------------------------------------------------------------- q99
  /** Correlated subqueries — EXISTS, NOT EXISTS, and two scalar
    * subqueries in the projection: the SQL surface Catalyst decorrelates
    * into semi/anti/left joins (run `.explain` and the subqueries are
    * gone). Customers with at least one 100k+ order and no pending
    * orders, with their max order value and order count inlined.
    */
  val q99: Q = (s, dir) => {
    Tables.customer(s, dir).createOrReplaceTempView("cust_sq")
    Tables.orders(s, dir).createOrReplaceTempView("ord_sq")
    s.sql("""SELECT c_custkey, c_name,
        (SELECT CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
         FROM ord_sq WHERE o_custkey = c_custkey) AS max_order_c,
        (SELECT count(*) FROM ord_sq WHERE o_custkey = c_custkey) AS n_orders
      FROM cust_sq
      WHERE EXISTS (SELECT 1 FROM ord_sq
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        AND NOT EXISTS (SELECT 1 FROM ord_sq
              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey""")
  }
  val q99Sql: String =
    """SELECT c_custkey, c_name,
      |  (SELECT CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
      |   FROM orders WHERE o_custkey = c_custkey) AS max_order_c,
      |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |        WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------- q100
  /** Six-table star join (the TPC-H Q5 shape): revenue per nation for
    * one region and a two-year window, requiring the customer and the
    * line's supplier to share a nation. The join-ordering/broadcast
    * stress test: region→nation prune first, dimensions broadcast, the
    * two fact tables carry the only shuffles. Per-row revenue is
    * integer cents so the six-way aggregation is order-free.
    */
  val q100: Q = (s, dir) => {
    val rev = cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    Tables.region(s, dir).filter(col("r_name") === "ASIA")
      .join(Tables.nation(s, dir), col("r_regionkey") === col("n_regionkey"))
      .join(Tables.customer(s, dir), col("n_nationkey") === col("c_nationkey"))
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(rev).as("revenue_c"), count(lit(1)).as("n_lines"))
      .orderBy(col("revenue_c").desc, col("n_name"))
  }
  val q100Sql: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))
      |    AS BIGINT) AS revenue_c,
      |  count(*) AS n_lines
      |FROM region
      |JOIN nation ON r_regionkey = n_regionkey
      |JOIN customer ON n_nationkey = c_nationkey
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_c DESC, n_name""".stripMargin

  val queries: Map[String, Q] = Map(
    "q100_star_join" -> q100,
    "q99_subqueries" -> q99,
    "q97_dq_checks" -> q97,
    "q95_scd2_history" -> q95,
    "q102_time_travel" -> q102,
    "q103_scd_incremental" -> q103,
    "q96_range_windows" -> q96,
    "q91_incremental_agg" -> q91,
    "q92_grouping_sets" -> q92,
    "q17_pivot" -> q17,
    "q36_percentiles" -> q36,
    "q38_cube" -> q38,
    "q18_math_array" -> q18,
    "q19_rollup" -> q19,
    "q44_exact_stats" -> q44,
    "q45_analytic_windows" -> q45,
    "q46_distinct_agg" -> q46)

  val oracle: Map[String, String] = Map(
    "q100_star_join" -> q100Sql,
    "q99_subqueries" -> q99Sql,
    "q97_dq_checks" -> q97Sql,
    "q95_scd2_history" -> q95Sql,
    "q102_time_travel" -> q102Sql,
    "q103_scd_incremental" -> q103Sql,
    "q96_range_windows" -> q96Sql,
    "q91_incremental_agg" -> q91Sql,
    "q92_grouping_sets" -> q92Sql,
    "q17_pivot" -> q17Sql,
    "q36_percentiles" -> q36Sql,
    "q38_cube" -> q38Sql,
    "q18_math_array" -> q18Sql,
    "q19_rollup" -> q19Sql,
    "q44_exact_stats" -> q44Sql,
    "q45_analytic_windows" -> q45Sql,
    "q46_distinct_agg" -> q46Sql)
}
