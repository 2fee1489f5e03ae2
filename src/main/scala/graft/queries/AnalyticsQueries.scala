package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{EventOps, Graph, Stats, TextOps}

/** Round-6 second wave: per-document repetition quality signals, event
  * funnels / cohort retention / decayed engagement / Markov transitions
  * over the event stream, and exact-integer iterative PageRank. Parity
  * rules as everywhere: integer microseconds (`unix_micros` ↔
  * `epoch_us`), exact integer counts, floor division only on
  * non-negative operands, one mirrored double division at the end.
  */
object AnalyticsQueries {

  private type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q77
  /** Gopher-style repetition profile ([[TextOps.repetitionProfile]]):
    * top-bigram occupancy and duplicated-5-gram fraction per document —
    * the "repetitive content" axis the length/charset quality score
    * (q31) can't see. Two explode→agg chains keyed on the doc, exact
    * counts, two mirrored double divisions.
    */
  val q77: Q = (s, dir) =>
    TextOps.repetitionProfile(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q77Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |g2 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
      |    THEN list_transform(range(len(w)-1), i -> array_to_string(w[i+1:i+2], ' '))
      |    ELSE [] END) AS g FROM t),
      |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
      |s2 AS (SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS occ2,
      |    count(*) AS dis2 FROM c2 GROUP BY doc_id),
      |g5 AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5
      |    THEN list_transform(range(len(w)-4), i -> array_to_string(w[i+1:i+5], ' '))
      |    ELSE [] END) AS g FROM t),
      |c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
      |s5 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS occ5,
      |    count(*) AS dis5 FROM c5 GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  coalesce(s2.top2, 0) AS top_bigram_n,
      |  coalesce(s2.occ2, 0) AS bigram_occ,
      |  CAST(s2.top2 AS DOUBLE) / s2.occ2 AS top_bigram_frac,
      |  coalesce(s5.occ5, 0) AS gram5_occ,
      |  coalesce(s5.dis5, 0) AS gram5_distinct,
      |  CAST(s5.occ5 - s5.dis5 AS DOUBLE) / s5.occ5 AS dup_gram5_frac
      |FROM t LEFT JOIN s2 USING (doc_id) LEFT JOIN s5 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Ordered funnel ([[EventOps.funnel]]): earliest view → first click
    * STRICTLY AFTER it → first purchase strictly after that, per user,
    * plus the completed depth — the in-order journey metric, not
    * per-step presence. Exact microsecond comparisons on both engines.
    */
  val q78: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    EventOps.funnel(e, "user_id", "event_type", "us",
        Seq("view", "click", "purchase"))
      .select(col("user").as("user_id"),
        col("t0").as("t_view_us"), col("t1").as("t_click_us"),
        col("t2").as("t_purchase_us"), col("depth"))
      .orderBy("user_id")
  }
  val q78Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s0 AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN us END) AS t_view_us
      |  FROM e GROUP BY user_id),
      |s1 AS (SELECT s0.user_id, s0.t_view_us,
      |    min(CASE WHEN e.event_type = 'click' AND e.us > s0.t_view_us
      |      THEN e.us END) AS t_click_us
      |  FROM s0 LEFT JOIN e USING (user_id) GROUP BY s0.user_id, s0.t_view_us),
      |s2 AS (SELECT s1.user_id, s1.t_view_us, s1.t_click_us,
      |    min(CASE WHEN e.event_type = 'purchase' AND e.us > s1.t_click_us
      |      THEN e.us END) AS t_purchase_us
      |  FROM s1 LEFT JOIN e USING (user_id)
      |  GROUP BY s1.user_id, s1.t_view_us, s1.t_click_us)
      |SELECT user_id, t_view_us, t_click_us, t_purchase_us,
      |  CAST((CASE WHEN t_view_us IS NOT NULL THEN 1 ELSE 0 END)
      |    + (CASE WHEN t_click_us IS NOT NULL THEN 1 ELSE 0 END)
      |    + (CASE WHEN t_purchase_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS depth
      |FROM s2 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Cohort retention ([[EventOps.retention]]): users bucketed by
    * first-activity day, counted per whole-week offset — two aggregates
    * and one join keyed on the user.
    */
  val q79: Q = (s, dir) =>
    EventOps.retention(Tables.events(s, dir), "user_id", "ts")
      .orderBy("cohort", "week")
  val q79Sql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, day FROM e)
      |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
      |  date_diff('day', f.cohort_day, a.day) // 7 AS week,
      |  count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort, week""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Exact-integer PageRank ([[Graph.pageRank]]), 3 iterations, over the
    * customer–supplier bipartite graph (distinct (custkey, suppkey)
    * pairs from orders⋈lineitem; node ids disambiguated as 2k / 2k+1).
    * Scores are scaled Longs and every transfer is a floor division, so
    * the oracle replays the iterations exactly as an unrolled CTE chain
    * — the Pregel-shaped workload with a bit-exact cross-engine check.
    */
  val q80: Q = (s, dir) => {
    val edges = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    // no .distinct() here: Graph.symmetrized dedups after the union, so
    // a query-level distinct is a redundant full shuffle of the edge set
    Graph.pageRank(edges, iters = 3).orderBy("node")
  }
  val q80Sql: String = {
    val scale = "1000000000000"
    def iter(prev: String, c: String, next: String) =
      s"""$c AS (SELECT u.dst AS node, CAST(sum(s.score // s.deg) AS BIGINT) AS inflow
         |  FROM und u JOIN $prev s ON u.src = s.node GROUP BY u.dst),
         |$next AS MATERIALIZED (SELECT $prev.node, $prev.deg,
         |    (15*($scale // n.n))//100 + (85*coalesce($c.inflow, 0))//100 AS score
         |  FROM $prev LEFT JOIN $c USING (node) CROSS JOIN n)""".stripMargin
    s"""WITH ed AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
       |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
       |n AS (SELECT count(*) AS n FROM deg),
       |s0 AS MATERIALIZED (SELECT src AS node, deg, $scale // n.n AS score
       |  FROM deg CROSS JOIN n),
       |${iter("s0", "c1", "s1")},
       |${iter("s1", "c2", "s2")},
       |${iter("s2", "c3", "s3")}
       |SELECT node, deg, CAST(score AS BIGINT) AS score FROM s3
       |ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q136
  /** Personalized PageRank ([[Graph.personalizedPageRank]]) over the
    * same customer–supplier graph as q80, teleporting to the ten
    * lowest-id customer nodes — trust/proximity propagation from a
    * seed set, the crawl-frontier quality-scoring primitive. Seeds with
    * no graph presence are dropped before |S| is counted; all
    * arithmetic is the same exact-integer fixed point as q80, so the
    * oracle unrolls the three rounds as CTEs and matches bit-for-bit.
    */
  val q136: Q = (s, dir) => {
    val edges = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    // no .distinct() here: Graph.symmetrized dedups after the union, so
    // a query-level distinct is a redundant full shuffle of the edge set
    val seeds = Tables.customer(s, dir)
      .select((col("c_custkey") * 2).as("node"))
      .orderBy("node").limit(10)
    Graph.personalizedPageRank(edges, seeds, iters = 3).orderBy("node")
  }
  val q136Sql: String = {
    val scale = "1000000000000"
    def iter(prev: String, c: String, next: String) =
      s"""$c AS (SELECT u.dst AS node, CAST(sum(s.score // s.deg) AS BIGINT) AS inflow
         |  FROM und u JOIN $prev s ON u.src = s.node GROUP BY u.dst),
         |$next AS MATERIALIZED (SELECT $prev.node, $prev.deg, $prev.tele,
         |    $prev.tele + (85*coalesce($c.inflow, 0))//100 AS score
         |  FROM $prev LEFT JOIN $c USING (node))""".stripMargin
    s"""WITH ed AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
       |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
       |seeds0 AS (SELECT c_custkey*2 AS node FROM customer
       |  ORDER BY node LIMIT 10),
       |seeds AS (SELECT DISTINCT node FROM seeds0
       |  WHERE node IN (SELECT src FROM deg)),
       |ns AS (SELECT count(*) AS ns FROM seeds),
       |s0 AS MATERIALIZED (SELECT d.src AS node, d.deg,
       |    CASE WHEN se.node IS NOT NULL
       |         THEN (15*($scale // ns.ns))//100 ELSE 0 END AS tele,
       |    CASE WHEN se.node IS NOT NULL
       |         THEN $scale // ns.ns ELSE 0 END AS score
       |  FROM deg d LEFT JOIN seeds se ON se.node = d.src CROSS JOIN ns),
       |${iter("s0", "c1", "s1")},
       |${iter("s1", "c2", "s2")},
       |${iter("s2", "c3", "s3")}
       |SELECT node, deg, CAST(score AS BIGINT) AS score FROM s3
       |ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q138
  /** Windowed distinct-user HLL
    * ([[graft.streaming.EventAnalytics.windowedDistinct]], batch
    * execution of the same plan that streams): per-hour distinct users
    * from 128 fixed integer registers folded in ONE aggregation — the
    * bounded-state streaming cardinality shape. The oracle rebuilds the
    * registers per bucket and replays the identical integer estimate.
    */
  val q138: Q = (s, dir) =>
    graft.streaming.EventAnalytics.windowedDistinct(Tables.events(s, dir))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:00")
        .as("bucket"), col("est_users"))
      .orderBy("bucket")
  val q138Sql: String = {
    val p = 7; val w = 48 - p; val m = 1L << p
    val a = graft.operators.Sketches.alphaM2(p)
    val shift = 48 - p + 1
    val bitlen = (1 to w).foldLeft("0") { (acc, b) =>
      s"CASE WHEN rest >= ${1L << (b - 1)} THEN $b ELSE $acc END"
    }
    s"""WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00')
       |      AS bucket,
       |    ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,12))::BIGINT AS h
       |  FROM events),
       |b AS (SELECT bucket, h // ${1L << w} AS reg_b,
       |    h % ${1L << w} AS rest FROM h),
       |r AS (SELECT bucket, reg_b, ${w + 1} - ($bitlen) AS rank FROM b),
       |regs AS (SELECT bucket, reg_b, max(rank) AS reg
       |  FROM r GROUP BY 1, 2),
       |z AS (SELECT bucket, count(*) AS hit,
       |    sum((1::BIGINT << ($shift - reg))) AS zs FROM regs GROUP BY 1)
       |SELECT bucket,
       |  CAST(($a::BIGINT * (1::BIGINT << $shift))
       |    // (zs + ($m - hit) * (1::BIGINT << $shift)) AS BIGINT)
       |    AS est_users
       |FROM z ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q81
  /** Power-of-two time-decayed engagement ([[EventOps.decayedSum]]):
    * per (user, event type), value cents weighted 2^-(weeks of age at
    * the newest event) via integer floor division — the exact,
    * commutative alternative to exp(-λ·age) recency scoring.
    */
  val q81: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"),
      round(col("value") * 100).cast("long").as("v_c"))
    EventOps.decayedSum(e, Seq("user_id", "event_type"), "us", "v_c")
      .select(col("user_id"), col("event_type"), col("n_events"),
        col("raw").as("raw_cents"), col("decayed").as("decayed_cents"))
      .orderBy("user_id", "event_type")
  }
  val q81Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS v_c FROM events),
      |r AS (SELECT max(us) AS ref_us FROM e)
      |SELECT user_id, event_type, count(*) AS n_events,
      |  CAST(sum(v_c) AS BIGINT) AS raw_cents,
      |  CAST(sum(v_c // (CAST(1 AS BIGINT) <<
      |    CAST(least((r.ref_us - us) // 604800000000, 40) AS INT)))
      |    AS BIGINT) AS decayed_cents
      |FROM e CROSS JOIN r
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // ---------------------------------------------------------------- q82
  /** First-order Markov transition matrix
    * ([[EventOps.transitionMatrix]]): adjacent event-type pairs per
    * user under the total (ts, event_id) order, with conditional
    * probabilities — the session-path model. One window on the user key
    * plus two vocabulary-sized aggregates.
    */
  val q82: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("event_id"))
    EventOps.transitionMatrix(e, "user_id", "event_type", "us", "event_id")
      .orderBy("from_type", "to_type")
  }
  val q82Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM events),
      |t AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS to_type
      |  FROM e),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM t
      |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
      |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |  FROM c GROUP BY from_type)
      |SELECT c.from_type, c.to_type, c.n, tot.n_from,
      |  CAST(c.n AS DOUBLE) / tot.n_from AS prob
      |FROM c JOIN tot USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Triangle counting ([[Graph.triangleCounts]]) over the co-purchase
    * graph (parts sharing an order at least twice). The operator orients
    * edges by (degree, id) so wedge fan-out is bounded on skewed graphs;
    * the oracle replays the triangles with plain id orientation — an
    * INDEPENDENT formulation of the same set, so agreement checks the
    * algorithm (orientation invariance included), not a shared shape.
    */
  val q83: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select("src", "dst")
    Graph.triangleCounts(pairs).orderBy("node")
  }
  val q83Sql: String =
    """WITH pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS c
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2),
      |e AS (SELECT p1 AS a, p2 AS b FROM pairs WHERE c >= 2),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |nodes AS (SELECT unnest([x, y, z]) AS node FROM tri)
      |SELECT node, count(*) AS n_triangles FROM nodes
      |GROUP BY node ORDER BY node""".stripMargin

  // ---------------------------------------------------------------- q84
  /** Cross-source vocabulary Jaccard ([[TextOps.vocabularyJaccard]]):
    * which sources feed near-identical wording into the corpus — the
    * composition diagnostic above per-document dedup. Token-keyed
    * self-join, group-pair-bounded fan-out, exact set sizes.
    */
  val q84: Q = (s, dir) =>
    TextOps.vocabularyJaccard(Tables.documents(s, dir), "source", "text")
      .orderBy("grp_a", "grp_b")
  val q84Sql: String =
    """WITH v AS (SELECT DISTINCT source AS grp,
      |    unnest(string_split_regex(lower(text), '\s+')) AS t
      |  FROM documents),
      |sz AS (SELECT grp, count(*) AS n FROM v GROUP BY grp),
      |inter AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common
      |  FROM v a JOIN v b ON a.t = b.t AND a.grp < b.grp
      |  GROUP BY 1, 2)
      |SELECT inter.grp_a, inter.grp_b, sa.n AS n_a, sb.n AS n_b,
      |  inter.n_common,
      |  CAST(inter.n_common AS DOUBLE) / (sa.n + sb.n - inter.n_common)
      |    AS jaccard
      |FROM inter
      |JOIN sz sa ON sa.grp = inter.grp_a
      |JOIN sz sb ON sb.grp = inter.grp_b
      |ORDER BY grp_a, grp_b""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Equi-depth histogram ([[Stats.equiDepthHistogram]]) of lineitem
    * price cents into 16 buckets — optimizer-statistics building as a
    * distributed value-domain aggregate (never ntile over a globally
    * sorted row stream): the running sum over the distinct prices is
    * one sort-and-offset pass ([[Stats.runningSums]]).
    */
  val q85: Q = (s, dir) =>
    Stats.equiDepthHistogram(Tables.lineitem(s, dir),
        round(col("l_extendedprice") * 100).cast("long"), 16)
      .orderBy("bucket")
  val q85Sql: String =
    """WITH v AS (SELECT CAST(round(l_extendedprice*100) AS BIGINT) AS v
      |  FROM lineitem),
      |c AS (SELECT v, count(*) AS c FROM v GROUP BY v),
      |w AS (SELECT v, c,
      |    sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER () AS n
      |  FROM c)
      |SELECT CAST(((cum - c) * 16) // n AS BIGINT) AS bucket,
      |  CAST(sum(c) AS BIGINT) AS n_rows,
      |  count(*) AS n_values,
      |  min(v) AS v_min, max(v) AS v_max
      |FROM w GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q86
  /** Column profiler ([[Stats.profile]]): per-column row/null/distinct
    * counts and min/max — one column-pruned aggregate per column, never
    * an N-distinct Expand. Values rendered as engine-stable strings
    * (integers, dates, ASCII text).
    */
  val q86: Q = (s, dir) =>
    Stats.profile(Tables.lineitem(s, dir), Map(
        "l_returnflag" -> col("l_returnflag"),
        "l_linestatus" -> col("l_linestatus"),
        "l_quantity" -> round(col("l_quantity")).cast("long"),
        "l_shipdate" -> col("l_shipdate").cast("date")))
      .orderBy("col_name")
  val q86Sql: String = {
    def branch(name: String, v: String) =
      s"""SELECT '$name' AS col_name, count(*) AS n_rows,
         |  CAST(count(*) FILTER ($v IS NULL) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $v) AS n_distinct,
         |  CAST(min($v) AS VARCHAR) AS min_s,
         |  CAST(max($v) AS VARCHAR) AS max_s
         |FROM lineitem""".stripMargin
    Seq(
      branch("l_linestatus", "l_linestatus"),
      branch("l_quantity", "CAST(round(l_quantity) AS BIGINT)"),
      branch("l_returnflag", "l_returnflag"),
      branch("l_shipdate", "CAST(l_shipdate AS DATE)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // --------------------------------------------------------------- q143
  /** Seeded label propagation ([[Graph.labelPropagation]]) over the q80
    * customer–supplier graph: every 10th customer is "human-labeled"
    * with its nation key; three synchronous rounds spread the labels to
    * the rest of the graph — which nation's customer community each
    * supplier (and unlabeled customer) belongs to. Deterministic by
    * construction (edge-count mass, smallest-label ties, clamped
    * seeds), so the oracle unrolls the rounds as CTEs with a
    * row_number argmax and matches bit-for-bit.
    */
  val q143: Q = (s, dir) => {
    val edges = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    // no .distinct() here: Graph.symmetrized dedups after the union, so
    // a query-level distinct is a redundant full shuffle of the edge set
    val seeds = Tables.customer(s, dir)
      .filter(col("c_custkey") % 10 === 0)
      .select((col("c_custkey") * 2).as("node"),
        col("c_nationkey").cast("long").as("label"))
    Graph.labelPropagation(edges, seeds, iters = 3).orderBy("node")
  }
  val q143Sql: String = {
    def round(prev: String, c: String, b: String, next: String) =
      s"""$c AS (SELECT u.dst AS node, s.label, count(*) AS mass
         |  FROM und u JOIN $prev s ON u.src = s.node
         |  WHERE s.label IS NOT NULL GROUP BY u.dst, s.label),
         |$b AS (SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY mass DESC, label ASC) AS rk
         |    FROM $c) WHERE rk = 1),
         |$next AS MATERIALIZED (SELECT $prev.node, $prev.is_seed,
         |    CASE WHEN $prev.is_seed = 1 THEN $prev.label
         |         ELSE coalesce($b.label, $prev.label) END AS label
         |  FROM $prev LEFT JOIN $b USING (node))""".stripMargin
    s"""WITH ed AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
       |sd AS (SELECT c_custkey*2 AS node,
       |    CAST(min(c_nationkey) AS BIGINT) AS label
       |  FROM customer WHERE c_custkey % 10 = 0 GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT n.node, sd.label,
       |    CASE WHEN sd.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
       |  FROM (SELECT DISTINCT src AS node FROM und) n
       |  LEFT JOIN sd USING (node)),
       |${round("s0", "c1", "b1", "s1")},
       |${round("s1", "c2", "b2", "s2")},
       |${round("s2", "c3", "b3", "s3")}
       |SELECT node, label, CAST(is_seed AS BIGINT) AS is_seed FROM s3
       |ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q147
  /** Sketch-level source-overlap matrix ([[graft.operators.Sketches
    * .kmvJaccardMatrix]]): pairwise shingle-set Jaccard between crawl
    * sources from 128-hash KMV sketches — q84's exact vocabulary
    * Jaccard needs a cross-source token join; this touches the corpus
    * ONCE (bounded min-k per source) and estimates every cell from the
    * sketches, the formulation that survives 100 TB and thousands of
    * sources. Deterministic hash48 + integer ppm ⇒ the oracle rebuilds
    * the sketches relationally and matches the estimate bit-for-bit.
    */
  val q147: Q = (s, dir) => {
    import graft.functions.Portable
    // documents.parquet is one row group → one partition; without a
    // spread the whole tokenize→shingle→hash stage runs on one core
    // (measured 4.9 s warm → see SURVEY perf notes)
    val sh = graft.operators.Spread.ensure(Tables.documents(s, dir), "doc_id")
      .select(col("source"),
        explode(Portable.shingles(Portable.tokens(col("text")), 3)).as("shingle"))
    graft.operators.Sketches.kmvJaccardMatrix(sh, "source", col("shingle"),
        k = 128)
      .orderBy("grp_a", "grp_b")
  }
  val q147Sql: String =
    """WITH words AS (SELECT source,
      |    string_split_regex(lower(text), '\s+') AS w FROM documents),
      |sh AS (SELECT DISTINCT source, unnest(CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(range(len(w)-2),
      |    i -> array_to_string(w[i+1:i+3], ' ')))
      |  ELSE []::VARCHAR[] END) AS shingle FROM words),
      |shh AS (SELECT DISTINCT source,
      |    ('0x'||substr(md5(shingle),1,12))::BIGINT AS h FROM sh),
      |r AS (SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM shh),
      |sk AS (SELECT source, h FROM r WHERE rk <= 128),
      |p AS (SELECT a.source AS grp_a, b.source AS grp_b
      |  FROM (SELECT DISTINCT source FROM sk) a
      |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
      |u AS (SELECT p.grp_a, p.grp_b, s.h, count(*) AS c
      |  FROM p JOIN sk s ON s.source IN (p.grp_a, p.grp_b)
      |  GROUP BY 1, 2, 3),
      |ur AS (SELECT grp_a, grp_b, h, c,
      |    row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rk
      |  FROM u),
      |t AS (SELECT grp_a, grp_b,
      |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS matches,
      |    count(*) AS ucount
      |  FROM ur WHERE rk <= 128 GROUP BY 1, 2)
      |SELECT grp_a, grp_b, CAST(matches AS BIGINT) AS matches,
      |  CAST(ucount AS BIGINT) AS union_k,
      |  CAST((matches * 1000000) // ucount AS BIGINT) AS jaccard_ppm
      |FROM t ORDER BY grp_a, grp_b""".stripMargin

  // --------------------------------------------------------------- q152
  /** Windowed streaming quantiles ([[graft.streaming.EventAnalytics
    * .windowedValueSketch]], batch execution of the same plan that
    * streams): per-hour p50/p95 of cent-scaled event values from the
    * mergeable log-histogram sketch — bounded ~600-bucket state per
    * window on an unbounded stream where `percentile_approx` buffers
    * values. The oracle rebuilds every (hour, bucket) count and replays
    * the quantile walk exactly (same machinery as q151, keyed by the
    * event-time window); StreamingSpec pins stream == batch on the same
    * operator.
    */
  val q152: Q = (s, dir) => {
    val sk = graft.streaming.EventAnalytics
      .windowedValueSketch(Tables.events(s, dir))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:00")
        .as("bucket_hour"), col("bucket"), col("cnt"))
    graft.operators.Sketches.logHistQuantiles(sk, Seq("bucket_hour"),
        Seq(50, 95))
      .orderBy("bucket_hour", "p")
  }
  val q152Sql: String = {
    val bChain = (1 to 39)
      .map(k => s"(CASE WHEN v >= ${1L << k} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH vv AS (SELECT strftime(date_trunc('hour', ts),
       |      '%Y-%m-%d %H:00') AS g,
       |    CAST(round(value*100) AS BIGINT) AS v
       |  FROM events WHERE round(value*100) > 0),
       |bb AS (SELECT g, v, $bChain AS b FROM vv),
       |bk AS (SELECT g, CASE WHEN v < 32 THEN v
       |    ELSE 32 + (b-5)*16 + ((v >> (b-4)) & 15) END AS bucket FROM bb),
       |sk AS (SELECT g, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
       |c AS (SELECT g, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS cum,
       |    sum(cnt) OVER (PARTITION BY g) AS n FROM sk),
       |l AS (SELECT g, cum, n,
       |    CASE WHEN bucket < 32 THEN bucket
       |    ELSE (16 + (bucket-32)%16)::BIGINT << ((bucket-32)//16 + 1)
       |    END AS lb
       |  FROM c),
       |q AS (
       |  SELECT g, 50 AS p, min(lb) AS est FROM l
       |    WHERE cum*100 >= n*50 GROUP BY g
       |  UNION ALL SELECT g, 95, min(lb) FROM l
       |    WHERE cum*100 >= n*95 GROUP BY g)
       |SELECT g AS bucket_hour, CAST(p AS BIGINT) AS p,
       |  CAST(est AS BIGINT) AS est
       |FROM q ORDER BY bucket_hour, p""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q152_windowed_quantiles" -> q152,
    "q147_kmv_source_overlap" -> q147,
    "q143_label_propagation" -> q143,
    "q77_repetition_profile" -> q77,
    "q78_event_funnel" -> q78,
    "q79_cohort_retention" -> q79,
    "q80_pagerank" -> q80,
    "q136_personalized_pagerank" -> q136,
    "q138_windowed_distinct_hll" -> q138,
    "q81_decayed_engagement" -> q81,
    "q82_markov_transitions" -> q82,
    "q83_triangle_counts" -> q83,
    "q84_source_vocab_jaccard" -> q84,
    "q85_equidepth_hist" -> q85,
    "q86_column_profile" -> q86)

  val oracle: Map[String, String] = Map(
    "q152_windowed_quantiles" -> q152Sql,
    "q147_kmv_source_overlap" -> q147Sql,
    "q143_label_propagation" -> q143Sql,
    "q77_repetition_profile" -> q77Sql,
    "q78_event_funnel" -> q78Sql,
    "q79_cohort_retention" -> q79Sql,
    "q80_pagerank" -> q80Sql,
    "q136_personalized_pagerank" -> q136Sql,
    "q138_windowed_distinct_hll" -> q138Sql,
    "q81_decayed_engagement" -> q81Sql,
    "q82_markov_transitions" -> q82Sql,
    "q83_triangle_counts" -> q83Sql,
    "q84_source_vocab_jaccard" -> q84Sql,
    "q85_equidepth_hist" -> q85Sql,
    "q86_column_profile" -> q86Sql)
}
