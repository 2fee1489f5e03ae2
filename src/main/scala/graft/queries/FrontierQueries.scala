package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{EventOps, Graph, Similarity, Sketches, TextOps}

/** Round-10 frontier waves: the planning/compression/audit operators a
  * 100 TB deployment reaches for NEXT. Wave 1-2 — join-size estimation
  * before an exploding join runs ([[q181]]), SQ8 vector compression
  * with recall audit and two-stage rerank ([[q182]]/[[q186]]),
  * time-weighted gauge averaging ([[q183]]), k-core graph peeling
  * ([[q184]]), token-distribution drift ([[q185]]), rate-anomaly
  * z-scores ([[q187]]), OLS value trends ([[q188]]), contingency
  * residuals ([[q189]]). Wave 3 — the sync-core Differ on a parquet
  * corpus pair ([[q190]]), k-anonymity ([[q191]]), temporal embargo
  * splits ([[q192]]), kNN label noise ([[q193]]). Wave 4 — the
  * persisted mergeable CMS store ([[q194]]), multi-touch linear
  * attribution ([[q195]]), and the aHash→dHash perceptual ensemble
  * ([[q196]]). Same cross-engine determinism rules as everywhere else:
  * exact integers (hash48 sketch cells, ×1000-quantized vectors, µs
  * timestamps, cent values, decimal(38,0) sums past the int64 cliff)
  * or fixed-order IEEE doubles mirrored verbatim in the oracle SQL.
  */
object FrontierQueries {

  private type Q = (SparkSession, String) => DataFrame

  // --------------------------------------------------------------- q181
  /** Join-cardinality estimation from count-min sketches
    * ([[Sketches.cmsJoinSize]]): the self-join size of lineitem on
    * l_partkey (= Σ_part cnt², the F₂ moment — the statistic that
    * decides whether a partkey join is safe to run) estimated from a
    * depth-4 × width-2048 sketch, next to the exact value. est ≥ true
    * by construction; the oracle rebuilds the identical counters, so
    * even the collision-inflated estimate hash-matches.
    */
  val q181: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir).select("l_partkey")
    val est = Sketches.cmsJoinSize(li, col("l_partkey"), li,
      col("l_partkey"), depth = 4, width = 2048)
    val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("true_pairs"))
    est.crossJoin(exact).select("est_pairs", "true_pairs")
  }
  val q181Sql: String = {
    val pos = "('0x'||substr(md5(CAST(l_partkey AS VARCHAR)||'#'||" +
      "CAST(r AS VARCHAR)),1,12))::BIGINT % 2048"
    s"""WITH rs AS (SELECT unnest(range(4)) AS r),
       |ctr AS (SELECT r, $pos AS pos, count(*) AS cnt
       |  FROM lineitem CROSS JOIN rs GROUP BY r, pos),
       |ip AS (SELECT a.r, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
       |  FROM ctr a JOIN ctr b ON a.r = b.r AND a.pos = b.pos GROUP BY a.r),
       |ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS true_pairs
       |  FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey))
       |SELECT (SELECT CAST(min(ip) AS BIGINT) FROM ip) AS est_pairs,
       |  ex.true_pairs FROM ex""".stripMargin
  }

  // --------------------------------------------------------------- q182
  /** SQ8 scalar-quantization recall audit ([[Similarity.sq8Recall]]):
    * per-dimension [lo, hi] envelope over the corpus → 8-bit codes →
    * integer-dot top-5, scored against the exact cosine top-5 (q24's
    * ranking) — the report read before switching a fleet to 4×-smaller
    * vectors.
    */
  val q182: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.sq8Recall(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id")
  }
  val q182Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings),
      |e AS (SELECT vec_id, d, q[CAST(d AS INT)+1] AS x
      |  FROM v CROSS JOIN (SELECT unnest(range(64)) AS d)),
      |mm AS (SELECT d, min(x) AS lo, greatest(max(x) - min(x), 1) AS span
      |  FROM e GROUP BY d),
      |codes AS (SELECT vec_id, d, ((x - lo) * 255) // span AS c
      |  FROM e JOIN mm USING (d)),
      |ad AS (SELECT qc.vec_id AS query_id, bc.vec_id AS neighbor_id,
      |    CAST(sum(qc.c * bc.c) AS BIGINT) AS dot
      |  FROM codes bc JOIN codes qc USING (d)
      |  WHERE qc.vec_id < 10 AND bc.vec_id <> qc.vec_id
      |  GROUP BY 1, 2),
      |ax AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank FROM ad)
      |  WHERE rank <= 5),
      |scored AS (
      |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    round(list_dot_product(q.q, b.q) /
      |      (sqrt(list_dot_product(q.q, q.q)) * sqrt(list_dot_product(b.q, b.q))), 6) AS cos
      |  FROM v b CROSS JOIN v q
      |  WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id),
      |ex AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
      |  WHERE rank <= 5)
      |SELECT ax.query_id, CAST(count(ex.neighbor_id) AS BIGINT) AS n_hit,
      |  CAST((100 * count(ex.neighbor_id)) // 5 AS BIGINT) AS recall_pct
      |FROM ax LEFT JOIN ex ON ax.query_id = ex.query_id
      |  AND ax.neighbor_id = ex.neighbor_id
      |GROUP BY ax.query_id ORDER BY ax.query_id""".stripMargin

  // --------------------------------------------------------------- q183
  /** Time-weighted average event value per user
    * ([[EventOps.timeWeightedAvg]]): last-observation-carried-forward
    * integration over each user's event timeline — the correct mean for
    * irregularly-sampled gauges, exact in (µs × cents) Longs.
    */
  val q183: Q = (s, dir) =>
    EventOps.timeWeightedAvg(Tables.events(s, dir),
        "user_id", "ts", "value", tieCol = "event_id")
      .withColumnRenamed("key", "user_id")
      .orderBy("user_id")
  val q183Sql: String =
    """WITH o AS (SELECT user_id, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS vc,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |    CAST(sum(CASE WHEN nxt IS NULL THEN 0
      |      ELSE vc * (nxt - us) END) AS BIGINT) AS wsum,
      |    max(us) - min(us) AS span
      |  FROM o GROUP BY user_id)
      |SELECT user_id, n_events, CAST(span // 1000000 AS BIGINT) AS span_sec,
      |  CAST(wsum // span AS BIGINT) AS twa_cents
      |FROM a WHERE span > 0 ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- q184
  /** Bounded-round k-core peel ([[Graph.kCore]], k = 3, 4 rounds) over
    * the q80 customer–supplier graph: the dense-subgraph filter that
    * strips graph fringe before per-node analytics. The oracle unrolls
    * the four synchronous peel rounds as a CTE chain.
    */
  val q184: Q = (s, dir) => {
    val edges = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    // convenience form: the final round's cached frame stays live until
    // session eviction — the q80/pageRank lifecycle trade
    Graph.kCore(edges, k = 3, rounds = 4).orderBy("node")
  }
  val q184Sql: String = {
    def round(prev: String, i: Int) =
      s"""d$i AS (SELECT src, count(*) AS deg FROM $prev GROUP BY src),
         |k$i AS (SELECT src FROM d$i WHERE deg >= 3),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM $prev e
         |  JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)""".stripMargin
    s"""WITH ed AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
       |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS MATERIALIZED (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
       |${round("e0", 1)},
       |${round("e1", 2)},
       |${round("e2", 3)},
       |${round("e3", 4)}
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e4
       |GROUP BY src ORDER BY node""".stripMargin
  }

  // --------------------------------------------------------------- q185
  /** Token-distribution drift between the even and odd corpus halves
    * ([[TextOps.tokenDrift]]): 2×2 chi-square per token with ≥ 200
    * occurrences — the snapshot-to-snapshot composition audit. The
    * synthetic halves are exchangeable, so the observed χ² values ARE
    * the null distribution — the calibration read.
    */
  val q185: Q = (s, dir) =>
    TextOps.tokenDrift(Tables.documents(s, dir),
        col("doc_id") % 2, "text", minCount = 200L)
      .orderBy("term")
  val q185Sql: String =
    """WITH toks AS (SELECT doc_id % 2 AS half,
      |    unnest(string_split_regex(lower(text), '\s+')) AS term
      |  FROM documents),
      |per AS (SELECT term,
      |    CAST(coalesce(sum(CASE WHEN half = 0 THEN 1 END), 0) AS BIGINT) AS o1,
      |    CAST(coalesce(sum(CASE WHEN half <> 0 THEN 1 END), 0) AS BIGINT) AS o2
      |  FROM toks WHERE term <> '' GROUP BY term),
      |tot AS (SELECT CAST(sum(o1) AS BIGINT) AS n1,
      |    CAST(sum(o2) AS BIGINT) AS n2 FROM per)
      |SELECT term, o1, o2,
      |  round((((CAST(o1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |       - CAST(o2 AS DOUBLE) * CAST(n1 AS DOUBLE))
      |     * (CAST(o1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |       - CAST(o2 AS DOUBLE) * CAST(n1 AS DOUBLE)))
      |    * CAST(n1 + n2 AS DOUBLE))
      |    / CAST(o1 + o2 AS DOUBLE)
      |    / CAST((n1 - o1) + (n2 - o2) AS DOUBLE)
      |    / CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS chi2_6dp
      |FROM per CROSS JOIN tot
      |WHERE o1 + o2 >= 200
      |ORDER BY term""".stripMargin

  // --------------------------------------------------------------- q186
  /** Two-stage retrieve-then-rerank ([[Similarity.sq8Rerank]]): SQ8
    * integer-dot screen nominates 20 candidates per query, exact
    * quantized cosine reranks to the final top-5 — the production ANN
    * serving shape (compressed-scan screen, full-precision fetch for
    * ~0.1% of the corpus). Output is q24's exact shape, so recall loss
    * of the (20, 5) setting is directly visible.
    */
  val q186: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.sq8Rerank(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, screenK = 20)
      .orderBy("query_id", "rank")
  }
  val q186Sql: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings),
      |e AS (SELECT vec_id, d, q[CAST(d AS INT)+1] AS x
      |  FROM v CROSS JOIN (SELECT unnest(range(64)) AS d)),
      |mm AS (SELECT d, min(x) AS lo, greatest(max(x) - min(x), 1) AS span
      |  FROM e GROUP BY d),
      |codes AS (SELECT vec_id, d, ((x - lo) * 255) // span AS c
      |  FROM e JOIN mm USING (d)),
      |ad AS (SELECT qc.vec_id AS query_id, bc.vec_id AS neighbor_id,
      |    CAST(sum(qc.c * bc.c) AS BIGINT) AS dot
      |  FROM codes bc JOIN codes qc USING (d)
      |  WHERE qc.vec_id < 10 AND bc.vec_id <> qc.vec_id
      |  GROUP BY 1, 2),
      |ax AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rank FROM ad)
      |  WHERE rank <= 20),
      |rr AS (SELECT ax.query_id, ax.neighbor_id,
      |    round(list_dot_product(q.q, b.q) /
      |      (sqrt(list_dot_product(q.q, q.q)) * sqrt(list_dot_product(b.q, b.q))), 6) AS cos
      |  FROM ax JOIN v q ON q.vec_id = ax.query_id
      |    JOIN v b ON b.vec_id = ax.neighbor_id)
      |SELECT query_id, neighbor_id, rank, cos FROM (SELECT *,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS rank FROM rr)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- q187
  /** Hourly event-rate anomaly z-scores per event type
    * ([[EventOps.rateAnomaly]]) — which hours are a burst or outage for
    * each type, standardized against the type's own observed-hour
    * distribution. Exact integer counts; fixed-order IEEE combination.
    */
  val q187: Q = (s, dir) =>
    EventOps.rateAnomaly(Tables.events(s, dir), "event_type", "ts")
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type", "bucket")
  val q187Sql: String =
    """WITH h AS (SELECT event_type AS key,
      |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT key, CAST(count(*) AS BIGINT) AS n, sum(c) AS sc,
      |    sum(c * c) AS sc2
      |  FROM h GROUP BY key HAVING count(*) >= 2)
      |SELECT h.key AS event_type, h.bucket, h.c AS n_in_bucket,
      |  round((CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sc2 AS DOUBLE)
      |        - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS z_6dp
      |FROM h JOIN m USING (key)
      |WHERE CAST(n AS DOUBLE) * CAST(sc2 AS DOUBLE)
      |  > CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
      |ORDER BY event_type, bucket""".stripMargin

  // --------------------------------------------------------------- q188
  /** Per-type OLS value trend ([[EventOps.valueTrend]]): cents/second
    * drift of event value over the corpus time span — decimal-exact
    * sums, one fixed-order IEEE slope per type.
    */
  val q188: Q = (s, dir) =>
    EventOps.valueTrend(Tables.events(s, dir), "event_type", "ts", "value")
      .withColumnRenamed("key", "event_type")
      .orderBy("event_type")
  val q188Sql: String =
    """WITH p0 AS (SELECT event_type AS key, epoch_us(ts) // 1000000 AS xs,
      |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
      |t0 AS (SELECT min(xs) AS x0 FROM p0),
      |p AS (SELECT key, xs - x0 AS x, y FROM p0 CROSS JOIN t0),
      |s AS (SELECT key, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
      |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sx2
      |  FROM p GROUP BY key)
      |SELECT key AS event_type, n AS n_events,
      |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope_6dp
      |FROM s
      |WHERE CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |  > CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q189
  /** Corpus-composition independence audit
    * ([[graft.operators.Stats.contingencyResiduals]]): per (lang,
    * source) cell, the expected count under independence and the
    * Pearson standardized residual — which language/source combinations
    * are over/under-represented beyond sampling noise.
    */
  val q189: Q = (s, dir) =>
    graft.operators.Stats.contingencyResiduals(
        Tables.documents(s, dir), col("lang"), col("source"))
      .select(col("a").as("lang"), col("b").as("source"),
        col("n_obs"), col("e_6dp"), col("resid_6dp"))
      .orderBy("lang", "source")
  val q189Sql: String =
    """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS n_obs
      |  FROM documents GROUP BY 1, 2),
      |rt AS (SELECT a, sum(n_obs) AS ra FROM cells GROUP BY a),
      |ct AS (SELECT b, sum(n_obs) AS cb FROM cells GROUP BY b),
      |tot AS (SELECT sum(n_obs) AS nn FROM cells)
      |SELECT a AS lang, b AS source, CAST(n_obs AS BIGINT) AS n_obs,
      |  round(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE), 6)
      |    AS e_6dp,
      |  round((CAST(n_obs AS DOUBLE)
      |      - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(nn AS DOUBLE))
      |    / sqrt(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
      |      / CAST(nn AS DOUBLE)), 6) AS resid_6dp
      |FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
      |ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------- q190
  /** Corpus snapshot diff — the sync-core diff operator
    * ([[graft.engine.Differ.diffOps]], the reference's flagship) applied
    * to a PARQUET corpus instead of a SQL dump: current crawl vs a
    * synthesized prior snapshot (every 7th doc not yet crawled → INSERT,
    * every 10th doc's text since edited → UPDATE, planted prior-only
    * docs → DELETE), rolled up to per-op counts. One full-outer PK join
    * + null-safe column compare — identical plan at any corpus size.
    */
  val q190: Q = (s, dir) => {
    val cur = Tables.documents(s, dir).select("doc_id", "text")
    val prior = cur.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" [stale]")))
          .otherwise(col("text")).as("text"))
      .unionByName(cur.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
    graft.engine.Differ.diffOps(cur, prior, Seq("doc_id"))
      .groupBy("op").agg(count(lit(1)).as("n"))
      .orderBy("op")
  }
  val q190Sql: String =
    """WITH prod AS (SELECT doc_id, text FROM documents),
      |prior AS (SELECT doc_id, CASE WHEN doc_id % 10 = 0
      |      THEN text || ' [stale]' ELSE text END AS text
      |    FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL SELECT doc_id + 5000000, text
      |    FROM documents WHERE doc_id % 13 = 0),
      |d AS (SELECT CASE WHEN b.doc_id IS NULL THEN 'INSERT'
      |    WHEN p.doc_id IS NULL THEN 'DELETE'
      |    WHEN p.text IS DISTINCT FROM b.text THEN 'UPDATE' END AS op
      |  FROM prod p FULL OUTER JOIN prior b ON p.doc_id = b.doc_id)
      |SELECT op, CAST(count(*) AS BIGINT) AS n FROM d
      |WHERE op IS NOT NULL GROUP BY op ORDER BY op""".stripMargin

  // --------------------------------------------------------------- q191
  /** k-anonymity audit ([[graft.operators.Curate.kAnonymity]]) over the
    * (lang, source, 500-char length bucket) quasi-identifiers — the
    * privacy-release gate: equivalence classes under 10 members
    * re-identify their documents by intersection with outside knowledge.
    */
  val q191: Q = (s, dir) =>
    graft.operators.Curate.kAnonymity(
        Tables.documents(s, dir).select(col("lang"), col("source"),
          expr("n_chars div 500").as("len_bucket")),
        Seq(col("lang"), col("source"), col("len_bucket")), k = 10L)
      .orderBy("lang", "source", "len_bucket")
  val q191Sql: String =
    """SELECT lang, source, n_chars // 500 AS len_bucket,
      |  CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS BIGINT) AS below_k
      |FROM documents GROUP BY 1, 2, 3
      |ORDER BY lang, source, len_bucket""".stripMargin

  // --------------------------------------------------------------- q192
  /** Temporal train/embargo/test split accounting
    * ([[graft.operators.Curate.temporalSplit]]): first 6/10 of the event
    * span trains, a 1/20-span embargo gap is discarded, the rest tests —
    * plus the user overlap between train and test, the residual leakage
    * channel a row-time split cannot close.
    */
  val q192: Q = (s, dir) =>
    graft.operators.Curate.temporalSplit(Tables.events(s, dir),
      col("ts"), col("user_id"), trainTenths = 6, embargoTwentieths = 1)
  val q192Sql: String =
    """WITH b AS (SELECT epoch_us(ts) AS us, user_id AS key FROM events),
      |s AS (SELECT min(us) AS t0, max(us) AS t3 FROM b),
      |sp AS (SELECT t0 + ((t3 - t0) * 6) // 10 AS t1,
      |    t0 + ((t3 - t0) * 6) // 10 + ((t3 - t0) * 1) // 20 AS t2 FROM s),
      |t AS (SELECT us, key, CASE WHEN us < t1 THEN 'train'
      |    WHEN us < t2 THEN 'embargo' ELSE 'test' END AS part
      |  FROM b CROSS JOIN sp),
      |c AS (SELECT
      |    CAST(sum(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_train,
      |    CAST(sum(CASE WHEN part = 'embargo' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_embargo,
      |    CAST(sum(CASE WHEN part = 'test' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_test
      |  FROM t),
      |o AS (SELECT CAST(count(*) AS BIGINT) AS keys_in_both FROM (
      |  SELECT DISTINCT key FROM t WHERE part = 'train'
      |  INTERSECT SELECT DISTINCT key FROM t WHERE part = 'test'))
      |SELECT c.n_train, c.n_embargo, c.n_test, o.keys_in_both
      |FROM c CROSS JOIN o""".stripMargin

  // --------------------------------------------------------------- q193
  /** Label-noise screening ([[Similarity.labelNoise]]): a fixed review
    * batch (first 100 vectors) scored by 5-nearest-neighbor label
    * disagreement against the full corpus — the mislabeled-candidate
    * queue of confident-learning, corpus-linear by construction.
    */
  val q193: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.labelNoise(e, e.filter(col("vec_id") < 100),
        "vec_id", "embedding", "label", k = 5)
      .orderBy("query_id")
  }
  val q193Sql: String =
    """WITH v AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, q.label AS qlab, b.vec_id AS nid,
      |    b.label AS nlab,
      |    round(list_dot_product(q.q, b.q) /
      |      (sqrt(list_dot_product(q.q, q.q)) * sqrt(list_dot_product(b.q, b.q))), 6) AS cos
      |  FROM v b CROSS JOIN v q
      |  WHERE q.vec_id < 100 AND b.vec_id <> q.vec_id),
      |top AS (SELECT * FROM (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, nid) AS rank FROM scored)
      |  WHERE rank <= 5)
      |SELECT query_id, qlab AS query_label,
      |  CAST(sum(CASE WHEN nlab <> qlab THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
      |  CAST((100 * sum(CASE WHEN nlab <> qlab THEN 1 ELSE 0 END)) // 5 AS BIGINT)
      |    AS disagree_pct
      |FROM top GROUP BY query_id, qlab ORDER BY query_id""".stripMargin

  // --------------------------------------------------------------- q194
  /** Persisted mergeable count-min store
    * ([[graft.operators.Sketches.CmsStore]]): the even- and odd-doc
    * halves each build their token-frequency sketch ONCE behind a
    * content fingerprint; estimates probe the CELL-WISE SUM of the two
    * part stores. Addition of counters is exact, so the merged-store
    * estimates equal the full-corpus sketch bit-for-bit — the oracle is
    * q61's SQL VERBATIM, and any merge drift fails the driver hash.
    * Same output shape as q61: (term, cms_est, true_count).
    */
  val q194: Q = (s, dir) => {
    val store = graft.Tables.storeDir("cms_store", dir)
    val depth = 4; val width = 1024
    val docs = graft.operators.Spread.ensure(Tables.documents(s, dir), "doc_id")
    def toks(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"),
        explode(graft.functions.Portable.tokens(col("text"))).as("term"))
    graft.operators.Sketches.CmsStore.ensure(
      toks(docs.filter(col("doc_id") % 2 === 0)), col("term"),
      col("doc_id"), depth, width, s"$store/even")
    graft.operators.Sketches.CmsStore.ensure(
      toks(docs.filter(col("doc_id") % 2 === 1)), col("term"),
      col("doc_id"), depth, width, s"$store/odd")
    val probeTerms = graft.operators.TextOps.EnStopwords :+ "zzzznotaword"
    val est = graft.operators.Sketches.CmsStore.estimateFrom(s,
      Seq(s"$store/even", s"$store/odd"), probeTerms, depth, width)
    val exact = toks(docs).filter(col("term").isInCollection(probeTerms))
      .groupBy(col("term").as("key")).agg(count(lit(1)).as("true_count"))
    est.join(exact, Seq("key"), "left")
      .select(col("key").as("term"), col("est").as("cms_est"),
        coalesce(col("true_count"), lit(0L)).as("true_count"))
      .orderBy("term")
  }
  val q194Sql: String = ExtensionQueries.q61Sql

  // --------------------------------------------------------------- q195
  /** Multi-touch linear attribution
    * ([[graft.operators.EventOps.linearAttribution]]): every purchase
    * splits one unit of ppm credit equally across the user's touches in
    * the prior hour — the channel-budget allocation report, exact
    * integer credit.
    */
  val q195: Q = (s, dir) =>
    EventOps.linearAttribution(Tables.events(s, dir), "user_id",
        "event_type", "ts", convType = "purchase",
        windowUs = 3600L * 1000000L)
      .orderBy("channel")
  val q195Sql: String =
    """WITH conv AS (SELECT user_id AS u, epoch_us(ts) AS cts,
      |    event_id AS conv_id FROM events WHERE event_type = 'purchase'),
      |touch AS (SELECT user_id AS u, event_type AS channel,
      |    epoch_us(ts) AS tts FROM events WHERE event_type <> 'purchase'),
      |p AS (SELECT conv_id, channel FROM conv JOIN touch USING (u)
      |  WHERE tts <= cts AND tts >= cts - 3600000000),
      |pc AS (SELECT conv_id, count(*) AS n FROM p GROUP BY conv_id)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      |  CAST(sum(1000000 // n) AS BIGINT) AS credit_ppm
      |FROM p JOIN pc USING (conv_id)
      |GROUP BY channel ORDER BY channel""".stripMargin

  // --------------------------------------------------------------- q196
  /** Two-vote perceptual dedup ensemble: candidate pairs come from
    * q146's banded aHash join (the SELECTIVE hash — global-mean
    * threshold), then each candidate is VERIFIED by dHash distance
    * ([[graft.operators.Multimodal.differenceHash]] — horizontal
    * neighbor threshold, which fails on different image classes than
    * aHash) as a map-side filter. Candidates always come from the more
    * selective signal; the second vote never generates pairs — the
    * standard production ensemble shape (dHash alone is degenerate on
    * these monotone-gradient fixtures: every image's luma ascends in x,
    * so ALL pairs sit within dHash radius — measured 19 900/19 900,
    * which is exactly why it must be the verifier, not the generator).
    * Output pins BOTH distances, so the full decode→9×8
    * downsample→neighbor-compare dHash path is oracle-checked
    * bit-for-bit.
    */
  val q196: Q = (s, dir) => {
    implicit val sp: org.apache.spark.sql.SparkSession = s
    import s.implicits._
    val ids = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select("doc_id").as[java.lang.Long]
    val corpus = graft.operators.Multimodal.fixtureImageCorpus(ids)
    val aHashes = graft.operators.Multimodal.perceptualHashes(corpus)
      .toDF().select(col("id"), col("ph_hi").as("hi"), col("ph_lo").as("lo"))
    val cand = graft.operators.Dedup
      .hammingPairs64(aHashes, maxHamming = 2, persist = false)
    val dHashes = graft.operators.Multimodal.differenceHashes(corpus)
      .toDF().select(col("id"), col("ph_hi").as("d_hi"), col("ph_lo").as("d_lo"))
    cand
      .join(dHashes.select(col("id").as("id_a"), col("d_hi").as("a_hi"),
        col("d_lo").as("a_lo")), Seq("id_a"))
      .join(dHashes.select(col("id").as("id_b"), col("d_hi").as("b_hi"),
        col("d_lo").as("b_lo")), Seq("id_b"))
      .withColumn("d_hamming",
        (bit_count(expr("a_hi ^ b_hi")) + bit_count(expr("a_lo ^ b_lo")))
          .cast("long"))
      .filter(col("d_hamming") <= 2)
      .select(col("id_a"), col("id_b"), col("hamming").as("a_hamming"),
        col("d_hamming"))
      .orderBy("id_a", "id_b")
  }
  val q196Sql: String =
    """WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS sw, 9 + doc_id % 5 AS sh
      |    FROM documents WHERE doc_id < 200),
      |apx AS (SELECT doc_id, (x.x * sw) // 8 AS sx, (y.y * sh) // 8 AS sy,
      |    y.y*8 + x.x AS i
      |  FROM d CROSS JOIN range(8) x(x) CROSS JOIN range(8) y(y)),
      |alm AS (SELECT doc_id, i,
      |    299*((sx*7 + sy) % 256) + 587*((sy*5) % 256)
      |      + 114*((sx + sy*3) % 256) AS luma
      |  FROM apx),
      |at AS (SELECT doc_id, sum(luma) AS total FROM alm GROUP BY doc_id),
      |abits AS (SELECT alm.doc_id, alm.i FROM alm JOIN at USING (doc_id)
      |  WHERE 64*alm.luma > at.total),
      |ahsh AS (SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN b.i >= 32
      |      THEN 1::BIGINT << (b.i - 32) ELSE 0 END), 0) AS BIGINT) AS hi,
      |    CAST(coalesce(sum(CASE WHEN b.i < 32
      |      THEN 1::BIGINT << b.i ELSE 0 END), 0) AS BIGINT) AS lo
      |  FROM d LEFT JOIN abits b ON b.doc_id = d.doc_id GROUP BY d.doc_id),
      |dpx AS (SELECT doc_id, x.x AS x, y.y AS y,
      |    (x.x * sw) // 9 AS sx, (y.y * sh) // 8 AS sy
      |  FROM d CROSS JOIN range(9) x(x) CROSS JOIN range(8) y(y)),
      |dlm AS (SELECT doc_id, x, y,
      |    299*((sx*7 + sy) % 256) + 587*((sy*5) % 256)
      |      + 114*((sx + sy*3) % 256) AS luma
      |  FROM dpx),
      |dbits AS (SELECT a.doc_id, a.y*8 + a.x AS i
      |  FROM dlm a JOIN dlm b ON a.doc_id = b.doc_id AND a.y = b.y
      |    AND b.x = a.x + 1
      |  WHERE a.x < 8 AND b.luma > a.luma),
      |dhsh AS (SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN b.i >= 32
      |      THEN 1::BIGINT << (b.i - 32) ELSE 0 END), 0) AS BIGINT) AS hi,
      |    CAST(coalesce(sum(CASE WHEN b.i < 32
      |      THEN 1::BIGINT << b.i ELSE 0 END), 0) AS BIGINT) AS lo
      |  FROM d LEFT JOIN dbits b ON b.doc_id = d.doc_id GROUP BY d.doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
      |    AS BIGINT) AS a_hamming,
      |  CAST(bit_count(xor(da.hi, db.hi)) + bit_count(xor(da.lo, db.lo))
      |    AS BIGINT) AS d_hamming
      |FROM ahsh a JOIN ahsh b ON a.doc_id < b.doc_id
      |  JOIN dhsh da ON da.doc_id = a.doc_id
      |  JOIN dhsh db ON db.doc_id = b.doc_id
      |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
      |  AND bit_count(xor(da.hi, db.hi)) + bit_count(xor(da.lo, db.lo)) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q197
  /** Pairwise Kolmogorov–Smirnov drift between sources' document-length
    * distributions ([[graft.operators.Stats.ksDrift]]) — the CONTINUOUS
    * drift test beside q185/q189's categorical ones, exact-integer
    * ECDF cross-multiplication (no division until the final ppm).
    */
  val q197: Q = (s, dir) =>
    graft.operators.Stats.ksDrift(Tables.documents(s, dir),
        col("source"), col("n_chars"))
      .orderBy("group_a", "group_b")
  val q197Sql: String =
    """WITH c AS (SELECT source AS g, n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |grid AS (SELECT v, g FROM (SELECT DISTINCT v FROM c)
      |  CROSS JOIN (SELECT DISTINCT g FROM c)),
      |e AS (SELECT grid.g, grid.v,
      |    sum(coalesce(c.c, 0)) OVER (PARTITION BY grid.g
      |      ORDER BY grid.v) AS cum
      |  FROM grid LEFT JOIN c ON c.g = grid.g AND c.v = grid.v),
      |t AS (SELECT g, sum(c) AS n FROM c GROUP BY g),
      |j AS (SELECT a.g AS group_a, b.g AS group_b,
      |    ta.n AS n_a, tb.n AS n_b,
      |    abs(a.cum * tb.n - b.cum * ta.n) AS d
      |  FROM e a JOIN e b ON a.v = b.v AND a.g < b.g
      |  JOIN t ta ON ta.g = a.g JOIN t tb ON tb.g = b.g)
      |SELECT group_a, group_b, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  CAST((1000000 * max(d)) // (n_a * n_b) AS BIGINT) AS d_ppm
      |FROM j GROUP BY group_a, group_b, n_a, n_b
      |ORDER BY group_a, group_b""".stripMargin

  def queries: Map[String, Q] = Map(
    "q181_cms_join_size" -> q181,
    "q182_sq8_recall" -> q182,
    "q183_time_weighted_avg" -> q183,
    "q184_kcore" -> q184,
    "q185_token_drift" -> q185,
    "q186_sq8_rerank" -> q186,
    "q187_rate_anomaly" -> q187,
    "q188_value_trend" -> q188,
    "q189_composition_residuals" -> q189,
    "q190_corpus_diff" -> q190,
    "q191_k_anonymity" -> q191,
    "q192_temporal_split" -> q192,
    "q193_label_noise" -> q193,
    "q194_cms_store" -> q194,
    "q195_linear_attribution" -> q195,
    "q196_perceptual_ensemble" -> q196,
    "q197_ks_drift" -> q197)

  def oracle: Map[String, String] = Map(
    "q181_cms_join_size" -> q181Sql,
    "q182_sq8_recall" -> q182Sql,
    "q183_time_weighted_avg" -> q183Sql,
    "q184_kcore" -> q184Sql,
    "q185_token_drift" -> q185Sql,
    "q186_sq8_rerank" -> q186Sql,
    "q187_rate_anomaly" -> q187Sql,
    "q188_value_trend" -> q188Sql,
    "q189_composition_residuals" -> q189Sql,
    "q190_corpus_diff" -> q190Sql,
    "q191_k_anonymity" -> q191Sql,
    "q192_temporal_split" -> q192Sql,
    "q193_label_noise" -> q193Sql,
    "q194_cms_store" -> q194Sql,
    "q195_linear_attribution" -> q195Sql,
    "q196_perceptual_ensemble" -> q196Sql,
    "q197_ks_drift" -> q197Sql)
}
