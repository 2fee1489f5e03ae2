package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Curate, EventOps, Stats, TextOps}

/** Round-10 wave 5: the monitoring/audit operators that close out the
  * drift, privacy, and capacity families — n-gram diversity
  * ([[q198]]), CUSUM change-point localization ([[q199]]), lag-1
  * autocorrelation ([[q200]]), l-diversity ([[q201]]), Benford
  * first-digit audit ([[q202]]), and the peak-concurrency sweep line
  * ([[q203]]). Determinism contract unchanged: exact integers
  * (cross-multiplied deviations, ppm reports via integral div) or one
  * final fixed-order double division rounded to 6dp, mirrored
  * verbatim in the oracle SQL.
  */
object Frontier2Queries {

  private type Q = (SparkSession, String) => DataFrame

  /** Shared day-bucketed per-type event counts: the input series for
    * the q199/q200 drift pair.
    */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_type"),
      datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
  private val dailyCountsSql: String =
    "SELECT event_type, date_diff('day', DATE '1970-01-01'," +
      " CAST(ts AS DATE)) AS day FROM events"

  // --------------------------------------------------------------- q198
  /** Distinct-n n-gram diversity per source ([[TextOps
    * .ngramDiversity]]): distinct-1/distinct-2 over word n-grams — the
    * boilerplate/template detector read next to q167's Zipf shape
    * before a source enters a training mix.
    */
  val q198: Q = (s, dir) =>
    TextOps.ngramDiversity(Tables.documents(s, dir), col("source"),
        col("text"), Seq(1, 2))
      .orderBy("g", "n")
  val q198Sql: String =
    """WITH w AS (SELECT source AS g,
      |    string_split_regex(lower(text), '\s+') AS w FROM documents),
      |g1 AS (SELECT g, unnest(w) AS ng FROM w),
      |g2 AS (SELECT g, w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] AS ng
      |  FROM w, UNNEST(range(1, greatest(len(w), 1))) AS t(i)),
      |u AS (SELECT g, 1 AS n, count(*) AS total_ngrams,
      |    count(DISTINCT ng) AS distinct_ngrams FROM g1 GROUP BY g
      |  UNION ALL
      |  SELECT g, 2 AS n, count(*) AS total_ngrams,
      |    count(DISTINCT ng) AS distinct_ngrams FROM g2 GROUP BY g)
      |SELECT g, CAST(n AS BIGINT) AS n,
      |  CAST(total_ngrams AS BIGINT) AS total_ngrams,
      |  CAST(distinct_ngrams AS BIGINT) AS distinct_ngrams,
      |  CAST((distinct_ngrams * 1000000) // total_ngrams AS BIGINT)
      |    AS distinct_ppm
      |FROM u ORDER BY g, n""".stripMargin

  // --------------------------------------------------------------- q199
  /** CUSUM change-point over daily event counts
    * ([[Stats.cusumChangePoint]]): per event type, WHERE the daily
    * rate's level shifted and by how much (ppm of the
    * cross-multiplied deviation envelope) — the localization sibling
    * of q187's "is today anomalous" z-score.
    */
  val q199: Q = (s, dir) =>
    Stats.cusumChangePoint(dailyCounts(s, dir).withColumn("one", lit(1L)),
        col("event_type"), col("day"), col("one"))
      .orderBy("g")
  val q199Sql: String =
    s"""WITH b AS (SELECT event_type AS g, day AS k, count(*) AS xb
       |  FROM ($dailyCountsSql) GROUP BY 1, 2),
       |c AS (SELECT g, k, xb,
       |    sum(xb) OVER (PARTITION BY g ORDER BY k) AS p,
       |    row_number() OVER (PARTITION BY g ORDER BY k) AS seq FROM b),
       |t AS (SELECT g, max(seq) AS n_buckets, sum(xb) AS total
       |  FROM c GROUP BY g),
       |d AS (SELECT c.g, t.n_buckets, t.total, c.k,
       |    abs(t.n_buckets * c.p - c.seq * t.total) AS d,
       |    row_number() OVER (PARTITION BY c.g
       |      ORDER BY abs(t.n_buckets * c.p - c.seq * t.total) DESC, c.k)
       |      AS rn
       |  FROM c JOIN t USING (g))
       |SELECT g, CAST(n_buckets AS BIGINT) AS n_buckets,
       |  CAST(total AS BIGINT) AS total, CAST(k AS BIGINT) AS change_bucket,
       |  CAST((1000000 * d) // (n_buckets * total) AS BIGINT) AS cusum_ppm
       |FROM d WHERE rn = 1 ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q200
  /** Lag-1 autocorrelation of the same daily series
    * ([[Stats.lagAutocorr]]): momentum vs mean-reversion per event
    * type — positive r₁ says shocks persist across days (burst-driven
    * traffic), negative says they self-correct; the drift family's
    * temporal-structure probe.
    */
  val q200: Q = (s, dir) =>
    Stats.lagAutocorr(dailyCounts(s, dir).withColumn("one", lit(1L)),
        col("event_type"), col("day"), col("one"))
      .orderBy("g")
  val q200Sql: String =
    s"""WITH b AS (SELECT event_type AS g, day AS k, count(*) AS xb
       |  FROM ($dailyCountsSql) GROUP BY 1, 2),
       |t AS (SELECT g, count(*) AS n_buckets, sum(xb) AS s FROM b GROUP BY g),
       |dv AS (SELECT b.g, t.n_buckets, b.k, t.n_buckets * b.xb - t.s AS dev
       |  FROM b JOIN t USING (g)),
       |lg AS (SELECT g, n_buckets, dev,
       |    lag(dev) OVER (PARTITION BY g ORDER BY k) AS dev_prev FROM dv),
       |agg AS (SELECT g, n_buckets, sum(dev * dev_prev) AS num,
       |    sum(dev * dev) AS den FROM lg GROUP BY 1, 2)
       |SELECT g, CAST(n_buckets AS BIGINT) AS n_buckets,
       |  CASE WHEN den = 0 THEN 0.0
       |    ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END
       |    AS ac1_6dp
       |FROM agg ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q201
  /** l-diversity audit ([[Curate.lDiversity]]) over (lang, source)
    * classes with the length-kilobucket as the sensitive attribute —
    * the homogeneity-attack check q191's k-anonymity cannot see: a
    * class is safe only if its members spread over ≥ l sensitive
    * values.
    */
  val q201: Q = (s, dir) =>
    Curate.lDiversity(
        Tables.documents(s, dir).select(col("lang"), col("source"),
          col("n_chars")),
        Seq(col("lang"), col("source")),
        expr("n_chars div 1000"), l = 3L)
      .orderBy("lang", "source")
  val q201Sql: String =
    """WITH bv AS (SELECT lang, source, n_chars // 1000 AS sv,
      |    count(*) AS c FROM documents GROUP BY 1, 2, 3)
      |SELECT lang, source, CAST(sum(c) AS BIGINT) AS n_members,
      |  CAST(count(*) AS BIGINT) AS n_distinct_sv,
      |  CAST((max(c) * 1000000) // sum(c) AS BIGINT) AS top_sv_ppm,
      |  CAST(CASE WHEN count(*) < 3 THEN 1 ELSE 0 END AS BIGINT) AS below_l
      |FROM bv GROUP BY 1, 2 ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------- q202
  /** Benford first-digit audit over event cent values
    * ([[Stats.benfordProfile]]): observed leading-digit counts per
    * event type against the hardcoded log₁₀(1+1/d) ppm expectations —
    * the fabricated-data / unit-mixup screen run over ingested numeric
    * feeds; dev_ppm is the per-digit deviation, exact integers end to
    * end.
    */
  val q202: Q = (s, dir) =>
    Stats.benfordProfile(
        Tables.events(s, dir)
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("vc")),
        col("event_type"), col("vc"))
      .orderBy("g", "digit")
  val q202Sql: String =
    """WITH v AS (SELECT event_type AS g,
      |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |p AS (SELECT g, v FROM v WHERE v > 0),
      |obs AS (SELECT g, CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT)
      |    AS digit, count(*) AS c FROM p GROUP BY 1, 2),
      |exp AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
      |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
      |    (9, 45757)) AS t(digit, exp_ppm)),
      |grid AS (SELECT g, digit, exp_ppm
      |  FROM (SELECT DISTINCT g FROM obs) CROSS JOIN exp),
      |j AS (SELECT grid.g, grid.digit, grid.exp_ppm,
      |    coalesce(obs.c, 0) AS n_obs
      |  FROM grid LEFT JOIN obs
      |    ON grid.g = obs.g AND grid.digit = obs.digit),
      |w AS (SELECT g, digit, exp_ppm, n_obs,
      |    sum(n_obs) OVER (PARTITION BY g) AS n FROM j)
      |SELECT g, CAST(digit AS BIGINT) AS digit, CAST(n_obs AS BIGINT)
      |    AS n_obs, CAST(exp_ppm AS BIGINT) AS exp_ppm,
      |  CAST(abs(1000000 * n_obs - n * exp_ppm) // n AS BIGINT) AS dev_ppm
      |FROM w ORDER BY g, digit""".stripMargin

  // --------------------------------------------------------------- q203
  /** Peak concurrency per event type ([[EventOps.peakConcurrency]]):
    * from half-open 30-minute activity windows, the maximum number
    * simultaneously open and the earliest µs instant reaching it — the
    * capacity-planning number (executor pools, rate limits, connection
    * counts) that totals and averages cannot produce.
    */
  val q203: Q = (s, dir) => {
    val iv = Tables.events(s, dir).select(col("event_type"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + 1800000000L).as("e"))
    EventOps.peakConcurrency(iv, "event_type", "s", "e")
      .orderBy("key")
  }
  val q203Sql: String =
    """WITH iv AS (SELECT event_type AS key, epoch_us(ts) AS s,
      |    epoch_us(ts) + 1800000000 AS e FROM events),
      |d AS (SELECT key, s AS ts, 1 AS dd FROM iv
      |  UNION ALL SELECT key, e AS ts, -1 AS dd FROM iv),
      |net AS (SELECT key, ts, sum(dd) AS net FROM d GROUP BY 1, 2),
      |c AS (SELECT key, ts,
      |    sum(net) OVER (PARTITION BY key ORDER BY ts) AS conc FROM net),
      |r AS (SELECT key, ts, conc,
      |    row_number() OVER (PARTITION BY key ORDER BY conc DESC, ts)
      |      AS rn FROM c),
      |n AS (SELECT key, count(*) AS n_intervals FROM iv GROUP BY 1)
      |SELECT r.key, CAST(n.n_intervals AS BIGINT) AS n_intervals,
      |  CAST(conc AS BIGINT) AS peak, CAST(ts AS BIGINT) AS peak_ts_us
      |FROM r JOIN n USING (key) WHERE rn = 1 ORDER BY key""".stripMargin

  // --------------------------------------------------------------- q204
  /** EXACT Jaccard similarity join via prefix filtering
    * ([[graft.operators.Dedup.prefixFilterPairs]] — AllPairs/PPJoin):
    * only each doc's rarest |s|−⌈t|s|⌉+1 shingles enter the candidate
    * join, losslessly — the exact-result alternative to q22's MinHash
    * LSH. The oracle computes ALL pairs with J ≥ t from the full
    * inverted index, so a hash match PROVES the prefix candidate set
    * missed nothing at this corpus.
    */
  val q204: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text")))
    val sh = graft.operators.Dedup.hashedShingleTable(
      corpus, "doc_id", "text", 3)
    graft.operators.Dedup.prefixFilterPairs(sh, 600000L)
      .orderBy("id_a", "id_b")
  }
  val q204Sql: String =
    """WITH corpus AS (SELECT doc_id AS id, text FROM documents
      |  UNION ALL SELECT doc_id+1000000 AS id, text || ' zq zq zq' AS text
      |  FROM documents WHERE doc_id%10=0),
      |words AS (SELECT id, string_split_regex(lower(text), '\s+') AS w
      |  FROM corpus),
      |sh AS (SELECT DISTINCT id, unnest(CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(range(len(w)-2),
      |    i -> array_to_string(w[i+1:i+3], ' ')))
      |  ELSE []::VARCHAR[] END) AS shingle FROM words),
      |shh AS (SELECT id, ('0x'||substr(md5(shingle),1,12))::BIGINT
      |  AS shingle FROM sh),
      |sz AS (SELECT id, count(*) AS sz FROM shh GROUP BY id),
      |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      |  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.id < b.id
      |  GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
      |    CAST((inter * 1000000) // (sa.sz + sb.sz - inter) AS BIGINT)
      |      AS jac_ppm
      |  FROM pairs JOIN sz sa ON sa.id = pairs.id_a
      |             JOIN sz sb ON sb.id = pairs.id_b)
      |SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
      |  CAST(sz_a AS BIGINT) AS sz_a, CAST(sz_b AS BIGINT) AS sz_b,
      |  jac_ppm
      |FROM j WHERE jac_ppm >= 600000 ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q232
  /** EXACT Jaccard DELTA join
    * ([[graft.operators.Dedup.prefixFilterPairsDelta]]): the
    * fresh batch (every 10th doc, suffix-perturbed) probes the standing
    * corpus through the one-sided prefix join — candidates fan out only
    * from the FRESH side's prefixes (fresh×corpus ∪ fresh×fresh, never
    * corpus×corpus), the 1 TB-arrival-vs-100 TB-corpus shape with
    * q104's LSH recall risk replaced by a losslessness guarantee. The
    * oracle is q204's ALL-pairs exact-Jaccard replay restricted to
    * fresh-involving pairs, so a hash match PROVES the one-sided
    * candidate join missed nothing.
    */
  val q232: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val fresh = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text"))
    val shC = graft.operators.Dedup.hashedShingleTable(d, "doc_id", "text", 3)
    val shF = graft.operators.Dedup.hashedShingleTable(
      fresh, "doc_id", "text", 3)
    graft.operators.Dedup.prefixFilterPairsDelta(shC, shF, 600000L)
      .orderBy("id_a", "id_b")
  }
  // fresh-membership in the oracle is mod 1e9: driver SFs keep ids
  // below 1e9, and the 10x scale tile shifts replica ids by exact
  // multiples of 1e9 — a plain `id >= 1e6` test misread replica
  // corpus ids as fresh there and counted corpus-side pairs the delta
  // operator rightly excludes (caught by the r14 sf1 oracle check)
  val q232Sql: String = {
    val tail = "FROM j WHERE jac_ppm >= 600000 ORDER BY id_a, id_b"
    require(q204Sql.contains(tail), "q232 oracle derives from q204's replay")
    q204Sql.replace(tail,
      "FROM j WHERE jac_ppm >= 600000" +
        " AND (id_a % 1000000000 >= 1000000 OR id_b % 1000000000 >= 1000000) ORDER BY id_a, id_b")
  }

  // --------------------------------------------------------------- q233
  /** q232 answered from the BUCKETED persisted prefix index
    * ([[graft.operators.Dedup.prefixStoreEnsure]] /
    * [[graft.operators.Dedup.prefixStoreProbeDelta]]): the standing
    * corpus' df table, prefix rows, and verify arrays are built once
    * behind a fingerprint gate (pathTag — the corpus is an immutable
    * parquet layout) and hive-bucketed by shingle/id hash; the arrival
    * probe statically prunes to its touched buckets and never
    * recomputes the corpus side. Oracle: q232's SQL verbatim — a hash
    * match proves the stored ranking (corpus-df order, not union-df)
    * loses no pairs. The same fresh batch, the same threshold, the
    * same output columns.
    */
  val q233: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val fresh = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text"))
    val store = graft.Tables.storeDir("prefix_store", dir)
    graft.operators.Dedup.prefixStoreEnsure(d, "doc_id", "text",
      shingleN = 3, thresholdPpm = 600000L, store,
      freshnessTag = Some(graft.operators.ContentGate.pathTag(
        s, s"$dir/documents.parquet")))
    graft.operators.Dedup
      .prefixStoreProbeDelta(fresh, "doc_id", "text", store)
      .orderBy("id_a", "id_b")
  }
  val q233Sql: String = q232Sql

  // --------------------------------------------------------------- q205
  /** HITS hubs and authorities ([[graft.operators.Graph.hits]]) over
    * the directed customer→supplier purchase graph — role-separated
    * centrality q80's PageRank cannot express: which customers
    * concentrate buying power over strong suppliers (hubs) vs which
    * suppliers are bought by strong customers (authorities). Two
    * L1-normalized integer rounds, oracle-unrolled.
    */
  val q205: Q = (s, dir) => {
    val edges = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
    // cached iterations: the result plan reads the final round's cached
    // raw frames, so releasing here would force an eager persist+count
    // round-trip per invocation (the round-11 +117% warm regression);
    // NOT releasing leaks the edge cache + round frames (the round-10
    // leak). hits defers the release instead: PendingRelease drains it
    // right after the bench/Verify/spec materializes.
    graft.operators.Graph.hits(edges, iters = 2, persist = true)
      .orderBy("kind", "node")
  }
  val q205Sql: String = {
    val sc = "1000000000000"
    def half(e: String, in: String, outR: String, out: String,
        from: String, to: String, scoreIn: String, scoreOut: String) =
      s"""${outR} AS (SELECT e.$to AS node, sum($in.$scoreIn) AS raw
         |  FROM e JOIN $in ON e.$from = $in.node GROUP BY 1),
         |${outR}t AS (SELECT sum(raw) AS tot FROM $outR),
         |$out AS (SELECT node, (raw * $sc) // tot AS $scoreOut
         |  FROM $outR CROSS JOIN ${outR}t)""".stripMargin
    s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS (SELECT DISTINCT src AS node, CAST($sc AS HUGEINT) AS h
       |  FROM e),
       |${half("e", "h0", "a1r", "a1", "src", "dst", "h", "a")},
       |${half("e", "a1", "h1r", "h1", "dst", "src", "a", "h")},
       |${half("e", "h1", "a2r", "a2", "src", "dst", "h", "a")},
       |${half("e", "a2", "h2r", "h2", "dst", "src", "a", "h")}
       |SELECT node, 'auth' AS kind, CAST(a AS BIGINT) AS score FROM a2
       |UNION ALL
       |SELECT node, 'hub' AS kind, CAST(h AS BIGINT) AS score FROM h2
       |ORDER BY kind, node""".stripMargin
  }

  // --------------------------------------------------------------- q206
  /** Blocking-quality audit ([[graft.operators.Linkage
    * .blockingAudit]]): reduction ratio and pairs completeness of
    * blocking customers on (mktsegment, nation) against a same-cents-
    * residue truth key — the two numbers read BEFORE running q67's
    * blocked linkage: how much candidate work the blocks save, and the
    * recall ceiling they impose. Purely combinatorial on group sizes;
    * no pair is materialized.
    */
  val q206: Q = (s, dir) =>
    graft.operators.Linkage.blockingAudit(Tables.customer(s, dir),
      concat_ws("|", col("c_mktsegment"), col("c_nationkey")),
      expr("cast(round(c_acctbal * 100) as bigint) % 1000"))
  val q206Sql: String =
    """WITH b AS (SELECT c_mktsegment || '|' ||
      |    CAST(c_nationkey AS VARCHAR) AS bk,
      |    CAST(round(c_acctbal * 100) AS BIGINT) % 1000 AS tk
      |  FROM customer),
      |blk AS (SELECT bk, count(*) AS c FROM b GROUP BY 1),
      |ba AS (SELECT count(*) AS n_blocks, sum(c) AS n_records,
      |  sum((c * (c - 1)) // 2) AS cand_pairs FROM blk),
      |tr AS (SELECT coalesce(sum((c * (c - 1)) // 2), 0) AS true_pairs
      |  FROM (SELECT count(*) AS c FROM b GROUP BY tk)),
      |ce AS (SELECT coalesce(sum((c * (c - 1)) // 2), 0) AS found_pairs
      |  FROM (SELECT count(*) AS c FROM b GROUP BY bk, tk))
      |SELECT CAST(n_records AS BIGINT) AS n_records,
      |  CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(cand_pairs AS BIGINT) AS cand_pairs,
      |  CAST((n_records * (n_records - 1)) // 2 AS BIGINT) AS total_pairs,
      |  CAST(CASE WHEN n_records < 2 THEN 0 ELSE
      |    (((n_records * (n_records - 1)) // 2 - cand_pairs) * 1000000)
      |      // ((n_records * (n_records - 1)) // 2) END AS BIGINT)
      |    AS reduction_ppm,
      |  CAST(true_pairs AS BIGINT) AS true_pairs,
      |  CAST(found_pairs AS BIGINT) AS found_pairs,
      |  CAST(CASE WHEN true_pairs = 0 THEN 1000000 ELSE
      |    (found_pairs * 1000000) // true_pairs END AS BIGINT)
      |    AS completeness_ppm
      |FROM ba CROSS JOIN tr CROSS JOIN ce""".stripMargin

  // --------------------------------------------------------------- q207
  /** Sorted-neighborhood linkage ([[graft.operators.Linkage
    * .sortedNeighborhoodPairs]]) over q67's corrupted part-name
    * mentions: candidates are pairs within 4 GLOBAL sort positions
    * (typo-robust where equi-key blocking is not), verified by edit
    * distance ≤ 3. Positions come from bucket-local row_numbers plus
    * broadcast bucket offsets — no partition-less window — and the
    * oracle's single global row_number() must agree exactly.
    */
  val q207: Q = (s, dir) => {
    val part = Tables.part(s, dir)
    val w1 = element_at(split(col("p_name"), " "), 1)
    val w2 = element_at(split(col("p_name"), " "), 2)
    val mentions = part.select(col("p_partkey").as("id"),
      concat(w1.substr(lit(1),
        length(w1) - (col("p_partkey") % 3).cast("int")),
        lit(" "), w2).as("name"))
    graft.operators.Linkage.sortedNeighborhoodPairs(mentions, "id",
        "name", k => substring(k, 1, 1), window = 4, maxDist = 3)
      .orderBy("id_a", "id_b")
  }
  val q207Sql: String =
    """WITH m AS (SELECT p_partkey AS id,
      |    substr(split_part(p_name, ' ', 1), 1,
      |      len(split_part(p_name, ' ', 1)) - CAST(p_partkey % 3 AS INT))
      |      || ' ' || split_part(p_name, ' ', 2) AS k FROM part),
      |pos AS (SELECT id, k, row_number() OVER (ORDER BY k, id) AS pos
      |  FROM m),
      |cand AS (SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a,
      |    b.k AS key_b, CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
      |  FROM pos a JOIN pos b ON b.pos - a.pos BETWEEN 1 AND 3)
      |SELECT id_a, id_b, key_a, key_b, dist FROM cand WHERE dist <= 3
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q208
  /** First-view→first-purchase latency quantiles per daily cohort
    * ([[EventOps.conversionLatency]]): exact lower-median and p90
    * seconds from one sort-and-offset selection — the time-to-convert
    * report next to q78's funnel counts and q79's retention grid. The
    * operator's local result is already in cohort order.
    */
  val q208: Q = (s, dir) =>
    EventOps.conversionLatency(Tables.events(s, dir), "user_id", "ts",
        "event_type", fromType = "view", toType = "purchase")
  val q208Sql: String =
    """WITH base AS (SELECT user_id AS u, epoch_us(ts) AS us,
      |    event_type AS et FROM events),
      |f AS (SELECT u, min(us) AS t0 FROM base WHERE et = 'view'
      |  GROUP BY u),
      |cv AS (SELECT base.u, min(us) AS t1, min(t0) AS t0
      |  FROM base JOIN f USING (u)
      |  WHERE et = 'purchase' AND us >= t0 GROUP BY base.u),
      |lat AS (SELECT t0 // 86400000000 AS g, (t1 - t0) // 1000000 AS v
      |  FROM cv),
      |c AS (SELECT g, v, count(*) AS c FROM lat GROUP BY 1, 2),
      |w AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n FROM c),
      |med AS (SELECT g, min(v) AS median_s, max(n) AS n FROM w
      |  WHERE cum >= (n + 1) // 2 GROUP BY g),
      |p90 AS (SELECT g, min(v) AS p90_s FROM w
      |  WHERE cum >= (n * 9 + 9) // 10 GROUP BY g)
      |SELECT med.g AS g, CAST(med.n AS BIGINT) AS n_conv,
      |  CAST(median_s AS BIGINT) AS median_s, CAST(p90_s AS BIGINT) AS p90_s
      |FROM med JOIN p90 USING (g) ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q209
  /** Event-type path trigrams ([[EventOps.pathTrigrams]]): every 3
    * consecutive event types per user in (ts, event_id) order, counted
    * corpus-wide — the navigation census that q82's pairwise Markov
    * transitions cannot see (second-order structure).
    */
  val q209: Q = (s, dir) =>
    EventOps.pathTrigrams(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type")
      .orderBy("step1", "step2", "step3")
  val q209Sql: String =
    """WITH b AS (SELECT user_id AS u, epoch_us(ts) AS us,
      |    event_id AS eid, event_type AS step1 FROM events),
      |l AS (SELECT u, step1,
      |    lead(step1, 1) OVER (PARTITION BY u ORDER BY us, eid) AS step2,
      |    lead(step1, 2) OVER (PARTITION BY u ORDER BY us, eid) AS step3
      |  FROM b)
      |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n FROM l
      |WHERE step3 IS NOT NULL GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------- q210
  /** Data-skipping audit ([[graft.operators.Layout.skippingAudit]]):
    * min/max zone-map pruning effectiveness of a price-range-clustered
    * lineitem layout vs an orderkey-hash layout, probed with 64 part
    * retail prices — the files-touched-per-point-query number that
    * justifies (or refutes) a q70-style clustering rewrite before
    * anyone pays for it.
    */
  val q210: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("k"),
        col("l_orderkey"))
    val probes = Tables.part(s, dir).filter(col("p_partkey") <= 64)
      .select(round(col("p_retailprice") * 100).cast("long").as("p"))
    val range = graft.operators.Layout.skippingAudit(li,
      expr("k div 10000"), col("k"), probes, col("p"), "range")
    val hash = graft.operators.Layout.skippingAudit(li,
      col("l_orderkey") % 32, col("k"), probes, col("p"), "hash")
    range.unionByName(hash).orderBy("layout")
  }
  val q210Sql: String =
    """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
      |    AS k, l_orderkey FROM lineitem),
      |pr AS (SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS p
      |  FROM part WHERE p_partkey <= 64),
      |za AS (SELECT k // 10000 AS f, min(k) AS mn, max(k) AS mx
      |  FROM li GROUP BY 1),
      |zb AS (SELECT l_orderkey % 32 AS f, min(k) AS mn, max(k) AS mx
      |  FROM li GROUP BY 1),
      |u AS (
      |  SELECT 'range' AS layout, (SELECT count(*) FROM za) AS n_files,
      |    (SELECT count(*) FROM pr) AS n_probes,
      |    (SELECT count(*) FROM pr JOIN za ON p BETWEEN mn AND mx)
      |      AS files_touched
      |  UNION ALL
      |  SELECT 'hash' AS layout, (SELECT count(*) FROM zb) AS n_files,
      |    (SELECT count(*) FROM pr) AS n_probes,
      |    (SELECT count(*) FROM pr JOIN zb ON p BETWEEN mn AND mx)
      |      AS files_touched)
      |SELECT layout, CAST(n_files AS BIGINT) AS n_files,
      |  CAST(n_probes AS BIGINT) AS n_probes,
      |  CAST(files_touched AS BIGINT) AS files_touched,
      |  CAST(CASE WHEN n_files * n_probes = 0 THEN 0 ELSE
      |    (files_touched * 1000000) // (n_files * n_probes) END AS BIGINT)
      |    AS touch_ppm
      |FROM u ORDER BY layout""".stripMargin

  // --------------------------------------------------------------- q211
  /** Functional-dependency audit ([[Stats.fdAudit]]) over orders: the
    * primary key holds by construction, the two plausible-but-false
    * dependencies report their exact violation mass — the
    * normalization/key-inference profiler beside q86's per-column
    * stats.
    */
  val q211: Q = (s, dir) =>
    Stats.fdAudit(Tables.orders(s, dir), Seq(
        ("o_orderkey->o_custkey", col("o_orderkey"), col("o_custkey")),
        ("o_custkey->o_orderpriority", col("o_custkey"),
          col("o_orderpriority")),
        ("o_orderstatus->o_orderpriority", col("o_orderstatus"),
          col("o_orderpriority"))))
      .orderBy("fd")
  val q211Sql: String = {
    def one(name: String, l: String, r: String) =
      s"""SELECT '$name' AS fd, CAST(count(*) AS BIGINT) AS n_lhs,
         |  CAST(coalesce(sum(CASE WHEN d > 1 THEN 1 END), 0) AS BIGINT)
         |    AS n_violating,
         |  CAST(coalesce(sum(d - 1), 0) AS BIGINT) AS extra_rhs,
         |  CAST(CASE WHEN coalesce(sum(CASE WHEN d > 1 THEN 1 END), 0) = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS holds
         |FROM (SELECT $l AS lv, count(DISTINCT $r) AS d FROM orders
         |  GROUP BY 1)""".stripMargin
    s"""${one("o_orderkey->o_custkey", "o_orderkey", "o_custkey")}
       |UNION ALL
       |${one("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority")}
       |UNION ALL
       |${one("o_orderstatus->o_orderpriority", "o_orderstatus",
          "o_orderpriority")}
       |ORDER BY fd""".stripMargin
  }

  // --------------------------------------------------------------- q212
  /** Kendall concordance per market segment ([[Stats.kendallTau]]):
    * over every customer's strictly date-ordered order pairs, do
    * totals rise with time — the non-parametric complement of q188's
    * OLS slope, aggregated from per-customer bounded pair counts
    * (orders per customer is the a-priori bound).
    */
  val q212: Q = (s, dir) => {
    val o = Tables.orders(s, dir).join(
      Tables.customer(s, dir).select("c_custkey", "c_mktsegment"),
      col("o_custkey") === col("c_custkey"))
    Stats.kendallTau(o, col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long"),
        col("c_mktsegment"))
      .orderBy("g")
  }
  val q212Sql: String =
    """WITH o AS (SELECT o_custkey AS k, c_mktsegment AS g,
      |    o_orderdate AS od,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |p AS (SELECT a.g, a.v AS va, b.v AS vb
      |  FROM o a JOIN o b ON a.k = b.k AND a.od < b.od)
      |SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(sum(CASE WHEN vb > va THEN 1 END), 0) AS BIGINT)
      |    AS conc,
      |  CAST(coalesce(sum(CASE WHEN vb < va THEN 1 END), 0) AS BIGINT)
      |    AS disc,
      |  CAST(coalesce(sum(CASE WHEN vb = va THEN 1 END), 0) AS BIGINT)
      |    AS ties,
      |  CASE WHEN count(*) = 0 THEN 0.0 ELSE
      |    round((CAST(coalesce(sum(CASE WHEN vb > va THEN 1 END), 0)
      |        AS DOUBLE)
      |      - CAST(coalesce(sum(CASE WHEN vb < va THEN 1 END), 0)
      |        AS DOUBLE)) / CAST(count(*) AS DOUBLE), 6) END AS tau_6dp
      |FROM p GROUP BY g ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q213
  /** Fano-factor burstiness ([[Stats.fanoFactor]]) of the daily event
    * series per type: dispersion index > 1 flags clumped arrivals
    * (retry storms, batch sweeps) that a mean-rate capacity plan would
    * underprovision — the SHAPE probe beside q199's change-point and
    * q200's momentum.
    */
  val q213: Q = (s, dir) =>
    Stats.fanoFactor(dailyCounts(s, dir).withColumn("one", lit(1L)),
        col("event_type"), col("day"), col("one"))
      .orderBy("g")
  val q213Sql: String =
    s"""WITH b AS (SELECT event_type AS g, day AS k, count(*) AS xb
       |  FROM ($dailyCountsSql) GROUP BY 1, 2),
       |t AS (SELECT g, count(*) AS n_buckets, sum(xb) AS total,
       |  sum(xb * xb) AS q FROM b GROUP BY g)
       |SELECT g, CAST(n_buckets AS BIGINT) AS n_buckets,
       |  CAST(total AS BIGINT) AS total,
       |  CASE WHEN total = 0 THEN 0.0 ELSE
       |    round(CAST(n_buckets * q - total * total AS DOUBLE)
       |      / CAST(n_buckets * total AS DOUBLE), 6) END AS fano_6dp
       |FROM t ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q214
  /** Pareto coverage ([[Stats.paretoCoverage]]): the minimal number of
    * users carrying 50% and 90% of each event type's volume — exact
    * integer concentration ("3 users are 90% of errors") for load
    * budgeting and corpus curation, with no percentage ever
    * materialized.
    */
  val q214: Q = (s, dir) =>
    Stats.paretoCoverage(Tables.events(s, dir), col("event_type"),
        col("user_id"))
      .orderBy("g")
  val q214Sql: String =
    """WITH c AS (SELECT event_type AS g, user_id AS u, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT g, c,
      |    row_number() OVER (PARTITION BY g ORDER BY c DESC, u) AS r,
      |    sum(c) OVER (PARTITION BY g ORDER BY c DESC, u
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY g) AS tot FROM c)
      |SELECT g, CAST(count(*) AS BIGINT) AS n_units,
      |  CAST(max(tot) AS BIGINT) AS n_events,
      |  CAST(min(CASE WHEN cum * 2 >= tot THEN r END) AS BIGINT)
      |    AS units_50,
      |  CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN r END) AS BIGINT)
      |    AS units_90
      |FROM w GROUP BY g ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q215
  /** Salting plan ([[graft.operators.Skew.saltPlan]]): every document
    * source whose row count exceeds a 10-rows-per-task budget with
    * the minimal split factor that restores it — the advisor output
    * that q29's salted aggregation and AQE skew thresholds consume,
    * per-key instead of one global fan-out.
    */
  val q215: Q = (s, dir) =>
    graft.operators.Skew.saltPlan(Tables.documents(s, dir),
        col("source"), targetPerSalt = 10L)
      .orderBy("key")
  val q215Sql: String =
    """SELECT source AS key, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST((count(*) + 9) // 10 AS BIGINT) AS salt_factor
      |FROM documents GROUP BY 1 HAVING count(*) > 10
      |ORDER BY key""".stripMargin

  // --------------------------------------------------------------- q216
  /** Exact join-explosion audit ([[Stats.joinExplosionAudit]]) of the
    * lineitem partkey self-join — the post-hoc truth of q181's CMS
    * estimate: exact output cardinality share of the top-10 keys, i.e.
    * the salting worklist when a join output surprises.
    */
  val q216: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    Stats.joinExplosionAudit(li, col("l_partkey"), li, col("l_partkey"),
      topK = 10)
  }
  val q216Sql: String =
    """WITH ca AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem
      |  GROUP BY 1),
      |j AS (SELECT k, c AS n_a, c AS n_b, c * c AS pairs FROM ca),
      |t AS (SELECT sum(pairs) AS total FROM j),
      |r AS (SELECT k, n_a, n_b, pairs,
      |    row_number() OVER (ORDER BY pairs DESC, k) AS rn FROM j)
      |SELECT k, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(pairs AS BIGINT) AS pairs,
      |  CAST((pairs * 1000000) // total AS BIGINT) AS share_ppm
      |FROM r CROSS JOIN t WHERE rn <= 10
      |ORDER BY pairs DESC, k""".stripMargin

  // --------------------------------------------------------------- q217
  /** PII census ([[TextOps.piiCensus]]) per source over a corpus with
    * synthetic contact lines on every 7th document — the governance
    * inventory (emails / dashed phones / SSN shapes, match and
    * document counts) read before q64's redaction pass. Patterns are
    * Java-regex/RE2-portable character classes, so the oracle replays
    * them verbatim.
    */
  val q217: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "source", "text")
    val corpus = d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-123-4567 ssn 123-45-6789"))
          .as("text")))
    TextOps.piiCensus(corpus, col("source"), col("text"), Seq(
        ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"),
        ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}"),
        ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}")))
      .orderBy("g", "pii_type")
  }
  val q217Sql: String = {
    val corpus =
      """SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id + 2000000 AS doc_id, source,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or 555-123-4567 ssn 123-45-6789' AS text
        |  FROM documents WHERE doc_id % 7 = 0""".stripMargin
    def one(name: String, pat: String) =
      s"""SELECT source AS g, '$name' AS pii_type,
         |  CAST(coalesce(sum(len(regexp_extract_all(text, '$pat'))), 0)
         |    AS BIGINT) AS n_matches,
         |  CAST(coalesce(sum(CASE WHEN
         |    len(regexp_extract_all(text, '$pat')) > 0 THEN 1 END), 0)
         |    AS BIGINT) AS n_docs_hit
         |FROM corpus GROUP BY 1""".stripMargin
    s"""WITH corpus AS ($corpus)
       |${one("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}")}
       |UNION ALL
       |${one("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}")}
       |UNION ALL
       |${one("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}")}
       |ORDER BY g, pii_type""".stripMargin
  }

  // --------------------------------------------------------------- q218
  /** Number-masked template clusters ([[TextOps.templateClusters]])
    * over a corpus where every 9th document gains two numbered
    * variants: the structured-boilerplate detector — variants that
    * differ only in digit runs land in one template with
    * n_variants = 2 — beside q87's sentence-frequency boilerplate.
    */
  val q218: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val nine = d.filter(col("doc_id") % 9 === 0)
    val corpus = d
      .unionByName(nine.select((col("doc_id") + 3000000L).as("doc_id"),
        concat(col("text"), lit(" order 123 total 45")).as("text")))
      .unionByName(nine.select((col("doc_id") + 4000000L).as("doc_id"),
        concat(col("text"), lit(" order 987 total 6")).as("text")))
    TextOps.templateClusters(corpus, "doc_id", "text", minDocs = 2L)
      .orderBy("template_h")
  }
  val q218Sql: String =
    """WITH corpus AS (SELECT doc_id AS id, text FROM documents
      |  UNION ALL SELECT doc_id + 3000000 AS id,
      |    text || ' order 123 total 45' AS text
      |  FROM documents WHERE doc_id % 9 = 0
      |  UNION ALL SELECT doc_id + 4000000 AS id,
      |    text || ' order 987 total 6' AS text
      |  FROM documents WHERE doc_id % 9 = 0),
      |h AS (SELECT id,
      |    ('0x' || substr(md5(regexp_replace(lower(text), '[0-9]+', '#',
      |      'g')), 1, 12))::BIGINT AS template_h,
      |    ('0x' || substr(md5(text), 1, 12))::BIGINT AS text_h
      |  FROM corpus)
      |SELECT template_h, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT text_h) AS BIGINT) AS n_variants,
      |  CAST(min(id) AS BIGINT) AS exemplar_id
      |FROM h GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY template_h""".stripMargin

  // --------------------------------------------------------------- q219
  /** Persisted zone-map store ([[graft.operators.Layout.zoneStore]]):
    * q210's range-layout audit served from a ContentGate-fingerprinted
    * on-disk zone map — built once per corpus fingerprint, probed many
    * times without rescanning the table (the store-family pattern of
    * q171/q194 applied to data layout). Oracle = q210's range half
    * verbatim, so the stored map must equal the one-shot scan
    * bit-for-bit.
    */
  val q219: Q = (s, dir) => {
    val store = graft.Tables.storeDir("zone_store", dir)
    val li = Tables.lineitem(s, dir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("k"),
        col("l_orderkey"))
    val zones = graft.operators.Layout.zoneStore(li, expr("k div 10000"),
      col("k"), store,
      graft.operators.ContentGate.tag(li, col("l_orderkey"), col("k"),
        lit(true)) + ":cents10000:v1")
    val probes = Tables.part(s, dir).filter(col("p_partkey") <= 64)
      .select(round(col("p_retailprice") * 100).cast("long").as("p"))
    graft.operators.Layout.skippingAuditFromZones(zones, probes,
      col("p"), "range")
  }
  val q219Sql: String =
    """WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
      |    AS k FROM lineitem),
      |pr AS (SELECT CAST(round(p_retailprice * 100) AS BIGINT) AS p
      |  FROM part WHERE p_partkey <= 64),
      |za AS (SELECT k // 10000 AS f, min(k) AS mn, max(k) AS mx
      |  FROM li GROUP BY 1)
      |SELECT 'range' AS layout,
      |  CAST((SELECT count(*) FROM za) AS BIGINT) AS n_files,
      |  CAST((SELECT count(*) FROM pr) AS BIGINT) AS n_probes,
      |  CAST((SELECT count(*) FROM pr JOIN za ON p BETWEEN mn AND mx)
      |    AS BIGINT) AS files_touched,
      |  CAST(CASE WHEN (SELECT count(*) FROM za)
      |      * (SELECT count(*) FROM pr) = 0 THEN 0 ELSE
      |    ((SELECT count(*) FROM pr JOIN za ON p BETWEEN mn AND mx)
      |      * 1000000)
      |      // ((SELECT count(*) FROM za) * (SELECT count(*) FROM pr))
      |    END AS BIGINT) AS touch_ppm""".stripMargin

  // --------------------------------------------------------------- q220
  /** Readability profile per source ([[TextOps.readability]]): mean
    * integer Flesch-×1000 from whitespace words, sentence-mark runs,
    * and the vowel-group syllable proxy — the classic surface-quality
    * gate beside q101's Gopher rules; group means are the one 6dp
    * double division (per-doc scores can go negative, where integral
    * div semantics diverge between engines).
    */
  val q220: Q = (s, dir) =>
    TextOps.readability(Tables.documents(s, dir), col("source"),
        col("text"))
      .orderBy("g")
  val q220Sql: String =
    """WITH d AS (SELECT source AS g,
      |    len(string_split_regex(lower(text), '\s+')) AS w,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
      |    greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
      |      AS v
      |  FROM documents),
      |f AS (SELECT g, w,
      |    206835 - (1015 * w) // s - (84600 * v) // w AS fm
      |  FROM d WHERE w > 0)
      |SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(w) // count(*) AS BIGINT) AS avg_words,
      |  round(CAST(sum(fm) AS DOUBLE) / count(*), 6)
      |    AS avg_flesch_milli_6dp
      |FROM f GROUP BY g ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q221
  /** Matryoshka prefix-dimension recall
    * ([[graft.operators.Similarity.matryoshkaRecall]]): how much of
    * the exact 64-dim top-5 survives ranking on the first 32
    * coordinates — the audit read before halving an MRL embedding
    * fleet's storage; the q182 recall harness with the approximation
    * axis moved from precision to dimensionality.
    */
  val q221: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    graft.operators.Similarity.matryoshkaRecall(e,
        e.filter(col("vec_id") < 10), "vec_id", "embedding",
        dims = 32, k = 5)
      .orderBy("query_id")
  }
  val q221Sql: String =
    """WITH qv AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |pv AS (SELECT vec_id, q[1:32] AS q FROM qv),
      |rf AS (SELECT * FROM (SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
      |      round(list_dot_product(q.q, b.q) /
      |        (sqrt(list_dot_product(q.q, q.q))
      |          * sqrt(list_dot_product(b.q, b.q))), 6) AS cos
      |    FROM qv b CROSS JOIN qv q
      |    WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id))
      |  WHERE rank <= 5),
      |rp AS (SELECT * FROM (SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
      |      round(list_dot_product(q.q, b.q) /
      |        (sqrt(list_dot_product(q.q, q.q))
      |          * sqrt(list_dot_product(b.q, b.q))), 6) AS cos
      |    FROM pv b CROSS JOIN pv q
      |    WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id))
      |  WHERE rank <= 5)
      |SELECT rp.query_id, CAST(count(rf.neighbor_id) AS BIGINT) AS n_hit,
      |  CAST((100 * count(rf.neighbor_id)) // 5 AS BIGINT) AS recall_pct
      |FROM rp LEFT JOIN rf ON rp.query_id = rf.query_id
      |  AND rp.neighbor_id = rf.neighbor_id
      |GROUP BY rp.query_id ORDER BY rp.query_id""".stripMargin

  // --------------------------------------------------------------- q222
  /** Event-time lateness profile ([[EventOps.latenessProfile]]):
    * late-share ppm and exact median/p99/max lateness seconds behind
    * the running event-time high-water mark in event_id arrival order
    * — the number a `withWatermark` delay is chosen FROM (shorter than
    * p99 drops the tail, longer holds state for nothing). The
    * operator's local result is already in group order.
    */
  val q222: Q = (s, dir) =>
    EventOps.latenessProfile(Tables.events(s, dir), "event_type", "ts",
        "event_id")
  val q222Sql: String =
    """WITH b AS (SELECT event_type AS g, event_id AS aid,
      |    epoch_us(ts) AS us FROM events),
      |l AS (SELECT g, (max(us) OVER (PARTITION BY g ORDER BY aid
      |    ROWS UNBOUNDED PRECEDING) - us) // 1000000 AS v FROM b),
      |c AS (SELECT g, v, count(*) AS c FROM l GROUP BY 1, 2),
      |w AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n FROM c),
      |med AS (SELECT g, min(v) AS median_s FROM w
      |  WHERE cum >= (n + 1) // 2 GROUP BY g),
      |p99 AS (SELECT g, min(v) AS p99_s FROM w
      |  WHERE cum >= (n * 99 + 99) // 100 GROUP BY g),
      |a AS (SELECT g, sum(c) AS n_events,
      |    coalesce(sum(CASE WHEN v > 0 THEN c END), 0) AS n_late,
      |    max(v) AS max_s FROM c GROUP BY g)
      |SELECT a.g AS g, CAST(n_events AS BIGINT) AS n_events,
      |  CAST((n_late * 1000000) // n_events AS BIGINT) AS late_ppm,
      |  CAST(median_s AS BIGINT) AS median_s,
      |  CAST(p99_s AS BIGINT) AS p99_s, CAST(max_s AS BIGINT) AS max_s
      |FROM a JOIN med USING (g) JOIN p99 USING (g)
      |ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q223
  /** Gini concentration ([[Stats.giniConcentration]]) of per-user
    * event mass per type — q214's Pareto counts as one comparable
    * number per group; exact integer numerator, one 6dp division.
    */
  val q223: Q = (s, dir) =>
    Stats.giniConcentration(Tables.events(s, dir), col("event_type"),
        col("user_id"))
      .orderBy("g")
  val q223Sql: String =
    """WITH c AS (SELECT event_type AS g, user_id AS u, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT g, c,
      |    row_number() OVER (PARTITION BY g ORDER BY c, u) AS r FROM c),
      |a AS (SELECT g, count(*) AS n_units, sum(c) AS n_events,
      |    sum(2 * r * c) AS rc FROM r GROUP BY g)
      |SELECT g, CAST(n_units AS BIGINT) AS n_units,
      |  CAST(n_events AS BIGINT) AS n_events,
      |  round(CAST(rc - (n_units + 1) * n_events AS DOUBLE)
      |    / CAST(n_units * n_events AS DOUBLE), 6) AS gini_6dp
      |FROM a ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q224
  /** Hour-of-day seasonality ([[EventOps.seasonalityProfile]]): the
    * 24-hour traffic-share grid per event type (zero hours explicit) —
    * the diurnal baseline q187's anomaly z-scores and q199's
    * change-points are read against.
    */
  val q224: Q = (s, dir) =>
    EventOps.seasonalityProfile(Tables.events(s, dir), "event_type",
        "ts")
      .orderBy("g", "hour")
  val q224Sql: String =
    """WITH obs AS (SELECT event_type AS g, CAST(hour(ts) AS BIGINT)
      |    AS hour, count(*) AS c FROM events GROUP BY 1, 2),
      |grid AS (SELECT g, h.hour
      |  FROM (SELECT DISTINCT g FROM obs)
      |  CROSS JOIN (SELECT unnest(range(24)) AS hour) h),
      |j AS (SELECT grid.g, grid.hour, coalesce(obs.c, 0) AS n
      |  FROM grid LEFT JOIN obs
      |    ON grid.g = obs.g AND grid.hour = obs.hour),
      |w AS (SELECT g, hour, n, sum(n) OVER (PARTITION BY g) AS tot
      |  FROM j)
      |SELECT g, CAST(hour AS BIGINT) AS hour, CAST(n AS BIGINT) AS n,
      |  CAST((n * 1000000) // tot AS BIGINT) AS share_ppm
      |FROM w ORDER BY g, hour""".stripMargin

  // --------------------------------------------------------------- q225
  /** Cohort value curve ([[EventOps.cohortValueCurve]]): cents booked
    * per (first-event-week cohort × week of age) with the running
    * cumulative — q79's retention grid with money on it, the LTV
    * curve a payback model reads. Exact integer weeks and cents.
    */
  val q225: Q = (s, dir) =>
    EventOps.cohortValueCurve(Tables.events(s, dir), "user_id", "ts",
        round(col("value") * 100))
      .orderBy("cohort_week", "age_week")
  val q225Sql: String =
    """WITH b AS (SELECT user_id AS u, epoch_us(ts) // 604800000000 AS w,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |f AS (SELECT u, min(w) AS w0 FROM b GROUP BY u),
      |cells AS (SELECT f.w0 AS cohort_week, b.w - f.w0 AS age_week,
      |    count(DISTINCT b.u) AS n_users, sum(b.vc) AS value_c
      |  FROM b JOIN f ON b.u = f.u GROUP BY 1, 2)
      |SELECT cohort_week, age_week, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(value_c AS BIGINT) AS value_c,
      |  CAST(sum(value_c) OVER (PARTITION BY cohort_week
      |    ORDER BY age_week ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cum_value_c
      |FROM cells ORDER BY cohort_week, age_week""".stripMargin

  // --------------------------------------------------------------- q226
  /** Trimmed mean ([[Stats.trimmedMean]]): per-returnflag mean item
    * cents with 5% trimmed from each tail — the whale-robust average
    * completing q88's median/MAD family; both boundaries from one
    * sort-and-offset selection, value-based trimming, one 6dp division.
    * The operator's local result is already in group order.
    */
  val q226: Q = (s, dir) =>
    Stats.trimmedMean(Tables.lineitem(s, dir), col("l_returnflag"),
        round(col("l_extendedprice") * 100), alphaPct = 5)
  val q226Sql: String =
    """WITH c AS (SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |    count(*) AS c FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n FROM c),
      |lo AS (SELECT g, min(v) AS lo FROM w
      |  WHERE cum >= (n * 5 + 99) // 100 GROUP BY g),
      |hi AS (SELECT g, min(v) AS hi FROM w
      |  WHERE cum >= (n * 95 + 99) // 100 GROUP BY g),
      |a AS (SELECT c.g, lo.lo, hi.hi, sum(c.c) AS n,
      |    coalesce(sum(CASE WHEN c.v BETWEEN lo.lo AND hi.hi
      |      THEN c.c END), 0) AS n_kept,
      |    coalesce(sum(CASE WHEN c.v BETWEEN lo.lo AND hi.hi
      |      THEN c.v * c.c END), 0) AS ks
      |  FROM c JOIN lo ON c.g = lo.g JOIN hi ON c.g = hi.g
      |  GROUP BY 1, 2, 3)
      |SELECT g, CAST(n AS BIGINT) AS n, CAST(lo AS BIGINT) AS lo,
      |  CAST(hi AS BIGINT) AS hi, CAST(n_kept AS BIGINT) AS n_kept,
      |  CASE WHEN n_kept = 0 THEN 0.0 ELSE
      |    round(CAST(ks AS DOUBLE) / CAST(n_kept AS DOUBLE), 6) END
      |    AS trimmed_mean_6dp
      |FROM a ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q227
  /** Instrumentation double-fire audit ([[EventOps.doubleFireAudit]]):
    * events within an hour of the same user's previous same-type event
    * — the duplicate-burst signature exact-id dedup cannot see, which
    * silently inflates every downstream count.
    */
  val q227: Q = (s, dir) =>
    EventOps.doubleFireAudit(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id", maxGapUs = 3600000000L)
      .orderBy("g")
  val q227Sql: String =
    """WITH b AS (SELECT user_id AS u, event_type AS g, epoch_us(ts)
      |    AS us, event_id AS eid FROM events),
      |l AS (SELECT g, us - lag(us) OVER (PARTITION BY u, g
      |    ORDER BY us, eid) AS gap FROM b)
      |SELECT g, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(coalesce(sum(CASE WHEN gap <= 3600000000 THEN 1 END), 0)
      |    AS BIGINT) AS n_bursts,
      |  CAST((coalesce(sum(CASE WHEN gap <= 3600000000 THEN 1 END), 0)
      |    * 1000000) // count(*) AS BIGINT) AS burst_ppm
      |FROM l GROUP BY g ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q228
  /** Drift dashboard — the monitoring-side composition entry (q179's
    * role for curation): FIVE operator families over the same event
    * corpus in ONE plan — CUSUM change-point, lateness profile (one
    * sort-and-offset selection, run when the plan is built), Pareto
    * coverage, the seasonality peak, and the double-fire audit —
    * melted to (g, metric, v) long format so the oracle hash pins
    * every family's output at once. Exercises exactly the cross-family
    * cache/persist interactions a production dashboard run hits.
    */
  val q228: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    // melt via ONE explode per stage — a per-metric union of selects
    // would duplicate each stage's whole aggregation subtree once per
    // metric (measured 5.4 s vs 4.4 s warm at sf0.1)
    def melt(df: DataFrame, pairs: (String, String)*): DataFrame =
      df.select(col("g"), explode(array(pairs.map { case (m, c) =>
          struct(lit(m).as("metric"), col(c).cast("long").as("v"))
        }: _*)).as("mv"))
        .select(col("g"), col("mv.metric").as("metric"),
          col("mv.v").as("v"))
    val cus = Stats.cusumChangePoint(
      dailyCounts(s, dir).withColumn("one", lit(1L)),
      col("event_type"), col("day"), col("one"))
    val late = EventOps.latenessProfile(ev, "event_type", "ts",
      "event_id")
    val par = Stats.paretoCoverage(ev, col("event_type"), col("user_id"))
    val peak = EventOps.seasonalityProfile(ev, "event_type", "ts")
      .groupBy("g")
      .agg(max(struct(col("share_ppm"), (-col("hour")).as("nh"),
        col("hour"))).as("b"))
      .select(col("g"), col("b.hour").as("peak_hour"),
        col("b.share_ppm").as("peak_share_ppm"))
    val burst = EventOps.doubleFireAudit(ev, "user_id", "event_type",
      "ts", "event_id", maxGapUs = 3600000000L)
    melt(cus, "cusum_change_day" -> "change_bucket",
        "cusum_ppm" -> "cusum_ppm")
      .unionByName(melt(late, "late_ppm" -> "late_ppm",
        "late_p99_s" -> "p99_s"))
      .unionByName(melt(par, "users_50" -> "units_50",
        "users_90" -> "units_90"))
      .unionByName(melt(peak, "peak_hour" -> "peak_hour",
        "peak_share_ppm" -> "peak_share_ppm"))
      .unionByName(melt(burst, "burst_ppm" -> "burst_ppm"))
      .orderBy("g", "metric")
  }
  val q228Sql: String =
    s"""WITH cus AS (SELECT * FROM ($q199Sql)),
       |late AS (SELECT * FROM ($q222Sql)),
       |par AS (SELECT * FROM ($q214Sql)),
       |seas AS (SELECT * FROM ($q224Sql)),
       |pk AS (SELECT g, hour AS peak_hour, share_ppm AS peak_share_ppm
       |  FROM (SELECT g, hour, share_ppm, row_number() OVER
       |      (PARTITION BY g ORDER BY share_ppm DESC, hour) AS rn
       |    FROM seas) WHERE rn = 1),
       |burst AS (SELECT * FROM ($q227Sql))
       |SELECT g, metric, v FROM (
       |  SELECT g, 'cusum_change_day' AS metric, change_bucket AS v
       |    FROM cus
       |  UNION ALL SELECT g, 'cusum_ppm', cusum_ppm FROM cus
       |  UNION ALL SELECT g, 'late_ppm', late_ppm FROM late
       |  UNION ALL SELECT g, 'late_p99_s', p99_s FROM late
       |  UNION ALL SELECT g, 'users_50', units_50 FROM par
       |  UNION ALL SELECT g, 'users_90', units_90 FROM par
       |  UNION ALL SELECT g, 'peak_hour', peak_hour FROM pk
       |  UNION ALL SELECT g, 'peak_share_ppm', peak_share_ppm FROM pk
       |  UNION ALL SELECT g, 'burst_ppm', burst_ppm FROM burst)
       |ORDER BY g, metric""".stripMargin

  // --------------------------------------------------------------- q229
  /** Per-source unigram cross-entropy against the corpus mix in exact
    * floor-bits ([[graft.operators.TextOps.sourceCrossEntropy]]) — the
    * one-number-per-slice "which source doesn't belong" monitor read
    * next to q185's per-token χ² and q128's DSIR weights. Same integer
    * log idiom as q153 (p_micro floor + binary-string-length
    * floor-log2), so the oracle replays it bit-for-bit.
    */
  val q229: Q = (s, dir) =>
    graft.operators.TextOps.sourceCrossEntropy(
        Tables.documents(s, dir), col("source"), "text")
      .orderBy("g")
  val q229Sql: String =
    """WITH toks AS (SELECT source AS g,
      |    unnest(string_split_regex(lower(text), '\s+')) AS w
      |  FROM documents),
      |gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS cnt
      |  FROM toks WHERE w <> '' GROUP BY 1, 2),
      |pw AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS c FROM gw GROUP BY 1),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM pw),
      |b AS (SELECT w, 21 - length(format('{:b}',
      |    greatest((1000000 * c) // nn, 1))) AS bits
      |  FROM pw CROSS JOIN nn)
      |SELECT g, CAST(sum(cnt) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(cnt * bits) AS BIGINT) AS xent_bits,
      |  CAST((sum(cnt * bits) * 1000) // sum(cnt) AS BIGINT)
      |    AS avg_millibits
      |FROM gw JOIN b USING (w) GROUP BY g ORDER BY g""".stripMargin

  // --------------------------------------------------------------- q230
  /** Group-atomic k-fold assignment audit
    * ([[graft.operators.Curate.groupKFold]], k=5, groups = exact-dup
    * key lower(text), weight = n_chars): fold sizes plus the measured
    * max folds-per-group, which the hash48(group) mod k contract pins
    * at 1 — the CV-split leakage proof q115 provides for the
    * train/val/test case.
    */
  val q230: Q = (s, dir) =>
    graft.operators.Curate.groupKFold(Tables.documents(s, dir),
        lower(col("text")), col("n_chars"), k = 5)
      .orderBy("fold")
  val q230Sql: String =
    """WITH rws AS (SELECT lower(text) AS g, n_chars AS wt,
      |    ('0x'||substr(md5(lower(text)),1,12))::BIGINT % 5 AS fold
      |  FROM documents),
      |pg AS (SELECT g, count(DISTINCT fold) AS nf,
      |    CAST(min(fold) AS BIGINT) AS fold,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(wt) AS BIGINT) AS weight
      |  FROM rws GROUP BY g),
      |aud AS (SELECT CAST(max(nf) AS BIGINT) AS mf FROM pg)
      |SELECT fold, CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
      |  CAST(sum(weight) AS BIGINT) AS weight,
      |  mf AS max_folds_per_group
      |FROM pg CROSS JOIN aud GROUP BY fold, mf ORDER BY fold""".stripMargin

  // --------------------------------------------------------------- q231
  /** Per-fold composition audit ([[graft.operators.Curate
    * .kFoldComposition]], k=5, groups = exact-dup key, strata =
    * source): each fold's per-source share vs the corpus share and the
    * signed ppm deviation — the representativeness report read next to
    * q230's leakage proof before trusting a CV estimate.
    */
  val q231: Q = (s, dir) =>
    graft.operators.Curate.kFoldComposition(Tables.documents(s, dir),
        lower(col("text")), col("source"), k = 5)
      .orderBy("fold", "stratum")
  val q231Sql: String =
    """WITH rws AS (SELECT source AS stratum,
      |    ('0x'||substr(md5(lower(text)),1,12))::BIGINT % 5 AS fold
      |  FROM documents),
      |cells AS (SELECT fold, stratum, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM rws GROUP BY 1, 2),
      |ft AS (SELECT fold, CAST(sum(n_rows) AS BIGINT) AS ft
      |  FROM cells GROUP BY 1),
      |st AS (SELECT stratum, CAST(sum(n_rows) AS BIGINT) AS st
      |  FROM cells GROUP BY 1),
      |ct AS (SELECT CAST(sum(n_rows) AS BIGINT) AS ct FROM cells)
      |SELECT fold, stratum, n_rows,
      |  CAST((n_rows * 1000000) // ft AS BIGINT) AS share_ppm,
      |  CAST((st * 1000000) // ct AS BIGINT) AS corpus_ppm,
      |  CAST((n_rows * 1000000) // ft - (st * 1000000) // ct AS BIGINT)
      |    AS dev_ppm
      |FROM cells JOIN ft USING (fold) JOIN st USING (stratum) CROSS JOIN ct
      |ORDER BY fold, stratum""".stripMargin

  def queries: Map[String, Q] = Map(
    "q229_source_xent" -> q229,
    "q230_group_kfold" -> q230,
    "q231_kfold_composition" -> q231,
    "q228_drift_dashboard" -> q228,
    "q225_cohort_value_curve" -> q225,
    "q226_trimmed_mean" -> q226,
    "q227_double_fire_audit" -> q227,
    "q222_lateness_profile" -> q222,
    "q223_gini_concentration" -> q223,
    "q224_seasonality_profile" -> q224,
    "q220_readability" -> q220,
    "q221_matryoshka_recall" -> q221,
    "q219_zone_store" -> q219,
    "q216_join_explosion_audit" -> q216,
    "q217_pii_census" -> q217,
    "q218_template_clusters" -> q218,
    "q213_burstiness_fano" -> q213,
    "q214_pareto_coverage" -> q214,
    "q215_salt_plan" -> q215,
    "q210_skipping_audit" -> q210,
    "q211_fd_discovery" -> q211,
    "q212_kendall_concordance" -> q212,
    "q207_sorted_neighborhood" -> q207,
    "q208_conversion_latency" -> q208,
    "q209_path_trigrams" -> q209,
    "q204_prefix_filter_join" -> q204,
    "q232_prefix_delta_join" -> q232,
    "q233_prefix_store_delta" -> q233,
    "q205_hits" -> q205,
    "q206_blocking_audit" -> q206,
    "q198_ngram_diversity" -> q198,
    "q199_cusum_changepoint" -> q199,
    "q200_lag_autocorr" -> q200,
    "q201_l_diversity" -> q201,
    "q202_benford_profile" -> q202,
    "q203_peak_concurrency" -> q203)

  def oracle: Map[String, String] = Map(
    "q229_source_xent" -> q229Sql,
    "q230_group_kfold" -> q230Sql,
    "q231_kfold_composition" -> q231Sql,
    "q228_drift_dashboard" -> q228Sql,
    "q225_cohort_value_curve" -> q225Sql,
    "q226_trimmed_mean" -> q226Sql,
    "q227_double_fire_audit" -> q227Sql,
    "q222_lateness_profile" -> q222Sql,
    "q223_gini_concentration" -> q223Sql,
    "q224_seasonality_profile" -> q224Sql,
    "q220_readability" -> q220Sql,
    "q221_matryoshka_recall" -> q221Sql,
    "q219_zone_store" -> q219Sql,
    "q216_join_explosion_audit" -> q216Sql,
    "q217_pii_census" -> q217Sql,
    "q218_template_clusters" -> q218Sql,
    "q213_burstiness_fano" -> q213Sql,
    "q214_pareto_coverage" -> q214Sql,
    "q215_salt_plan" -> q215Sql,
    "q210_skipping_audit" -> q210Sql,
    "q211_fd_discovery" -> q211Sql,
    "q212_kendall_concordance" -> q212Sql,
    "q207_sorted_neighborhood" -> q207Sql,
    "q208_conversion_latency" -> q208Sql,
    "q209_path_trigrams" -> q209Sql,
    "q204_prefix_filter_join" -> q204Sql,
    "q232_prefix_delta_join" -> q232Sql,
    "q233_prefix_store_delta" -> q233Sql,
    "q205_hits" -> q205Sql,
    "q206_blocking_audit" -> q206Sql,
    "q198_ngram_diversity" -> q198Sql,
    "q199_cusum_changepoint" -> q199Sql,
    "q200_lag_autocorr" -> q200Sql,
    "q201_l_diversity" -> q201Sql,
    "q202_benford_profile" -> q202Sql,
    "q203_peak_concurrency" -> q203Sql)
}
