package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{EventOps, Sketches, Stats, TextOps}

/** Round-6 third wave: corpus-structure analytics — sentence-level
  * boilerplate detection, robust (median/MAD) outlier statistics,
  * item co-occurrence similarity from the event stream, and token
  * co-occurrence lift (rational PMI). Parity rules as everywhere:
  * exact integer counts end to end, floor division on non-negative
  * operands only, one mirrored double division at the end, regexes
  * restricted to the Java-regex ∩ RE2 subset.
  */
object CorpusQueries {

  private type Q = (SparkSession, String) => DataFrame

  /** The synthetic corpus has no terminal punctuation, so the oracle
    * query segments on article tokens instead — same automaton class
    * (alternation of literal runs), exercising the identical plan.
    */
  private val Boundary = "[.!?]+\\s+|\\s+(?:the|a)\\s+"
  private val BoundarySql = "[.!?]+\\s+|\\s+(?:the|a)\\s+"

  // ---------------------------------------------------------------- q87
  /** Sentence-level boilerplate profile ([[TextOps.boilerplateProfile]]):
    * per document, the count/fraction of its sentences that recur
    * (normalized) in ≥ 3 distinct documents — the navigation-chrome /
    * footer signal document-level dedup can't see.
    */
  val q87: Q = (s, dir) =>
    TextOps.boilerplateProfile(Tables.documents(s, dir), "doc_id", "text",
        minDocs = 3, boundary = Boundary)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q87Sql: String =
    s"""WITH s0 AS (SELECT doc_id,
       |    unnest(string_split_regex(text, '$BoundarySql')) AS sent
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    lower(regexp_replace(trim(sent), '[.!?]+$$', '')) AS norm
       |  FROM s0 WHERE trim(sent) <> ''),
       |f AS (SELECT norm, count(DISTINCT doc_id) AS n_docs
       |  FROM s GROUP BY norm),
       |p AS (SELECT s.doc_id, count(*) AS n_sents,
       |    CAST(coalesce(sum(CASE WHEN f.n_docs >= 3 THEN 1 END), 0)
       |      AS BIGINT) AS n_boiler
       |  FROM s JOIN f USING (norm) GROUP BY s.doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_sents, 0) AS n_sents,
       |  coalesce(p.n_boiler, 0) AS n_boiler,
       |  CAST(p.n_boiler AS DOUBLE) / p.n_sents AS boiler_frac
       |FROM documents d LEFT JOIN p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Robust outlier statistics ([[Stats.medianMad]]): exact lower
    * median, MAD, and |v − med| > 3·MAD outlier counts of lineitem
    * price cents per return flag — two sort-and-offset selections over
    * the (flag, cents) counts, driver memory O(groups + partitions).
    * The operator's local result is already in flag order.
    */
  val q88: Q = (s, dir) =>
    Stats.medianMad(Tables.lineitem(s, dir), col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"), z = 3)
      .select(col("g").as("flag"), col("n"), col("median"), col("mad"),
        col("n_outliers"))
  val q88Sql: String =
    """WITH c AS (SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS v, count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n
      |  FROM c),
      |med AS (SELECT g, min(v) AS median, CAST(max(n) AS BIGINT) AS n
      |  FROM w WHERE cum >= (n+1)//2 GROUP BY g),
      |d AS (SELECT c.g, abs(c.v - med.median) AS v,
      |    CAST(sum(c.c) AS BIGINT) AS c
      |  FROM c JOIN med USING (g) GROUP BY 1, 2),
      |w2 AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n
      |  FROM d),
      |mad AS (SELECT g, min(v) AS mad FROM w2
      |  WHERE cum >= (n+1)//2 GROUP BY g)
      |SELECT c.g AS flag, max(med.n) AS n, max(med.median) AS median,
      |  max(mad.mad) AS mad,
      |  CAST(coalesce(sum(CASE WHEN abs(c.v - med.median) > 3*mad.mad
      |    THEN c.c END), 0) AS BIGINT) AS n_outliers
      |FROM c JOIN med USING (g) JOIN mad USING (g)
      |GROUP BY c.g ORDER BY flag""".stripMargin

  // --------------------------------------------------------------- q132
  /** Row-level robust outlier extraction ([[Stats.robustOutliers]]):
    * the actual anomalous lineitems — |price − median| > 2·MAD within
    * the return flag — not just q88's counts. Median/MAD from q88's
    * sort-and-offset selections (driver memory O(groups + partitions)),
    * stats broadcast back, extraction map-only.
    */
  val q132: Q = (s, dir) =>
    Stats.robustOutliers(Tables.lineitem(s, dir), col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_orderkey") * 10 + col("l_linenumber"), z = 2)
      .select(col("g").as("flag"), col("id").as("line_id"), col("v"),
        col("median"), col("mad"), col("dev"))
      .orderBy("flag", "line_id")
  val q132Sql: String =
    """WITH c AS (SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS v, count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n
      |  FROM c),
      |med AS (SELECT g, min(v) AS median FROM w
      |  WHERE cum >= (n+1)//2 GROUP BY g),
      |d AS (SELECT c.g, abs(c.v - med.median) AS v,
      |    CAST(sum(c.c) AS BIGINT) AS c
      |  FROM c JOIN med USING (g) GROUP BY 1, 2),
      |w2 AS (SELECT g, v, c,
      |    sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS cum,
      |    sum(c) OVER (PARTITION BY g) AS n
      |  FROM d),
      |mad AS (SELECT g, min(v) AS mad FROM w2
      |  WHERE cum >= (n+1)//2 GROUP BY g)
      |SELECT li.l_returnflag AS flag,
      |  li.l_orderkey*10 + li.l_linenumber AS line_id,
      |  CAST(round(li.l_extendedprice*100) AS BIGINT) AS v,
      |  med.median, mad.mad,
      |  abs(CAST(round(li.l_extendedprice*100) AS BIGINT) - med.median)
      |    AS dev
      |FROM lineitem li
      |JOIN med ON med.g = li.l_returnflag
      |JOIN mad ON mad.g = li.l_returnflag
      |WHERE abs(CAST(round(li.l_extendedprice*100) AS BIGINT) - med.median)
      |  > 2 * mad.mad
      |ORDER BY flag, line_id""".stripMargin

  // --------------------------------------------------------------- q137
  /** Quantile normalization ([[Stats.quantileNormalize]]): document
    * lengths uniformized within each language — the distribution-free
    * transform applied before mixing heterogeneous sources. Integer
    * micro quantiles on the value domain; ties share one quantile.
    */
  val q137: Q = (s, dir) =>
    Stats.quantileNormalize(Tables.documents(s, dir), col("lang"),
        col("n_chars"), col("doc_id"))
      .select(col("g").as("lang"), col("id").as("doc_id"), col("v"),
        col("cume_micro"))
      .orderBy("lang", "doc_id")
  val q137Sql: String =
    """WITH r AS (SELECT lang AS g, doc_id AS id,
      |    CAST(n_chars AS BIGINT) AS v FROM documents),
      |c AS (SELECT g, v, count(*) AS c FROM r GROUP BY 1, 2),
      |q AS (SELECT g, v,
      |    (sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      * 1000000) // (sum(c) OVER (PARTITION BY g)) AS cume_micro
      |  FROM c)
      |SELECT r.g AS lang, r.id AS doc_id, r.v,
      |  CAST(q.cume_micro AS BIGINT) AS cume_micro
      |FROM r JOIN q ON q.g = r.g AND q.v = r.v
      |ORDER BY lang, doc_id""".stripMargin

  // --------------------------------------------------------------- q133
  /** Chi-square histogram drift ([[Stats.histogramDrift]]): length
    * distribution of even-id ("old snapshot") vs odd-id ("new
    * snapshot") documents compared bucket by bucket — the
    * distribution-shift monitor between corpus refreshes. Integer
    * micro contributions; Σ/1e6 is the χ² statistic.
    */
  val q133: Q = (s, dir) =>
    Stats.histogramDrift(Tables.documents(s, dir),
        col("doc_id") % 2 === 1,
        expr("least(n_chars div 100, 19)").cast("long"))
      .orderBy("bucket")
  val q133Sql: String =
    """WITH c AS (SELECT least(n_chars // 100, 19) AS bucket,
      |    sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_old,
      |    sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_new
      |  FROM documents GROUP BY 1),
      |t AS (SELECT sum(n_old) AS ta, sum(n_new) AS tb FROM c)
      |SELECT bucket, CAST(n_old AS BIGINT) AS n_old,
      |  CAST(n_new AS BIGINT) AS n_new,
      |  CAST(floor(
      |    (CAST(n_old AS DOUBLE) * CAST(tb AS DOUBLE) -
      |     CAST(n_new AS DOUBLE) * CAST(ta AS DOUBLE)) *
      |    (CAST(n_old AS DOUBLE) * CAST(tb AS DOUBLE) -
      |     CAST(n_new AS DOUBLE) * CAST(ta AS DOUBLE)) /
      |    (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE) *
      |     CAST(n_old + n_new AS DOUBLE)) *
      |    CAST(ta + tb AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
      |    AS chi2_micro
      |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Item–item co-occurrence ([[EventOps.itemCooccurrence]]): Jaccard
    * over distinct-clicker sets of the JSON `props.k` item key —
    * user-keyed self-join, power users pruned before the pair fan-out.
    */
  val q89: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
    EventOps.itemCooccurrence(e, "user_id", "item",
        maxItemsPerUser = 64, minCommon = 2)
      .orderBy("item_a", "item_b")
  }
  val q89Sql: String =
    """WITH ui AS (SELECT DISTINCT user_id AS u,
      |    json_extract_string(props, '$.k')::BIGINT AS i
      |  FROM events
      |  WHERE event_type = 'click'
      |    AND json_extract_string(props, '$.k') IS NOT NULL),
      |ks AS (SELECT u FROM ui GROUP BY u HAVING count(*) <= 64),
      |k AS (SELECT ui.u, ui.i FROM ui JOIN ks USING (u)),
      |sz AS (SELECT i, count(*) AS n FROM k GROUP BY i),
      |p AS (SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_common
      |  FROM k a JOIN k b ON a.u = b.u AND a.i < b.i
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT p.item_a, p.item_b, sa.n AS n_a, sb.n AS n_b, p.n_common,
      |  CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
      |FROM p
      |JOIN sz sa ON sa.i = p.item_a
      |JOIN sz sb ON sb.i = p.item_b
      |ORDER BY item_a, item_b""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Token co-occurrence lift ([[TextOps.cooccurrenceLift]]): rational
    * PMI (N·n_ab / (n_a·n_b), no log) over the fractional df band
    * [1%, 95%] — collocation mining with the stopword ceiling and hapax
    * floor applied before the per-doc pair fan-out.
    */
  val q90: Q = (s, dir) =>
    TextOps.cooccurrenceLift(Tables.documents(s, dir), "doc_id", "text",
        minDfPct = 1, maxDfPct = 95, minPairs = 5)
      .orderBy("tok_a", "tok_b")
  val q90Sql: String =
    """WITH dt AS (SELECT DISTINCT doc_id,
      |    unnest(string_split_regex(lower(text), '\s+')) AS t
      |  FROM documents),
      |n AS (SELECT count(*) AS nc FROM documents),
      |dfc AS (SELECT t, count(*) AS nd FROM dt GROUP BY t),
      |band AS (SELECT dfc.t, dfc.nd, n.nc FROM dfc CROSS JOIN n
      |  WHERE nd*100 >= 1*nc AND nd*100 <= 95*nc),
      |bt AS (SELECT dt.doc_id, band.t, band.nd, band.nc
      |  FROM dt JOIN band USING (t)),
      |p AS (SELECT a.t AS tok_a, b.t AS tok_b, count(*) AS n_ab,
      |    max(a.nd) AS n_a, max(b.nd) AS n_b, max(a.nc) AS nc
      |  FROM bt a JOIN bt b ON a.doc_id = b.doc_id AND a.t < b.t
      |  GROUP BY 1, 2 HAVING count(*) >= 5)
      |SELECT tok_a, tok_b, n_a, n_b, n_ab,
      |  CAST(n_ab*nc AS DOUBLE) / (n_a*n_b) AS lift
      |FROM p ORDER BY tok_a, tok_b""".stripMargin

  // ---------------------------------------------------------------- q93
  /** Weighted percentiles ([[Stats.weightedPercentiles]]): price points
    * where 25/50/75/90% of the shipped QUANTITY sits, per return flag —
    * the weighted-quantile statistic (token-weighted corpus cuts, spend-
    * weighted price bands) via the pure integer `cum·100 ≥ W·p` test.
    * The operator's result is local and already in flag order, so no
    * sort runs on top.
    */
  val q93: Q = (s, dir) =>
    Stats.weightedPercentiles(Tables.lineitem(s, dir), col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"),
        round(col("l_quantity")).cast("long"), Seq(25, 50, 75, 90))
      .select(col("g").as("flag"), col("w_total"),
        col("p_25"), col("p_50"), col("p_75"), col("p_90"))
  val q93Sql: String =
    """WITH c AS (SELECT l_returnflag AS g,
      |    CAST(round(l_extendedprice*100) AS BIGINT) AS v,
      |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS wv
      |  FROM lineitem GROUP BY 1, 2),
      |w AS (SELECT g, v, wv,
      |    sum(wv) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
      |      AS cum,
      |    sum(wv) OVER (PARTITION BY g) AS wt
      |  FROM c)
      |SELECT g AS flag, CAST(max(wt) AS BIGINT) AS w_total,
      |  min(CASE WHEN cum*100 >= wt*25 THEN v END) AS p_25,
      |  min(CASE WHEN cum*100 >= wt*50 THEN v END) AS p_50,
      |  min(CASE WHEN cum*100 >= wt*75 THEN v END) AS p_75,
      |  min(CASE WHEN cum*100 >= wt*90 THEN v END) AS p_90
      |FROM w GROUP BY g ORDER BY flag""".stripMargin

  // ---------------------------------------------------------------- q94
  /** KMV join-cardinality estimate ([[Sketches.kmvIntersectEstimate]]):
    * distinct-key overlap between the ordering customers and the
    * positive-balance customers from two bounded k=128 sketches — the
    * pre-join optimizer statistic — alongside the exact intersection
    * computed by a real distinct join, so the row carries estimate AND
    * truth. Deterministic hash48 ⇒ the oracle rebuilds the sketches
    * relationally (row_number ≤ k) and matches every figure bit-for-bit.
    */
  val q94: Q = (s, dir) => {
    val a = Tables.orders(s, dir).select(col("o_custkey"))
    val b = Tables.customer(s, dir).filter(col("c_acctbal") > 0)
      .select(col("c_custkey"))
    val est = Sketches.kmvIntersectEstimate(
      a, col("o_custkey"), b, col("c_custkey"), k = 128)
    val exact = a.distinct()
      .join(b.distinct(), col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("exact_intersect"))
    est.crossJoin(exact)
  }
  val q94Sql: String = {
    val const = (128 - 1) * graft.operators.Sketches.HashSpace
    s"""WITH av AS (SELECT DISTINCT o_custkey AS v FROM orders),
       |bv AS (SELECT DISTINCT c_custkey AS v
       |  FROM customer WHERE c_acctbal > 0),
       |ha AS (SELECT DISTINCT
       |    ('0x'||substr(md5(CAST(v AS VARCHAR)),1,12))::BIGINT AS h FROM av),
       |hb AS (SELECT DISTINCT
       |    ('0x'||substr(md5(CAST(v AS VARCHAR)),1,12))::BIGINT AS h FROM bv),
       |ka AS (SELECT h FROM ha ORDER BY h LIMIT 128),
       |kb AS (SELECT h FROM hb ORDER BY h LIMIT 128),
       |un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       |  ORDER BY h LIMIT 128),
       |t AS (SELECT max(h) AS theta, count(*) AS nu FROM un),
       |r AS (SELECT count(*) AS rho FROM un
       |  WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
       |x AS (SELECT count(*) AS exact_intersect FROM av JOIN bv USING (v))
       |SELECT (SELECT count(*) FROM ka) AS n_a_kept,
       |  (SELECT count(*) FROM kb) AS n_b_kept,
       |  t.theta, CAST(r.rho AS BIGINT) AS rho,
       |  CASE WHEN t.nu < 128 THEN CAST(t.nu AS DOUBLE)
       |       ELSE round($const / t.theta, 2) END AS est_union,
       |  CASE WHEN t.nu < 128 THEN CAST(r.rho AS DOUBLE)
       |       ELSE round(r.rho * ($const / t.theta) / 128, 2)
       |       END AS est_intersect,
       |  CAST(x.exact_intersect AS BIGINT) AS exact_intersect
       |FROM t CROSS JOIN r CROSS JOIN x""".stripMargin
  }

  // --------------------------------------------------------------- q101
  /** Gopher-style quality-rule battery ([[TextOps.gopherRules]]): the
    * standard LLM-pretraining corpus gate — token-count bounds, mean
    * word length, alphabetic-word fraction, stopword presence,
    * digit-word fraction — five exact-integer predicates and their sum
    * in ONE map-only scan. Cross-multiplied ratios keep every flag
    * bit-replayable; at 100 TB this runs at read bandwidth with zero
    * shuffles.
    */
  val q101: Q = (s, dir) =>
    graft.operators.Spread.ensure(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id") +: TextOps.gopherRules(col("text")): _*)
      .orderBy("doc_id")
  val q101Sql: String =
    """SELECT doc_id, n_tokens, r_tokens, r_mean_len, r_alpha, r_stop,
      |  r_digit,
      |  CAST(r_tokens + r_mean_len + r_alpha + r_stop + r_digit
      |    AS BIGINT) AS gopher_score
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(w) AS BIGINT) AS n_tokens,
      |    CAST(CASE WHEN len(w) BETWEEN 10 AND 5000 THEN 1 ELSE 0 END
      |      AS BIGINT) AS r_tokens,
      |    CAST(CASE WHEN wc >= len(w)*3 AND wc <= len(w)*10 THEN 1 ELSE 0 END
      |      AS BIGINT) AS r_mean_len,
      |    CAST(CASE WHEN na*5 >= len(w)*4 THEN 1 ELSE 0 END
      |      AS BIGINT) AS r_alpha,
      |    CAST(CASE WHEN ns >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
      |    CAST(CASE WHEN nd*10 <= len(w) THEN 1 ELSE 0 END
      |      AS BIGINT) AS r_digit
      |  FROM (
      |    SELECT doc_id, w,
      |      list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b) AS wc,
      |      len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS na,
      |      len(list_filter(w, t -> regexp_matches(t, '^[0-9]+$'))) AS nd,
      |      len(list_intersect(list_distinct(w),
      |        ['the','a','of','and','to','in'])) AS ns
      |    FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |          FROM documents)))
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q109
  /** Cross-document duplicated SPANS ([[TextOps.duplicateSpans]]): the
    * exact-substring dedup pass — verbatim 5-gram runs shared across ≥2
    * documents, merged into maximal [start, end) token spans per doc.
    * Posexplode → one gram-frequency hash agg → LEFT SEMI join back (hot
    * grams stay linear, never quadratic) → per-doc gaps-and-islands
    * window bounded by document length.
    */
  val q109: Q = (s, dir) =>
    TextOps.duplicateSpans(Tables.documents(s, dir), "doc_id", "text",
        n = 5, minDocs = 2)
      .orderBy("doc_id", "span_start")
  val q109Sql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |           FROM documents),
      |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |        ('0x' || substr(md5(array_to_string(w[i+1:i+5], ' ')),1,12))::BIGINT AS gram
      |      FROM (SELECT doc_id, w,
      |              unnest(CASE WHEN len(w) >= 5 THEN range(len(w)-4)
      |                     ELSE [] END) AS i FROM t)),
      |d AS (SELECT gram FROM p GROUP BY gram
      |      HAVING count(DISTINCT doc_id) >= 2),
      |m AS (SELECT p.doc_id, p.pos FROM p JOIN d USING (gram)),
      |x AS (SELECT doc_id, pos,
      |        max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM m),
      |i AS (SELECT doc_id, pos,
      |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end
      |            THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM x)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 5 AS span_end,
      |  count(*) AS n_grams
      |FROM i GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  // --------------------------------------------------------------- q112
  /** Per-document n-gram NOVELTY ([[TextOps.ngramNovelty]]): fraction
    * (integer per-mille) of a doc's distinct 5-grams that occur nowhere
    * else — the curation-priority / crawl-value signal. Distinct grams →
    * one frequency agg → LEFT SEMI vs singletons → two per-doc counts.
    */
  val q112: Q = (s, dir) =>
    TextOps.ngramNovelty(Tables.documents(s, dir), "doc_id", "text", n = 5)
      .orderBy("doc_id")
  val q112Sql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |           FROM documents),
      |sh AS (SELECT DISTINCT doc_id AS id, unnest(CASE WHEN len(w) >= 5
      |    THEN list_distinct(list_transform(range(len(w)-4),
      |      i -> array_to_string(w[i+1:i+5], ' ')))
      |    ELSE []::VARCHAR[] END) AS g FROM t),
      |shh AS (SELECT id, ('0x'||substr(md5(g),1,12))::BIGINT AS g FROM sh),
      |u AS (SELECT g FROM shh GROUP BY g HAVING count(*) = 1),
      |uc AS (SELECT id, count(*) AS unique_grams FROM shh JOIN u USING (g)
      |       GROUP BY id),
      |per AS (SELECT id, count(*) AS n_grams FROM shh GROUP BY id),
      |j AS (SELECT per.id, per.n_grams,
      |        coalesce(uc.unique_grams, 0) AS unique_grams,
      |        (coalesce(uc.unique_grams, 0) * 1000) // per.n_grams AS novelty_pm
      |      FROM per LEFT JOIN uc USING (id))
      |SELECT d.doc_id, coalesce(j.n_grams, 0) AS n_grams,
      |  coalesce(j.unique_grams, 0) AS unique_grams, j.novelty_pm
      |FROM documents d LEFT JOIN j ON j.id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- q114
  /** Hashed-feature linear classifier ([[TextOps.hashedLinearScore]]):
    * fastText-shape model scoring as pure column expressions — token →
    * feature bucket → weight, integer weight sum, sign classification.
    * Zero shuffles; the md5-derived stand-in weights replay exactly in
    * SQL (a trained model swaps in via the same bucket lookup).
    */
  val q114: Q = (s, dir) =>
    TextOps.hashedLinearScore(
        graft.operators.Spread.ensure(Tables.documents(s, dir), "doc_id"),
        "doc_id", "text", dim = 4096)
      .orderBy("doc_id")
  val q114Sql: String =
    """SELECT doc_id, n_tokens, score,
      |  CASE WHEN score >= 0 THEN CAST(1 AS BIGINT)
      |       ELSE CAST(0 AS BIGINT) END AS keep
      |FROM (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |    list_reduce(list_transform(w, t ->
      |      ('0x'||substr(md5('w_' ||
      |        CAST(('0x'||substr(md5(t),1,12))::BIGINT % 4096 AS VARCHAR)
      |      ),1,12))::BIGINT % 16 - 8),
      |      (a, b) -> a + b) AS score
      |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q116
  /** Incremental novelty ([[TextOps.ngramNoveltyVsCorpus]]): a fresh
    * batch — exact re-crawls (novelty 0) plus genuinely-new-suffix docs
    * — scored against the standing corpus' gram set: the crawl-value
    * measure before ingest. One anti-join shuffle on the gram hash.
    */
  val q116: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    // one scan for both fresh branches (the union form read the full
    // text column twice — %4 residues don't prune parquet row groups)
    val fresh = d.filter(col("doc_id") % 4 <= 1)
      .select(
        when(col("doc_id") % 4 === 0, col("doc_id") + 1000000L)
          .otherwise(col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 4 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zq1 zq2 zq3"))).as("text"))
    // store-backed (the q107 pattern): the standing corpus' gram set is
    // derived once behind a fingerprint gate; steady-state runs pay the
    // arrival-sized probe only. The gate is the O(files) pathTag — the
    // corpus is an immutable parquet layout; a driver regeneration
    // changes mtimes and forces the rebuild.
    val store = graft.Tables.storeDir("gram_store", dir)
    graft.operators.TextOps.gramStoreEnsure(d, "doc_id", "text", 5, store,
      freshnessTag = Some(graft.operators.ContentGate.pathTag(
        s, s"$dir/documents.parquet")))
    graft.operators.TextOps.ngramNoveltyVsCorpusStored(
        fresh, "doc_id", "text", n = 5, store)
      .orderBy("doc_id")
  }
  val q116Sql: String =
    """WITH fresh AS (
      |  SELECT doc_id+1000000 AS id, text FROM documents WHERE doc_id%4=0
      |  UNION ALL SELECT doc_id+2000000 AS id, text || ' zq1 zq2 zq3' AS text
      |  FROM documents WHERE doc_id%4=1),
      |cw AS (SELECT string_split_regex(lower(text), '\s+') AS w FROM documents),
      |cgh AS (SELECT DISTINCT ('0x'||substr(md5(g),1,12))::BIGINT AS g FROM (
      |  SELECT unnest(CASE WHEN len(w) >= 5
      |    THEN list_distinct(list_transform(range(len(w)-4),
      |      i -> array_to_string(w[i+1:i+5], ' ')))
      |    ELSE []::VARCHAR[] END) AS g FROM cw)),
      |fw AS (SELECT id, string_split_regex(lower(text), '\s+') AS w FROM fresh),
      |fgh AS (SELECT id, ('0x'||substr(md5(g),1,12))::BIGINT AS g FROM (
      |  SELECT DISTINCT id, unnest(CASE WHEN len(w) >= 5
      |    THEN list_distinct(list_transform(range(len(w)-4),
      |      i -> array_to_string(w[i+1:i+5], ' ')))
      |    ELSE []::VARCHAR[] END) AS g FROM fw)),
      |nv AS (SELECT id, count(*) AS novel_grams FROM fgh
      |       WHERE g NOT IN (SELECT g FROM cgh) GROUP BY id),
      |per AS (SELECT id, count(*) AS n_grams FROM fgh GROUP BY id),
      |j AS (SELECT per.id, per.n_grams,
      |        coalesce(nv.novel_grams, 0) AS novel_grams,
      |        (coalesce(nv.novel_grams, 0) * 1000) // per.n_grams AS novelty_pm
      |      FROM per LEFT JOIN nv USING (id))
      |SELECT f.id AS doc_id, coalesce(j.n_grams, 0) AS n_grams,
      |  coalesce(j.novel_grams, 0) AS novel_grams, j.novelty_pm
      |FROM fresh f LEFT JOIN j ON j.id = f.id
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q119
  /** BPE tokenizer training ([[TextOps.bpeTrain]]): 8 merge rounds over
    * the documents vocab. The oracle replays every round in SQL — symbol
    * chains as sentinel-delimited strings, pair counts from the split
    * chain, argmax with the (count desc, pair asc) tiebreak, and the
    * greedy leftmost merge as a left-to-right string replace (replace
    * consumes matches exactly like the engine's array fold).
    */
  val q119: Q = (s, dir) =>
    TextOps.bpeTrain(Tables.documents(s, dir).select("text"), "text", 8)
      .orderBy("step")
  /** Shared q119/q120 oracle text: the unrolled BPE training chain
    * (w, v0, p1..b1..v1, ..., vN) as DuckDB CTE bodies.
    */
  private def bpeRoundsCtes(merges: Int): String = {
    def pairCte(i: Int) =
      s"""p$i AS (SELECT u.pp.l AS l, u.pp.r AS r,
         |    CAST(sum(u.cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, unnest(list_transform(range(len(sy)-1),
         |      i -> {'l': sy[i+1], 'r': sy[i+2]})) AS pp
         |    FROM (SELECT cnt, string_split(substr(chain, 2, length(chain)-2),
         |        chr(2)||chr(1)) AS sy FROM v${i - 1})
         |    WHERE len(sy) >= 2) u
         |  GROUP BY 1, 2),
         |b$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (SELECT word, cnt,
         |    replace(chain, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2),
         |      chr(1)||b.l||b.r||chr(2)) AS chain
         |  FROM v${i - 1}, b$i b)""".stripMargin
    val rounds = (1 to merges).map(pairCte).mkString(",\n")
    s"""w AS (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |v0 AS MATERIALIZED (SELECT word, count(*) AS cnt,
       |    list_aggregate(list_transform(range(length(word)),
       |      i -> chr(1)||word[i+1:i+1]||chr(2)), 'string_agg', '') AS chain
       |  FROM w WHERE length(word) > 0 GROUP BY word),
       |$rounds""".stripMargin
  }

  val q119Sql: String = {
    val merges = 8
    val out = (1 to merges).map(i =>
      s"SELECT $i AS step, l AS left_sym, r AS right_sym, c AS pair_count FROM b$i")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeRoundsCtes(merges)}
       |$out
       |ORDER BY step""".stripMargin
  }

  // --------------------------------------------------------------- q120
  /** BPE token accounting ([[TextOps.bpeTokenCounts]]): per-source doc
    * and token totals under the 8-merge tokenizer of q119. The key scale
    * design: documents are never re-folded — merges apply once to the
    * DISTINCT-WORD table and each doc joins its words against the
    * (word → n_tokens) map, so segmentation is a hash join.
    */
  val q120: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val rules = TextOps.bpeTrain(d.select("text"), "text", 8)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    TextOps.bpeTokenCounts(d, "doc_id", "text", rules)
      .join(d.select(col("doc_id").as("id"), col("source")), "id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"))
      .withColumn("tokens_per_doc_pm", expr("n_tokens * 1000 div n_docs"))
      .orderBy("source")
  }
  val q120Sql: String =
    s"""WITH ${bpeRoundsCtes(8)},
       |wt AS (SELECT word, len(string_split(substr(chain, 2, length(chain)-2),
       |    chr(2)||chr(1))) AS w_tokens FROM v8),
       |dw AS (SELECT doc_id, source,
       |    unnest(string_split_regex(lower(text), '\\s+')) AS word
       |  FROM documents),
       |per AS (SELECT d.doc_id, d.source, count(*) AS n_words,
       |    CAST(sum(w.w_tokens) AS BIGINT) AS n_tokens
       |  FROM (SELECT * FROM dw WHERE length(word) > 0) d
       |  JOIN wt w USING (word) GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS n_words,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  (CAST(sum(n_tokens) AS BIGINT) * 1000) // count(*) AS tokens_per_doc_pm
       |FROM per GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q121
  /** Heavy-hitter bigrams ([[Sketches.heavyHitters]]): all word bigrams
    * with ≥ 0.14% corpus frequency, via per-partition Misra-Gries
    * candidates + exact recheck — never a full-universe shuffle. The
    * oracle is the brute-force GROUP BY ... HAVING, so agreement proves
    * the sketch path is exact, not approximate.
    */
  val q121: Q = (s, dir) => {
    val bigrams = Tables.documents(s, dir)
      .select(expr("filter(split(lower(text), '\\\\s+'), x -> length(x) > 0)")
        .as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr("transform(sequence(0, size(w)-2), " +
        "i -> concat(element_at(w, i+1), ' ', element_at(w, i+2)))"))
        .as("bigram"))
    Sketches.heavyHitters(bigrams, col("bigram"),
        capacity = 1024, supportPpm = 1400L)
      .orderBy("term")
  }
  val q121Sql: String =
    """WITH w AS (SELECT list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> length(x) > 0) AS w FROM documents),
      |b AS (SELECT unnest(list_transform(range(len(w)-1),
      |    i -> w[i+1]||' '||w[i+2])) AS t FROM w WHERE len(w) >= 2),
      |n AS (SELECT count(*) AS n FROM b)
      |SELECT b.t AS term, count(*) AS cnt FROM b, n
      |GROUP BY b.t, n.n HAVING count(*)*1000000 >= n.n*1400
      |ORDER BY term""".stripMargin

  // --------------------------------------------------------------- q123
  /** Winnowing fingerprints ([[TextOps.winnowFingerprints]]), k=4 w=5:
    * the MOSS selection — every 5-hash window contributes its rightmost
    * minimum — so shared runs of ≥ 8 tokens are guaranteed a common
    * fingerprint and selection density is bounded. The oracle replays
    * the identical fold (list_reduce) over the identical 48-bit hashes.
    */
  val q123: Q = (s, dir) =>
    TextOps.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
        k = 4, w = 5)
      .orderBy("doc_id", "pos")
  val q123Sql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id, list_transform(range(len(toks) - 3),
      |    i -> ('0x'||substr(md5(array_to_string(toks[i+1:i+4], ' ')),1,12))::BIGINT)
      |    AS hs
      |  FROM t WHERE len(toks) >= 8),
      |s AS (SELECT doc_id, hs,
      |    list_distinct(list_transform(range(len(hs) - 4),
      |      i -> list_reduce(range(i, i + 5), (acc, j) ->
      |        CASE WHEN hs[j+1] <= hs[acc+1] THEN j ELSE acc END))) AS sel
      |  FROM g),
      |u AS (SELECT doc_id, hs, unnest(sel) AS pos FROM s)
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos, hs[pos+1] AS fp
      |FROM u ORDER BY doc_id, pos""".stripMargin

  // --------------------------------------------------------------- q124
  /** Winnow copy candidates ([[TextOps.winnowCopyCandidates]]): doc
    * pairs sharing ≥ 2 winnowed fingerprints, hot fingerprints (> 20
    * docs) banded out — the w-fold-cheaper candidate pass in front of
    * q109's exact span verification.
    */
  val q124: Q = (s, dir) =>
    TextOps.winnowCopyCandidates(Tables.documents(s, dir), "doc_id",
        "text", k = 4, w = 5, maxDf = 20, minShared = 2)
      .orderBy("id_a", "id_b")
  val q124Sql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |g AS (SELECT doc_id, list_transform(range(len(toks) - 3),
      |    i -> ('0x'||substr(md5(array_to_string(toks[i+1:i+4], ' ')),1,12))::BIGINT)
      |    AS hs
      |  FROM t WHERE len(toks) >= 8),
      |s AS (SELECT doc_id, hs,
      |    list_distinct(list_transform(range(len(hs) - 4),
      |      i -> list_reduce(range(i, i + 5), (acc, j) ->
      |        CASE WHEN hs[j+1] <= hs[acc+1] THEN j ELSE acc END))) AS sel
      |  FROM g),
      |f AS (SELECT DISTINCT doc_id, hs[pos+1] AS fp
      |  FROM (SELECT doc_id, hs, unnest(sel) AS pos FROM s)),
      |band AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 20),
      |fb AS (SELECT f.doc_id, f.fp FROM f JOIN band USING (fp))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      |FROM fb a JOIN fb b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q148
  /** Unicode-normalization dedup ([[graft.functions.NfcNormalize]], the
    * native codegen'd NFC expression — Spark has no built-in; a UDF
    * would break whole-stage codegen in the hottest map stage): find
    * documents whose NFC forms collide while their raw bytes differ —
    * the 'é' (U+00E9) vs 'e'+U+0301 families that byte-level exact
    * dedup (q20) can never merge. Planted corpus: every document gets
    * a precomposed suffix; every 10th is re-ingested with the
    * DECOMPOSED spelling of the same suffix. Canonical composition is
    * fully specified by Unicode, so DuckDB's nfc_normalize replays the
    * engine's expression exactly — the group report hash-matches.
    */
  val q148: Q = (s, dir) => {
    import graft.functions.NfcNormalize
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val corpus = d
      .select(col("doc_id"), concat(col("text"), lit(" café")).as("t"))
      .unionByName(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          // DECOMPOSED form as an explicit escape (e + U+0301), so a
          // source-file NFC normalization can never silently collapse
          // it into the precomposed literal above.
          concat(col("text"), lit(" cafe\u0301")).as("t")))
    corpus.select(col("doc_id"), md5(col("t")).as("raw_fp"),
        md5(NfcNormalize(col("t"))).as("nfc_fp"))
      .groupBy("nfc_fp")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_members"),
        countDistinct(col("raw_fp")).as("n_raw_forms"))
      .filter(col("n_members") > 1)
      .select("rep_id", "n_members", "n_raw_forms")
      .orderBy("rep_id")
  }
  val q148Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text || ' caf' || chr(233) AS t FROM documents
      |  UNION ALL SELECT doc_id+4000000, text || ' cafe' || chr(769)
      |  FROM documents WHERE doc_id%10=0),
      |fp AS (SELECT doc_id, md5(t) AS raw_fp,
      |    md5(nfc_normalize(t)) AS nfc_fp FROM corpus)
      |SELECT min(doc_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_members,
      |  CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_forms
      |FROM fp GROUP BY nfc_fp HAVING count(*) > 1
      |ORDER BY rep_id""".stripMargin

  // --------------------------------------------------------------- q150
  /** Hot-key skew diagnostic ([[Stats.skewProfile]]): the 20 heaviest
    * part keys on lineitem with corpus share (ppm) and multiple of the
    * mean per-key load (milli) — the pre-flight report that decides
    * salting/AQE-split/broadcast BEFORE a job stalls on one reducer.
    * One count aggregate + the bounded top-k aggregator: profiling the
    * key column never sorts or collects the key domain.
    */
  val q150: Q = (s, dir) =>
    Stats.skewProfile(Tables.lineitem(s, dir), col("l_partkey"), 20)
      .orderBy(col("cnt").desc, col("key"))
  val q150Sql: String =
    """WITH c AS (SELECT l_partkey AS key, count(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(cnt) AS total, count(*) AS n_keys FROM c),
      |r AS (SELECT key, cnt,
      |    row_number() OVER (ORDER BY cnt DESC, key) AS rk FROM c)
      |SELECT key, cnt,
      |  CAST((cnt * 1000000) // total AS BIGINT) AS share_ppm,
      |  CAST((cnt * n_keys * 1000) // total AS BIGINT) AS skew_x1000,
      |  CAST(total AS BIGINT) AS total, CAST(n_keys AS BIGINT) AS n_keys
      |FROM r CROSS JOIN t WHERE rk <= 20
      |ORDER BY cnt DESC, key""".stripMargin

  // --------------------------------------------------------------- q151
  /** Mergeable log-histogram quantiles ([[Sketches.logHistSketch]] →
    * [[Sketches.logHistQuantiles]]): p50/p90/p99 of price cents per
    * return flag from a DDSketch-style base-2^(1/16) integer log
    * histogram — bounded ~600 buckets regardless of data size, shard
    * sketches merge by adding counts, ≤ 6.25% relative error by
    * construction, and (unlike KLL's random compactors) every step is
    * deterministic integer arithmetic: the floor-log₂ is a comparison
    * SUM (a float log2 disagrees across engines exactly at bucket
    * boundaries), so the oracle replays the sketch AND the quantile
    * walk bit-for-bit.
    */
  val q151: Q = (s, dir) =>
    Sketches.logHistQuantiles(
      Sketches.logHistSketch(Tables.lineitem(s, dir), Seq("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long")),
      Seq("l_returnflag"), Seq(50, 90, 99))
      .orderBy("l_returnflag", "p")
  val q151Sql: String = {
    val bChain = (1 to 39)
      .map(k => s"(CASE WHEN v >= ${1L << k} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH vv AS (SELECT l_returnflag AS g,
       |    CAST(round(l_extendedprice*100) AS BIGINT) AS v
       |  FROM lineitem WHERE round(l_extendedprice*100) > 0),
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
       |  UNION ALL SELECT g, 90, min(lb) FROM l
       |    WHERE cum*100 >= n*90 GROUP BY g
       |  UNION ALL SELECT g, 99, min(lb) FROM l
       |    WHERE cum*100 >= n*99 GROUP BY g)
       |SELECT g AS l_returnflag, CAST(p AS BIGINT) AS p,
       |  CAST(est AS BIGINT) AS est
       |FROM q ORDER BY l_returnflag, p""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q151_loghist_quantiles" -> q151,
    "q150_skew_profile" -> q150,
    "q148_nfc_dedup" -> q148,
    "q124_winnow_candidates" -> q124,
    "q123_winnow_fingerprints" -> q123,
    "q121_heavy_hitters" -> q121,
    "q119_bpe_train" -> q119,
    "q120_bpe_token_accounting" -> q120,
    "q94_kmv_join_estimate" -> q94,
    "q93_weighted_percentiles" -> q93,
    "q87_sentence_boilerplate" -> q87,
    "q88_median_mad" -> q88,
    "q132_robust_outliers" -> q132,
    "q133_histogram_drift" -> q133,
    "q137_quantile_normalize" -> q137,
    "q89_item_cooccurrence" -> q89,
    "q90_cooccurrence_lift" -> q90,
    "q101_gopher_rules" -> q101,
    "q109_duplicate_spans" -> q109,
    "q112_ngram_novelty" -> q112,
    "q114_linear_classifier" -> q114,
    "q116_incremental_novelty" -> q116)

  val oracle: Map[String, String] = Map(
    "q151_loghist_quantiles" -> q151Sql,
    "q150_skew_profile" -> q150Sql,
    "q148_nfc_dedup" -> q148Sql,
    "q124_winnow_candidates" -> q124Sql,
    "q123_winnow_fingerprints" -> q123Sql,
    "q121_heavy_hitters" -> q121Sql,
    "q119_bpe_train" -> q119Sql,
    "q120_bpe_token_accounting" -> q120Sql,
    "q94_kmv_join_estimate" -> q94Sql,
    "q93_weighted_percentiles" -> q93Sql,
    "q87_sentence_boilerplate" -> q87Sql,
    "q88_median_mad" -> q88Sql,
    "q132_robust_outliers" -> q132Sql,
    "q133_histogram_drift" -> q133Sql,
    "q137_quantile_normalize" -> q137Sql,
    "q89_item_cooccurrence" -> q89Sql,
    "q90_cooccurrence_lift" -> q90Sql,
    "q101_gopher_rules" -> q101Sql,
    "q109_duplicate_spans" -> q109Sql,
    "q112_ngram_novelty" -> q112Sql,
    "q114_linear_classifier" -> q114Sql,
    "q116_incremental_novelty" -> q116Sql)
}
