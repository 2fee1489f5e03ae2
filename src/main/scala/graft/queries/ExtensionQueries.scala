package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Multimodal, Similarity, Spread, TextOps}

/** LLM-training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal plumbing, JSON) as driver-checkable queries.
  *
  * Oracle-parity techniques (beyond RelationalQueries' rules):
  *  - portable 48-bit hash `('0x'||substr(md5(s),1,12))::BIGINT` on both
  *    engines, so MinHash/SimHash signatures match bit-for-bit;
  *  - embeddings quantized to exact integers before dot products;
  *  - near-dup corpora are the real tables augmented with deterministic
  *    planted duplicates, so dedup queries have non-trivial answers.
  */
object ExtensionQueries {

  private type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------ corpora
  /** documents + exact copies of every 10th doc (ids shifted +1,000,000). */
  private def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }
  private val corpusExactSql =
    """SELECT doc_id AS id, text FROM documents
      |UNION ALL SELECT doc_id+1000000 AS id, text FROM documents WHERE doc_id%10=0""".stripMargin

  /** Empty (doc_id, text) struct array — the otherwise-branch of the
    * conditional replication below.
    */
  private val noDocs =
    array().cast("array<struct<doc_id:bigint,text:string>>")

  /** documents + perturbed copies (3 junk tokens appended) — near-dups.
    * Built from ONE scan via conditional explode: the union form read
    * the full text column twice (%-residue filters don't prune parquet
    * row groups), and every dedup-family consumer paid the second scan.
    */
  private def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.select(explode(concat(
        array(struct(col("doc_id").as("doc_id"), col("text").as("text"))),
        when(col("doc_id") % 10 === 0,
          array(struct((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zq zq zq")).as("text"))))
          .otherwise(noDocs))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }
  private val corpusNearSql =
    """SELECT doc_id AS id, text FROM documents
      |UNION ALL SELECT doc_id+1000000 AS id, text || ' zq zq zq' AS text
      |FROM documents WHERE doc_id%10=0""".stripMargin

  /** Shared shingle CTEs (3-gram, distinct, no fallback): `sh` = string
    * shingles, `shh` = the 48-bit portable hash the Spark side joins on
    * (Dedup.hashedShingleTable), `sz` = per-doc set sizes over hashes.
    */
  private val shingleCtes =
    """words AS (SELECT id, text, string_split_regex(lower(text), '\s+') AS w FROM corpus),
      |sh AS (SELECT DISTINCT id, unnest(CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(range(len(w)-2), i -> array_to_string(w[i+1:i+3], ' ')))
      |  ELSE []::VARCHAR[] END) AS shingle FROM words),
      |shh AS (SELECT id, ('0x'||substr(md5(shingle),1,12))::BIGINT AS shingle FROM sh),
      |sz AS (SELECT id, count(*) AS sz FROM shh GROUP BY id)""".stripMargin

  // ---------------------------------------------------------------- q16
  /** JSON functions over the events props column. */
  val q16: Q = (s, dir) => {
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")
  }
  val q16Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
      |  min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
      |  max(json_extract_string(props, '$.k')::BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- q141
  /** JSON schema inference ([[graft.operators.Stats.jsonSchemaProfile]])
    * over synthesized heterogeneous JSON (optional keys, mixed
    * presence: `score` on every 3rd doc, `flag` on every 5th) — the
    * semi-structured landing profile: per (key, value-type) counts and
    * lexical ranges. One map-only parse, one tiny aggregate; both
    * engines build and profile the identical JSON text.
    */
  val q141: Q = (s, dir) => {
    val j = Tables.documents(s, dir).select(concat(
      lit("{\"id\": "), col("doc_id"),
      lit(", \"lang\": \""), col("lang"), lit("\""),
      when(col("doc_id") % 3 === 0, concat(
        lit(", \"score\": "), (col("n_chars") % 100).cast("string"),
        lit("."), (col("doc_id") % 10).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(", \"flag\": true"))
        .otherwise(lit("")),
      lit("}")).as("props"))
    graft.operators.Stats.jsonSchemaProfile(j, col("props"))
      .orderBy("key", "vtype")
  }
  val q141Sql: String =
    """WITH j AS (SELECT '{"id": ' || doc_id || ', "lang": "' || lang || '"'
      #    || CASE WHEN doc_id % 3 = 0
      #         THEN ', "score": ' || (n_chars % 100) || '.' || (doc_id % 10)
      #         ELSE '' END
      #    || CASE WHEN doc_id % 5 = 0 THEN ', "flag": true' ELSE '' END
      #    || '}' AS props
      #  FROM documents),
      #kv AS (SELECT unnest(json_keys(props)) AS key, props FROM j),
      #tv AS (SELECT key, json_extract_string(props, '$.' || key) AS v FROM kv),
      #t AS (SELECT key,
      #    CASE WHEN regexp_full_match(v, '-?[0-9]+') THEN 'long'
      #         WHEN regexp_full_match(v, '-?[0-9]+\.[0-9]+') THEN 'double'
      #         WHEN v IN ('true', 'false') THEN 'bool'
      #         ELSE 'string' END AS vtype, v
      #  FROM tv)
      #SELECT key, vtype, count(*) AS n, min(v) AS min_v, max(v) AS max_v
      #FROM t GROUP BY 1, 2 ORDER BY key, vtype""".stripMargin('#')

  // ---------------------------------------------------------------- q20
  /** Exact dedup: one representative (min id) per distinct text. */
  val q20: Q = (s, dir) =>
    Dedup.exact(corpusExact(s, dir), "doc_id", col("text")).orderBy("doc_id")
  val q20Sql: String =
    s"""WITH corpus AS ($corpusExactSql)
       |SELECT min(id) AS doc_id, count(*) AS n_dups FROM corpus
       |GROUP BY text ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q144
  /** Cross-source duplication matrix ([[Dedup.crossGroupDupMatrix]]):
    * exact-duplicate pair counts per unordered source pair over the
    * corpus + a planted "recrawl" source (every 7th document re-ingested
    * under a new id) — the provenance-overlap report behind "which
    * source do we drop". The engine never materializes pairs (per-key
    * per-source counts → c_a·c_b / c·(c−1)/2 combinatorics); the oracle
    * replays the O(k²) fingerprint self-join — an independent
    * algorithm, so agreement checks the combinatorics.
    */
  val q144: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "source", "text")
    val corpus = d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        lit("recrawl").as("source"), col("text")))
    Dedup.crossGroupDupMatrix(corpus, "doc_id", "source", md5(col("text")))
      .orderBy("grp_a", "grp_b")
  }
  val q144Sql: String =
    """WITH corpus AS (SELECT doc_id, source, text FROM documents
      |  UNION ALL SELECT doc_id+3000000, 'recrawl', text
      |  FROM documents WHERE doc_id%7=0),
      |fp AS (SELECT doc_id, source, md5(text) AS k FROM corpus),
      |pairs AS (SELECT least(a.source, b.source) AS grp_a,
      |    greatest(a.source, b.source) AS grp_b
      |  FROM fp a JOIN fp b ON a.k = b.k AND a.doc_id < b.doc_id)
      |SELECT grp_a, grp_b, count(*) AS n_dup_pairs FROM pairs
      |GROUP BY 1, 2 ORDER BY grp_a, grp_b""".stripMargin

  // ---------------------------------------------------------------- q21
  /** N-gram Jaccard near-dup pairs via the inverted-index candidate join,
    * with document-frequency pruning (df > 64) of hot shingles from the
    * index: intersections count pruned shingles only, union sizes stay
    * exact (see Dedup.jaccardPairs scaladoc for the distortion bound).
    */
  val q21: Q = (s, dir) => {
    val sh = Dedup.hashedShingleTable(corpusNear(s, dir), "doc_id", "text", 3)
    Dedup.jaccardPairs(sh, 0.8, maxDocFreq = Some(64L))
      .orderBy("id_a", "id_b")
  }
  val q21Sql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |$shingleCtes,
       |hot AS (SELECT shingle FROM shh GROUP BY shingle HAVING count(*) > 64),
       |shp AS (SELECT id, shingle FROM shh WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT id_a, id_b,
       |    round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 4) AS jac
       |  FROM pairs JOIN sz sa ON sa.id = pairs.id_a
       |             JOIN sz sb ON sb.id = pairs.id_b)
       |SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q111
  /** documents + 40-token EXCERPT copies of every 7th doc — the
    * asymmetric-duplicate fixture: an excerpt's shingles are fully
    * contained in its source (containment = 1.0) while Jaccard is
    * ~40/len (tiny for long docs), so Jaccard/MinHash thresholds
    * structurally miss the pair.
    */
  private def corpusExcerpt(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(slice(split(lower(col("text")), "\\s+"), 1, 40), " ")
          .as("text")))
  }
  private val corpusExcerptSql =
    """SELECT doc_id AS id, text FROM documents
      |UNION ALL SELECT doc_id+2000000 AS id,
      |  array_to_string(string_split_regex(lower(text), '\s+')[1:40], ' ') AS text
      |FROM documents WHERE doc_id%7=0""".stripMargin

  /** Containment dedup pairs ([[Dedup.containmentPairs]]): C = inter /
    * min(|A|,|B|) over the same df-pruned inverted-index candidate join
    * as q21 — the sub/superset-duplicate pass Jaccard cannot express.
    */
  val q111: Q = (s, dir) => {
    val sh = Dedup.hashedShingleTable(corpusExcerpt(s, dir), "doc_id", "text", 3)
    Dedup.containmentPairs(sh, 0.8, maxDocFreq = Some(64L))
      .orderBy("id_a", "id_b")
  }
  val q111Sql: String =
    s"""WITH corpus AS ($corpusExcerptSql),
       |$shingleCtes,
       |hot AS (SELECT shingle FROM shh GROUP BY shingle HAVING count(*) > 64),
       |shp AS (SELECT id, shingle FROM shh WHERE shingle NOT IN (SELECT shingle FROM hot)),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.id < b.id
       |  GROUP BY 1, 2),
       |cont AS (
       |  SELECT id_a, id_b,
       |    round(CAST(inter AS DOUBLE)/least(sa.sz, sb.sz), 4) AS containment
       |  FROM pairs JOIN sz sa ON sa.id = pairs.id_a
       |             JOIN sz sb ON sb.id = pairs.id_b)
       |SELECT id_a, id_b, containment FROM cont WHERE containment >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q22
  /** MinHash + LSH banding near-dup: band-collision candidates verified
    * with exact Jaccard.
    */
  val q22: Q = (s, dir) =>
    Dedup.minhashLshPairs(corpusNear(s, dir), "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .orderBy("id_a", "id_b")
  val q22Sql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |$shingleCtes,
       |hl_t AS (SELECT id, list(shingle % 1000000007) AS hl FROM shh GROUP BY id),
       |fb AS (SELECT id, [('0x'||substr(md5(lower(text)),1,12))::BIGINT % 1000000007] AS hl
       |  FROM corpus WHERE id NOT IN (SELECT id FROM shh)),
       |hs AS (SELECT * FROM hl_t UNION ALL SELECT * FROM fb),
       |sig AS (SELECT id, list_transform(range(16),
       |    i -> list_min(list_transform(hl, h -> ((i*2+1)*h + 12289*i) % 1000000007))) AS sig FROM hs),
       |bands AS (SELECT id, band,
       |    array_to_string(sig[band*4+1:band*4+4], '_') AS band_key
       |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band) bs),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM cand c JOIN shh a ON a.id = c.id_a
       |              JOIN shh b ON b.id = c.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2),
       |jac AS (SELECT id_a, id_b,
       |    round(CAST(inter AS DOUBLE)/(sa.sz + sb.sz - inter), 4) AS jac
       |  FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b)
       |SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.5
       |ORDER BY id_a, id_b""".stripMargin

  // --------------------------------------------------------------- q180
  /** Hot-bucket-capped MinHash LSH ([[Dedup.minhashLshPairs]] with
    * `maxBucket`): band buckets larger than the cap are SKIPPED before
    * the candidate self-join. One shared band key (boilerplate suffix,
    * template page, degenerate signature) makes the candidate join
    * quadratic in that bucket's size — the round-10 scale run measured
    * this mode live (docs/SCALE.md); the cap is the standard production
    * recall trade that bounds per-bucket fan-out a priori. Fixture
    * plants 4 extra EXACT copies of every 25th doc: a 5-member
    * identical cluster collides in ALL four bands, so cap=4 drops it
    * everywhere (deliberate, visible recall loss) while ordinary
    * variant pairs (bucket size 2) are untouched. The oracle is q22's
    * replay over the extended corpus with the same HAVING-cap filter.
    */
  val q180: Q = (s, dir) => {
    // base + near-copy + 4 exact hot copies from ONE documents scan
    // (see corpusNear) — the 6-branch union form scanned text six times
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = d.select(explode(concat(
        array(struct(col("doc_id").as("doc_id"), col("text").as("text"))),
        when(col("doc_id") % 10 === 0,
          array(struct((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" zq zq zq")).as("text"))))
          .otherwise(noDocs),
        when(col("doc_id") % 25 === 0,
          array((2 to 5).map(k =>
            struct((col("doc_id") + k * 1000000L).as("doc_id"),
              col("text").as("text"))): _*))
          .otherwise(noDocs))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
    Dedup.minhashLshPairs(corpus,
        "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
        threshold = 0.5, maxBucket = Some(4L))
      .orderBy("id_a", "id_b")
  }
  val q180Sql: String = {
    val marker = "cand AS (SELECT DISTINCT"
    val joinSrc = "FROM bands a JOIN bands b"
    require(q22Sql.contains(marker) && q22Sql.contains(joinSrc),
      "q180 oracle derives from q22's replay")
    val corpusExt = corpusNearSql + (2 to 5).map(k =>
      s"\nUNION ALL SELECT doc_id+${k}000000 AS id, text FROM documents WHERE doc_id%25=0")
      .mkString
    q22Sql
      .replace(corpusNearSql, corpusExt)
      .replace(marker,
        """hotb AS (SELECT band, band_key FROM bands
          |  GROUP BY 1, 2 HAVING count(*) > 4),
          |bands2 AS (SELECT b.* FROM bands b WHERE NOT EXISTS (
          |  SELECT 1 FROM hotb h
          |  WHERE h.band = b.band AND h.band_key = b.band_key)),
          |cand AS (SELECT DISTINCT""".stripMargin)
      .replace(joinSrc, "FROM bands2 a JOIN bands2 b")
  }

  // --------------------------------------------------------------- q156
  /** LSH banding calibration ([[Dedup.lshCalibration]]): the q22
    * pipeline's candidate pairs histogrammed by exact-Jaccard decile
    * next to the (16, 4)-banding S-curve catch probability at each
    * decile midpoint — the parameter-tuning report read before
    * committing a banding to a 100 TB dedup run. Observed counts come
    * only from band collisions (never all-pairs ground truth), the
    * decile is the exact integer (inter·10) div union, and the S-curve
    * is a literal IEEE multiplication chain (no pow()) — so the whole
    * report replays bit-for-bit from q22's oracle CTEs.
    */
  val q156: Q = (s, dir) => {
    Dedup.lshCalibration(corpusNear(s, dir),
      "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4)
      .orderBy("decile")
  }
  val q156Sql: String = {
    val marker = "jac AS (SELECT id_a"
    require(q22Sql.contains(marker), "q156 oracle derives from q22's replay")
    q22Sql.substring(0, q22Sql.indexOf(marker)) +
      """dec AS (SELECT c.id_a, c.id_b,
        |    least(9, (inter * 10) // (sa.sz + sb.sz - inter)) AS decile
        |  FROM inter c JOIN sz sa ON sa.id = c.id_a
        |               JOIN sz sb ON sb.id = c.id_b),
        |agg AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM dec GROUP BY 1),
        |cal AS (SELECT decile, n_pairs,
        |    CAST(decile*2+1 AS DOUBLE) / 20.0 AS s FROM agg)
        |SELECT CAST(decile AS BIGINT) AS decile, n_pairs,
        |  CAST(floor((1.0 - (1.0-s*s*s*s)*(1.0-s*s*s*s)*(1.0-s*s*s*s)
        |    *(1.0-s*s*s*s)) * 1000000.0 + 0.5) AS BIGINT)
        |    AS catch_p_micro
        |FROM cal ORDER BY decile""".stripMargin
  }

  // --------------------------------------------------------------- q104
  /** Incremental corpus dedup ([[Dedup.minhashLshPairsDelta]]):
    * the near-dup variants arrive as a FRESH batch against the original
    * documents as the standing corpus — candidates fan out only from
    * the fresh side's bands (fresh×corpus ∪ fresh×fresh, never
    * corpus×corpus). The oracle is the BATCH q22 replay over the union
    * restricted to fresh-involving pairs: identical output proves the
    * one-sided candidate join loses nothing.
    */
  val q104: Q = (s, dir) => {
    val base = Tables.documents(s, dir).select("doc_id", "text")
    val fresh = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text"))
    Dedup.minhashLshPairsDelta(base, fresh,
      "doc_id", "text", shingleN = 3, numHashes = 16, bands = 4,
      threshold = 0.5)
      .orderBy("id_a", "id_b")
  }
  // fresh-membership mod 1e9: see Frontier2Queries.q232Sql's note
  val q104Sql: String = {
    val tail = "SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.5"
    require(q22Sql.contains(tail), "q104 oracle derives from q22's replay")
    q22Sql.replace(tail,
      tail + " AND (id_a % 1000000000 >= 1000000 OR id_b % 1000000000 >= 1000000)")
  }

  // ---------------------------------------------------------------- q23
  /** 32-bit SimHash per document (majority vote over token-hash bits),
    * via the explode → single-grouped-agg formulation (one token-hash
    * pass; the scalar column version recomputes the pipeline per bit).
    */
  val q23: Q = (s, dir) =>
    Dedup.simhashTable(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q23Sql: String = {
    val terms = (0 until 32).map { b =>
      s"(CASE WHEN 2*len(list_filter(ht, h -> ((h >> $b) & 1) = 1)) > len(ht) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ht_t AS (SELECT doc_id,
       |  list_transform(list_distinct(string_split_regex(lower(text), '\\s+')),
       |    t -> ('0x'||substr(md5(t),1,12))::BIGINT) AS ht FROM documents)
       |SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM ht_t
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q24
  /** Brute-force cosine top-5 for the first 10 query vectors (exact
    * integer-quantized dot products).
    */
  val q24: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.cosineTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .orderBy("query_id", "rank")
  }
  val q24Sql: String =
    """WITH qv AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    round(list_dot_product(q.q, b.q) /
      |      (sqrt(list_dot_product(q.q, q.q)) * sqrt(list_dot_product(b.q, b.q))), 6) AS cos
      |  FROM qv b CROSS JOIN qv q
      |  WHERE q.vec_id < 10 AND b.vec_id <> q.vec_id),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
      |SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------------------- q145
  /** Hard-negative mining ([[Similarity.hardNegatives]]): for each of
    * the first 10 anchor vectors, the 5 most-similar vectors with a
    * DIFFERENT label — the near-the-margin negatives contrastive
    * training needs (uniform negatives are too easy to teach the
    * boundary). Label inequality prunes BEFORE the bounded top-k, same
    * broadcast-anchor map-only scan as q24.
    */
  val q145: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", 5)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label",
        "rank", "cos")
      .orderBy("query_id", "rank")
  }
  val q145Sql: String =
    """WITH qv AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, q.label AS query_label,
      |    b.vec_id AS neighbor_id, b.label AS neighbor_label,
      |    round(list_dot_product(q.q, b.q) /
      |      (sqrt(list_dot_product(q.q, q.q)) * sqrt(list_dot_product(b.q, b.q))), 6) AS cos
      |  FROM qv b CROSS JOIN qv q
      |  WHERE q.vec_id < 10 AND b.label <> q.label),
      |ranked AS (SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
      |SELECT query_id, query_label, neighbor_id, neighbor_label, rank, cos
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q25
  /** ANN top-k via random-hyperplane LSH buckets. Approximate relative to
    * brute force, but the md5-derived planes make the candidate sets
    * fully deterministic, so the DuckDB oracle replays the identical
    * bucketing and checks the output exactly.
    */
  val q25: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.annTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, planesPerTable = 4, tables = 8)
      .orderBy("query_id", "rank")
  }
  val q25Sql: String =
    """WITH planes AS (
      |  SELECT p, list(CASE WHEN ('0x'||substr(md5('plane_'||p||'_'||d),1,2))::BIGINT % 2 = 0
      |                      THEN 1 ELSE -1 END ORDER BY d) AS pw
      |  FROM range(32) t(p) CROSS JOIN range(64) dd(d) GROUP BY p),
      |vec AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |norms AS (SELECT id, list_dot_product(q, q) AS n FROM vec),
      |dots AS (
      |  SELECT v.id, pl.p, list_dot_product(v.q, pl.pw) AS dot
      |  FROM vec v CROSS JOIN planes pl),
      |sigs AS (
      |  SELECT id, p // 4 AS tbl,
      |    sum(CASE WHEN dot > 0 THEN 1 << (p % 4) ELSE 0 END) AS bucket
      |  FROM dots GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT q.id AS query_id, b.id AS neighbor_id
      |  FROM sigs q JOIN sigs b ON q.tbl = b.tbl AND q.bucket = b.bucket
      |  WHERE q.id < 10 AND b.id <> q.id),
      |scored AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    round(list_dot_product(vq.q, vb.q) / (sqrt(nq.n) * sqrt(nb.n)), 6) AS cos
      |  FROM cand c
      |  JOIN vec vq ON vq.id = c.query_id JOIN vec vb ON vb.id = c.neighbor_id
      |  JOIN norms nq ON nq.id = c.query_id JOIN norms nb ON nb.id = c.neighbor_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- q27
  /** ANN via IVF with the deterministic k-means coarse quantizer
    * (Similarity.kmeansCentroids): exact-integer assignment + floor-mean
    * updates mean the DuckDB oracle replays the identical training loop
    * (unrolled below) and checks the output exactly.
    */
  val q27: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4)
      .orderBy("query_id", "rank")
  }
  val q27Sql: String = {
    val (nlist, nprobe, k, iters, trainLimit, dim) = (16, 4, 5, 3, 4096, 64)
    val iterCtes = (1 to iters).map { i =>
      s"""asg$i AS (
         |  SELECT id, cell FROM (
         |    SELECT t.id, c.cell,
         |      row_number() OVER (PARTITION BY t.id ORDER BY list_dot_product(t.q, c.v) DESC, c.cell) AS rn
         |    FROM train t CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         |cent$i AS (
         |  SELECT cell, list(s ORDER BY d) AS v FROM (
         |    SELECT a.cell, dd.d,
         |      CAST(floor(CAST(sum(t.q[dd.d+1]) AS DOUBLE)/count(*)) AS BIGINT) AS s
         |    FROM asg$i a JOIN train t USING (id) CROSS JOIN range($dim) dd(d)
         |    GROUP BY 1, 2) GROUP BY cell
         |  UNION ALL
         |  SELECT cell, v FROM cent${i - 1} WHERE cell NOT IN (SELECT cell FROM asg$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH vec AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |norms AS (SELECT id, list_dot_product(q, q) AS n FROM vec),
       |train AS (SELECT id, q FROM vec ORDER BY id LIMIT $trainLimit),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS cell, q AS v
       |  FROM (SELECT id, q FROM train ORDER BY id LIMIT $nlist)),
       |$iterCtes,
       |basg AS (
       |  SELECT id, cell FROM (
       |    SELECT v.id, c.cell,
       |      row_number() OVER (PARTITION BY v.id ORDER BY list_dot_product(v.q, c.v) DESC, c.cell) AS rn
       |    FROM vec v CROSS JOIN cent$iters c) WHERE rn = 1),
       |probe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT v.id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY v.id ORDER BY list_dot_product(v.q, c.v) DESC, c.cell) AS rn
       |    FROM vec v CROSS JOIN cent$iters c WHERE v.id < 10) WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.query_id, b.id AS neighbor_id
       |  FROM probe p JOIN basg b USING (cell) WHERE b.id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    round(list_dot_product(vq.q, vb.q) / (sqrt(nq.n) * sqrt(nb.n)), 6) AS cos
       |  FROM cand c
       |  JOIN vec vq ON vq.id = c.query_id JOIN vec vb ON vb.id = c.neighbor_id
       |  JOIN norms nq ON nq.id = c.query_id JOIN norms nb ON nb.id = c.neighbor_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, cos FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q113
  /** SemDeDup ([[Similarity.semanticNearDupPairs]]): embeddings cluster
    * into deterministic k-means cells, near-dup pairs generated within
    * cells only — Σ|cell|² candidates, never n². Exact duplicates share
    * an argmax cell structurally, so the duplicated fixture rows are
    * guaranteed found; the oracle replays the full unrolled training
    * loop + assignment + cell-blocked pair join.
    */
  val q113: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    Similarity.semanticNearDupPairs(corpus, "vec_id", "embedding",
        minCos = 0.98)
      .orderBy("id_a", "id_b")
  }
  val q113Sql: String = {
    val (nlist, iters, trainLimit, dim) = (16, 3, 4096, 64)
    val iterCtes = (1 to iters).map { i =>
      s"""asg$i AS MATERIALIZED (
         |  SELECT id, cell FROM (
         |    SELECT t.id, c.cell,
         |      row_number() OVER (PARTITION BY t.id ORDER BY list_dot_product(t.q, c.v) DESC, c.cell) AS rn
         |    FROM train t CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         |cent$i AS MATERIALIZED (
         |  SELECT cell, list(s ORDER BY d) AS v FROM (
         |    SELECT a.cell, dd.d,
         |      CAST(floor(CAST(sum(t.q[dd.d+1]) AS DOUBLE)/count(*)) AS BIGINT) AS s
         |    FROM asg$i a JOIN train t USING (id) CROSS JOIN range($dim) dd(d)
         |    GROUP BY 1, 2) GROUP BY cell
         |  UNION ALL
         |  SELECT cell, v FROM cent${i - 1} WHERE cell NOT IN (SELECT cell FROM asg$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH corpus AS (
       |  SELECT vec_id AS id, embedding FROM embeddings
       |  UNION ALL SELECT vec_id+1000000, embedding FROM embeddings WHERE vec_id%20=0),
       |vec AS MATERIALIZED (
       |  SELECT id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM corpus),
       |norms AS (SELECT id, list_dot_product(q, q) AS n FROM vec),
       |train AS MATERIALIZED (SELECT id, q FROM vec ORDER BY id LIMIT $trainLimit),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS cell, q AS v
       |  FROM (SELECT id, q FROM train ORDER BY id LIMIT $nlist)),
       |$iterCtes,
       |basg AS MATERIALIZED (
       |  SELECT id, cell FROM (
       |    SELECT v.id, c.cell,
       |      row_number() OVER (PARTITION BY v.id ORDER BY list_dot_product(v.q, c.v) DESC, c.cell) AS rn
       |    FROM vec v CROSS JOIN cent$iters c) WHERE rn = 1),
       |pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    round(list_dot_product(va.q, vb.q) / (sqrt(na.n) * sqrt(nb.n)), 6) AS cos
       |  FROM basg a JOIN basg b ON a.cell = b.cell AND a.id < b.id
       |  JOIN vec va ON va.id = a.id JOIN vec vb ON vb.id = b.id
       |  JOIN norms na ON na.id = a.id JOIN norms nb ON nb.id = b.id)
       |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.98
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------------------- q118
  /** Distributed Lloyd k-means ([[graft.operators.Cluster.kmeansLloyd]]):
    * unlike the IVF coarse quantizer (driver-sample training, q27/q55)
    * BOTH steps are distributed — map-only broadcast-centroid assignment,
    * one partial-aggregated shuffle per update — so the training set is
    * the whole base, the 100 TB shape. Integer-quantized squared-euclid
    * with lowest-cluster tiebreak and floor(sum/count) means keeps every
    * engine bit-identical; the oracle replays both unrolled iterations.
    */
  val q118: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    graft.operators.Cluster.kmeansLloyd(e, "vec_id", "embedding",
        k = 8, iters = 2)
      .select(col("id").as("vec_id"),
        col("cluster").cast("long").as("cluster"), col("dist"))
      .orderBy("vec_id")
  }
  val q118Sql: String = {
    val (k, iters, dim) = (8, 2, 64)
    val iterCtes = (1 to iters).map { i =>
      s"""kasg$i AS MATERIALIZED (
         |  SELECT id, cell FROM (
         |    SELECT v.id, c.cell,
         |      row_number() OVER (PARTITION BY v.id ORDER BY
         |        list_dot_product(v.q, v.q) - 2*list_dot_product(v.q, c.v)
         |          + list_dot_product(c.v, c.v) ASC, c.cell) AS rn
         |    FROM kvec v CROSS JOIN kcent${i - 1} c) WHERE rn = 1),
         |kcent$i AS MATERIALIZED (
         |  SELECT cell, list(s ORDER BY d) AS v FROM (
         |    SELECT a.cell, dd.d,
         |      CAST(floor(CAST(sum(v.q[dd.d+1]) AS DOUBLE)/count(*)) AS BIGINT) AS s
         |    FROM kasg$i a JOIN kvec v USING (id) CROSS JOIN range($dim) dd(d)
         |    GROUP BY 1, 2) GROUP BY cell
         |  UNION ALL
         |  SELECT cell, v FROM kcent${i - 1}
         |  WHERE cell NOT IN (SELECT DISTINCT cell FROM kasg$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH kvec AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS q
       |  FROM embeddings),
       |kcent0 AS (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS cell, q AS v
       |  FROM (SELECT id, q FROM kvec ORDER BY id LIMIT $k)),
       |$iterCtes
       |SELECT v.id AS vec_id, CAST(f.cell AS BIGINT) AS cluster,
       |  CAST(list_dot_product(v.q, v.q) - 2*list_dot_product(v.q, c.v)
       |    + list_dot_product(c.v, c.v) AS BIGINT) AS dist
       |FROM (SELECT id, cell FROM (
       |    SELECT v.id, c.cell,
       |      row_number() OVER (PARTITION BY v.id ORDER BY
       |        list_dot_product(v.q, v.q) - 2*list_dot_product(v.q, c.v)
       |          + list_dot_product(c.v, c.v) ASC, c.cell) AS rn
       |    FROM kvec v CROSS JOIN kcent$iters c) WHERE rn = 1) f
       |JOIN kvec v ON v.id = f.id
       |JOIN kcent$iters c ON c.cell = f.cell
       |ORDER BY vec_id""".stripMargin
  }

  // --------------------------------------------------------------- q125
  /** Exact Gram matrix ([[Similarity.gramMatrix]]): Xᵀ X over the
    * quantized embeddings — the one-pass reduce step of distributed PCA.
    * 2080 upper-triangle cells regardless of corpus size; exact Long
    * partial sums, so the oracle replays it bit-for-bit.
    */
  val q125: Q = (s, dir) =>
    Similarity.gramMatrix(Tables.embeddings(s, dir), "embedding")
      .orderBy("i", "j")
  val q125Sql: String =
    """WITH v AS (SELECT list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE)*1000.0 + 0.5) AS BIGINT)) AS v
      |  FROM embeddings),
      |p AS (SELECT unnest(flatten(list_transform(range(len(v)), i ->
      |    list_transform(range(i, len(v)), j ->
      |      {'i': i, 'j': j, 'xy': v[i+1]*v[j+1]})))) AS c FROM v)
      |SELECT CAST(c.i AS BIGINT) AS i, CAST(c.j AS BIGINT) AS j,
      |  CAST(sum(c.xy) AS BIGINT) AS s_xy
      |FROM p GROUP BY 1, 2 ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------- q127
  /** Johnson–Lindenstrauss random projection
    * ([[Similarity.randomProjection]]): every embedding reduced to 16
    * exact-Long coordinates against the md5-derived ±1 planes — the
    * map-only compression step in front of ANN/clustering at scale. The
    * oracle regenerates the identical planes from md5 parity and replays
    * the exact integer dots bit-for-bit.
    */
  val q127: Q = (s, dir) =>
    Similarity.randomProjection(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 16)
      .orderBy("vec_id", "p")
  val q127Sql: String =
    """WITH planes AS (
      |  SELECT p, list(CASE WHEN ('0x'||substr(md5('plane_'||p||'_'||d),1,2))::BIGINT % 2 = 0
      |                      THEN 1 ELSE -1 END ORDER BY d) AS pw
      |  FROM range(16) t(p) CROSS JOIN range(64) dd(d) GROUP BY p),
      |vec AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings)
      |SELECT v.vec_id, CAST(pl.p AS BIGINT) AS p,
      |  CAST(list_dot_product(v.q, pl.pw) AS BIGINT) AS proj
      |FROM vec v CROSS JOIN planes pl
      |ORDER BY vec_id, p""".stripMargin

  // --------------------------------------------------------------- q134
  /** Nearest-class-prototype classification
    * ([[Similarity.nearestPrototype]]): every embedding re-assigned to
    * the closest per-label mean vector — the embedding-space
    * separability / label-noise check. Exact integer prototypes and
    * dots replay bit-for-bit in the oracle.
    */
  val q134: Q = (s, dir) =>
    Similarity.nearestPrototype(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label")
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  val q134Sql: String =
    """WITH vec AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |comp AS (SELECT label, i AS d,
      |    CAST(floor(CAST(sum(q[i+1]) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |      AS BIGINT) AS pv
      |  FROM vec CROSS JOIN range(64) t(i) GROUP BY 1, 2),
      |protos AS (SELECT label AS plabel, list(pv ORDER BY d) AS pv
      |  FROM comp GROUP BY 1),
      |scored AS (SELECT v.id, v.label, pr.plabel,
      |    CAST(list_dot_product(v.q, pr.pv) AS BIGINT) AS dot
      |  FROM vec v CROSS JOIN protos pr),
      |r AS (SELECT *, row_number() OVER (PARTITION BY id
      |    ORDER BY dot DESC, plabel ASC) AS rn FROM scored)
      |SELECT id AS vec_id, label, plabel AS assigned, dot AS best_dot
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------- PQ oracle pieces
  /** Shared DuckDB CTE text for vec/train (integer-quantized embeddings,
    * lowest-id training sample). MATERIALIZED throughout the PQ chains:
    * DuckDB re-inlines multiply-referenced CTEs, which turns the k-means
    * recurrence exponential without it.
    */
  private def pqVecTrainSql(trainLimit: Int): String =
    s"""vec AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |train AS MATERIALIZED (SELECT id, q FROM vec ORDER BY id LIMIT $trainLimit)""".stripMargin

  /** One unrolled L2 k-means chain + base-encode + query-table per PQ
    * subspace — the SQL replay of PqModel (Similarity.scala); shared by
    * the q55 and q56 oracles.
    */
  private def pqSubspaceCtesSql(m: Int, ksub: Int, iters: Int,
      dsub: Int): String = {
    def sliceOf(v: String, mi: Int) = s"$v[${mi * dsub + 1}:${(mi + 1) * dsub}]"
    (0 until m).map { mi =>
      val iterCtes = (1 to iters).map { i =>
        s"""m${mi}asg$i AS MATERIALIZED (
           |  SELECT id, cell FROM (
           |    SELECT t.id, c.cell,
           |      row_number() OVER (PARTITION BY t.id ORDER BY 2*list_dot_product(t.s, c.v) - list_dot_product(c.v, c.v) DESC, c.cell) AS rn
           |    FROM sub$mi t CROSS JOIN m${mi}cent${i - 1} c) WHERE rn = 1),
           |m${mi}cent$i AS MATERIALIZED (
           |  SELECT cell, list(s ORDER BY d) AS v FROM (
           |    SELECT a.cell, dd.d,
           |      CAST(floor(CAST(sum(t.s[dd.d+1]) AS DOUBLE)/count(*)) AS BIGINT) AS s
           |    FROM m${mi}asg$i a JOIN sub$mi t USING (id) CROSS JOIN range($dsub) dd(d)
           |    GROUP BY 1, 2) GROUP BY cell
           |  UNION ALL
           |  SELECT cell, v FROM m${mi}cent${i - 1} WHERE cell NOT IN (SELECT cell FROM m${mi}asg$i))""".stripMargin
      }.mkString(",\n")
      s"""sub$mi AS MATERIALIZED (SELECT id, ${sliceOf("q", mi)} AS s FROM train),
         |m${mi}cent0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY id) - 1 AS cell, s AS v
         |  FROM (SELECT id, s FROM sub$mi ORDER BY id LIMIT $ksub)),
         |$iterCtes,
         |m${mi}code AS MATERIALIZED (
         |  SELECT id, cell AS code FROM (
         |    SELECT v.id, c.cell,
         |      row_number() OVER (PARTITION BY v.id ORDER BY 2*list_dot_product(${sliceOf("v.q", mi)}, c.v) - list_dot_product(c.v, c.v) DESC, c.cell) AS rn
         |    FROM vec v CROSS JOIN m${mi}cent$iters c) WHERE rn = 1),
         |m${mi}qt AS MATERIALIZED (
         |  SELECT v.id AS query_id, c.cell,
         |    list_dot_product(${sliceOf("v.q", mi)}, c.v) AS dt
         |  FROM vec v CROSS JOIN m${mi}cent$iters c WHERE v.id < 10)""".stripMargin
    }.mkString(",\n")
  }

  /** The per-base-vector code tuple CTE (joins every subspace's code). */
  private def pqCodesCteSql(m: Int): String = {
    val codeJoin = (1 until m)
      .map(mi => s"JOIN m${mi}code x$mi USING (id)").mkString(" ")
    val codeCols = (0 until m).map(mi => s"x$mi.code AS c$mi").mkString(", ")
    s"codes AS MATERIALIZED (SELECT id, $codeCols FROM m0code x0 $codeJoin)"
  }

  /** The m ADC lookup-table joins, anchored on a frame aliased `c` with
    * (query_id) and `b` with code columns c0..c{m-1}.
    */
  private def pqQtJoinsSql(m: Int): String = (0 until m).map(mi =>
    s"JOIN m${mi}qt t$mi ON t$mi.query_id = c.query_id AND t$mi.cell = b.c$mi")
    .mkString("\n ")

  private def pqAdcSumSql(m: Int): String =
    (0 until m).map(mi => s"t$mi.dt").mkString(" + ")

  // ---------------------------------------------------------------- q55
  /** ANN via product quantization (Similarity.pqTopK): per-subspace
    * deterministic k-means codebooks, m-code encoding, exact-integer ADC
    * lookup scoring. The oracle unrolls all 8 subspace training loops
    * (the q27 pattern, per subvector) and replays codes, tables, and
    * ranking identically.
    */
  val q55: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, m = 16, ksub = 64)
      .orderBy("query_id", "rank")
  }
  val q55Sql: String = {
    val (m, ksub, iters, trainLimit, dsub, k) = (16, 64, 3, 4096, 4, 5)
    s"""WITH ${pqVecTrainSql(trainLimit)},
       |${pqSubspaceCtesSql(m, ksub, iters, dsub)},
       |${pqCodesCteSql(m)},
       |cand AS MATERIALIZED (
       |  SELECT q.query_id, b.id
       |  FROM (SELECT DISTINCT query_id FROM m0qt) q CROSS JOIN codes b
       |  WHERE b.id <> q.query_id),
       |adc AS (
       |  SELECT c.query_id, c.id AS neighbor_id, ${pqAdcSumSql(m)} AS adc
       |  FROM cand c JOIN codes b ON b.id = c.id
       | ${pqQtJoinsSql(m)}),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, CAST(adc AS BIGINT) AS adc
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- q157
  /** PQ distortion calibration ([[Similarity.pqCalibration]]): per
    * subquantizer of the q55 codebook, the exact-integer reconstruction
    * error and codebook-cell utilization — the ANN sibling of the q156
    * LSH report: which subspaces the (16, 64) compression actually
    * hurts, and whether any codebook has dead cells. The oracle reuses
    * q55's per-subspace training chains verbatim and adds one error
    * CTE per subspace; agreement proves codebooks, encode argmins, and
    * the ‖sub − c‖² arithmetic all replay bit-for-bit.
    */
  val q157: Q = (s, dir) =>
    Similarity.pqCalibration(Tables.embeddings(s, dir), "vec_id",
      "embedding", m = 16, ksub = 64)
      .orderBy("mi")
  val q157Sql: String = {
    val (m, ksub, iters, trainLimit, dsub) = (16, 64, 3, 4096, 4)
    def sliceOf(v: String, mi: Int) =
      s"$v[${mi * dsub + 1}:${(mi + 1) * dsub}]"
    val errCtes = (0 until m).map { mi =>
      s"""m${mi}err AS (
         |  SELECT v.id, $mi AS mi, c.cell AS code,
         |    list_dot_product(${sliceOf("v.q", mi)}, ${sliceOf("v.q", mi)})
         |      + list_dot_product(c.v, c.v)
         |      - 2*list_dot_product(${sliceOf("v.q", mi)}, c.v) AS sq_err
         |  FROM vec v JOIN m${mi}code k ON v.id = k.id
         |             JOIN m${mi}cent$iters c ON c.cell = k.code)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until m).map(mi => s"SELECT * FROM m${mi}err")
      .mkString(" UNION ALL ")
    s"""WITH ${pqVecTrainSql(trainLimit)},
       |${pqSubspaceCtesSql(m, ksub, iters, dsub)},
       |$errCtes,
       |allerr AS ($unions)
       |SELECT CAST(mi AS BIGINT) AS mi,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(DISTINCT code) AS BIGINT) AS n_cells_used,
       |  CAST(sum(sq_err) AS BIGINT) AS total_sq_err,
       |  CAST((CAST(sum(sq_err) AS BIGINT) * 1000) // count(*) AS BIGINT)
       |    AS mean_sq_err_milli
       |FROM allerr GROUP BY mi ORDER BY mi""".stripMargin
  }

  // ---------------------------------------------------------------- q56
  /** The full IVF+PQ ANN pipeline (Similarity.ivfPqTopK): coarse k-means
    * cells prune candidates, PQ ADC scores only the probed candidates
    * from their 16-code representation. The oracle composes q27's coarse
    * chain with q55's 16 subspace chains (all MATERIALIZED) and replays
    * probing, encoding, and ADC ranking exactly.
    */
  val q56: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), "vec_id",
      "embedding", k = 5, nlist = 16, nprobe = 4, m = 16, ksub = 64)
      .orderBy("query_id", "rank")
  }

  // --------------------------------------------------------------- q107
  /** The PERSISTED form of q56 ([[graft.operators.AnnIndex]]): build the
    * IVF+PQ index to parquet (coarse centroids, codebooks, cell-
    * partitioned codes), then answer the same queries from the stored
    * index alone — identical arithmetic end to end, so the oracle is
    * q56's SQL verbatim; a drift between the one-shot chain and the
    * stored-index path fails the hash. The build is fingerprint-gated
    * ([[graft.operators.AnnIndex.ensureBuild]]): steady-state runs pay
    * one content-tag aggregate + the probe, the deployment shape —
    * a corpus or parameter change still forces the rebuild.
    */
  val q107: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val idx = graft.Tables.storeDir("ann_index", dir)
    graft.operators.AnnIndex.ensureBuild(e, "vec_id", "embedding", idx,
      nlist = 16, m = 16, ksub = 64)
    graft.operators.AnnIndex.probe(s, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", idx, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  // --------------------------------------------------------------- q234
  /** Cell-size audit of a skew-appended ANN index
    * ([[graft.operators.AnnIndex.cellAudit]]): build the q107-shaped
    * index into its own store dir, then ingest two append waves of 50
    * copies each of the 5 lowest-id vectors — identical embeddings land
    * in the SAME coarse cells (frozen centroids), so at most 5 cells
    * balloon while the rest stay at their build-time share. The audit
    * reports per-cell counts, per-mille share, and the hot flag
    * (n·nlist > 2·total, integer cross-multiplied). The oracle replays
    * the frozen-centroid assignment (q56's coarse chain) and adds
    * 100 copies per seed cell — a drift in either the append-side
    * assignment arithmetic or the audit aggregation fails the hash.
    * Build AND append run under ONE ContentGate.ensure (its own tag, so
    * this store never collides with q107's): a crash mid-append leaves
    * no FINGERPRINT and the next run rebuilds from scratch — partial
    * append state can never serve an audit.
    */
  val q234: Q = (s, dir) => {
    import graft.operators.{AnnIndex, ContentGate}
    val e = Tables.embeddings(s, dir)
    val idx = graft.Tables.storeDir("ann_audit", dir)
    val tag = ContentGate.tag(e, col("vec_id"),
        concat_ws(",", col("embedding").cast("array<string>")), lit(true)) +
      ";nlist=16,m=16,ksub=64,it=3,tl=4096" +
      s";v=${AnnIndex.FormatVersion};audit=1"
    ContentGate.ensure(idx, tag) {
      AnnIndex.build(e, "vec_id", "embedding", idx,
        nlist = 16, m = 16, ksub = 64)
      val seeds = e.filter(col("vec_id") < 5)
      (1 to 2).foreach { wave =>
        val batch = seeds
          .select(explode(sequence(lit(0L), lit(49L))).as("k"),
            col("vec_id"), col("embedding"))
          .select((lit(1000000L) * wave + col("k") * 100L + col("vec_id"))
            .as("vec_id"), col("embedding"))
        AnnIndex.append(s, batch, "vec_id", "embedding", idx)
      }
    }
    AnnIndex.cellAudit(s, idx)
      .select("cell", "n", "share_pm", "hot")
      .orderBy("cell")
  }
  val q234Sql: String = {
    val (iters, trainLimit, dim) = (3, 4096, 64)
    val coarseCtes = (1 to iters).map { i =>
      s"""asg$i AS MATERIALIZED (
         |  SELECT id, cell FROM (
         |    SELECT t.id, c.cell,
         |      row_number() OVER (PARTITION BY t.id ORDER BY list_dot_product(t.q, c.v) DESC, c.cell) AS rn
         |    FROM train t CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         |cent$i AS MATERIALIZED (
         |  SELECT cell, list(s ORDER BY d) AS v FROM (
         |    SELECT a.cell, dd.d,
         |      CAST(floor(CAST(sum(t.q[dd.d+1]) AS DOUBLE)/count(*)) AS BIGINT) AS s
         |    FROM asg$i a JOIN train t USING (id) CROSS JOIN range($dim) dd(d)
         |    GROUP BY 1, 2) GROUP BY cell
         |  UNION ALL
         |  SELECT cell, v FROM cent${i - 1} WHERE cell NOT IN (SELECT cell FROM asg$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${pqVecTrainSql(trainLimit)},
       |cent0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS cell, q AS v
       |  FROM (SELECT id, q FROM train ORDER BY id LIMIT 16)),
       |$coarseCtes,
       |basg AS MATERIALIZED (
       |  SELECT id, cell FROM (
       |    SELECT v.id, c.cell,
       |      row_number() OVER (PARTITION BY v.id ORDER BY list_dot_product(v.q, c.v) DESC, c.cell) AS rn
       |    FROM vec v CROSS JOIN cent$iters c) WHERE rn = 1),
       |seedcells AS (SELECT cell, count(*) AS c5 FROM basg WHERE id < 5 GROUP BY cell),
       |aug AS (
       |  SELECT b.cell,
       |    count(*) + 100 * coalesce(any_value(s.c5), 0) AS n
       |  FROM basg b LEFT JOIN seedcells s ON b.cell = s.cell
       |  GROUP BY b.cell),
       |tot AS (SELECT sum(n) AS total FROM aug)
       |SELECT CAST(cell AS INT) AS cell, CAST(n AS BIGINT) AS n,
       |  CAST(n * 1000 // total AS BIGINT) AS share_pm,
       |  CAST(CASE WHEN n * 16 > 2 * total THEN 1 ELSE 0 END AS BIGINT) AS hot
       |FROM aug, tot ORDER BY cell""".stripMargin
  }
  val q56Sql: String = {
    val (nlist, nprobe, k, iters, trainLimit, dim) = (16, 4, 5, 3, 4096, 64)
    val (m, ksub, dsub) = (16, 64, 4)
    val coarseCtes = (1 to iters).map { i =>
      s"""asg$i AS MATERIALIZED (
         |  SELECT id, cell FROM (
         |    SELECT t.id, c.cell,
         |      row_number() OVER (PARTITION BY t.id ORDER BY list_dot_product(t.q, c.v) DESC, c.cell) AS rn
         |    FROM train t CROSS JOIN cent${i - 1} c) WHERE rn = 1),
         |cent$i AS MATERIALIZED (
         |  SELECT cell, list(s ORDER BY d) AS v FROM (
         |    SELECT a.cell, dd.d,
         |      CAST(floor(CAST(sum(t.q[dd.d+1]) AS DOUBLE)/count(*)) AS BIGINT) AS s
         |    FROM asg$i a JOIN train t USING (id) CROSS JOIN range($dim) dd(d)
         |    GROUP BY 1, 2) GROUP BY cell
         |  UNION ALL
         |  SELECT cell, v FROM cent${i - 1} WHERE cell NOT IN (SELECT cell FROM asg$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${pqVecTrainSql(trainLimit)},
       |cent0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY id) - 1 AS cell, q AS v
       |  FROM (SELECT id, q FROM train ORDER BY id LIMIT $nlist)),
       |$coarseCtes,
       |basg AS MATERIALIZED (
       |  SELECT id, cell FROM (
       |    SELECT v.id, c.cell,
       |      row_number() OVER (PARTITION BY v.id ORDER BY list_dot_product(v.q, c.v) DESC, c.cell) AS rn
       |    FROM vec v CROSS JOIN cent$iters c) WHERE rn = 1),
       |probe AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT v.id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY v.id ORDER BY list_dot_product(v.q, c.v) DESC, c.cell) AS rn
       |    FROM vec v CROSS JOIN cent$iters c WHERE v.id < 10) WHERE rn <= $nprobe),
       |${pqSubspaceCtesSql(m, ksub, iters, dsub)},
       |${pqCodesCteSql(m)},
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, b.id
       |  FROM probe p JOIN basg b USING (cell) WHERE b.id <> p.query_id),
       |adc AS (
       |  SELECT c.query_id, c.id AS neighbor_id, ${pqAdcSumSql(m)} AS adc
       |  FROM cand c JOIN codes b ON b.id = c.id
       | ${pqQtJoinsSql(m)}),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, CAST(adc AS BIGINT) AS adc
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- q26
  /** Embedding near-dup pairs (cos ≥ 0.999) blocked on the COMPOSITE
    * (label × RHP-LSH bucket) key, on a corpus with planted exact
    * copies — the label-constrained dedup ("only dedup within a class")
    * tiled for scale. A bare label block has FIXED cardinality, so
    * block sizes grow linearly with the corpus and candidate pairs
    * quadratically (the round-10 scale run measured 12.6× at 10× —
    * docs/SCALE.md); intersecting with the 8-plane bucket makes the
    * occupied-block count grow with the data while cos ≥ 0.999 pairs
    * still collide, and the oracle replays the identical deterministic
    * blocking. The bucket intersection is LOSSY for non-identical
    * pairs: a genuine cos = 0.999 pair disagrees on a random plane's
    * sign with probability arccos(0.999)/π ≈ 1.42%, so across 8 planes
    * ≈ 10.8% of such borderline pairs land in different buckets and are
    * dropped (planted EXACT copies always collide — every plane sign
    * is equal by construction). That recall trade is the same S-curve
    * q156 calibrates for MinHash LSH; callers needing exact
    * label-blocked recall at bounded corpus size use
    * [[Similarity.nearDupPairs]] with the bare label block —
    * SkewAndIvfSpec pins, on this query's fixture, that the composite
    * block only PRUNES the bare-label result and that every planted
    * exact copy survives the pruning.
    */
  val q26: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val corpus = e.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label")))
    val tiled = corpus.withColumn("_blk", struct(col("label"),
      Similarity.rhpBucket(
        graft.functions.Portable.quantize(col("embedding"), Similarity.Scale),
        Similarity.planeMatrix(8, 64))))
    Similarity.nearDupPairs(tiled, "vec_id", "embedding", 0.999, Some("_blk"))
      .orderBy("id_a", "id_b")
  }
  val q26Sql: String =
    """WITH planes AS (
      |  SELECT p, list(CASE WHEN ('0x'||substr(md5('plane_'||p||'_'||d),1,2))::BIGINT % 2 = 0
      |                      THEN 1 ELSE -1 END ORDER BY d) AS pw
      |  FROM range(8) t(p) CROSS JOIN range(64) dd(d) GROUP BY p),
      |corpus AS (
      |  SELECT vec_id AS id, embedding, label FROM embeddings
      |  UNION ALL SELECT vec_id+1000000, embedding, label FROM embeddings WHERE vec_id%20=0),
      |qv AS (SELECT id, label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q FROM corpus),
      |blocks AS (
      |  SELECT v.id, v.label,
      |    sum(CASE WHEN list_dot_product(v.q, pl.pw) > 0 THEN 1 << pl.p ELSE 0 END) AS block
      |  FROM qv v CROSS JOIN planes pl GROUP BY v.id, v.label),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |    round(list_dot_product(va.q, vb.q) /
      |      (sqrt(list_dot_product(va.q, va.q)) * sqrt(list_dot_product(vb.q, vb.q))), 6) AS cos
      |  FROM blocks a JOIN blocks b
      |    ON a.label = b.label AND a.block = b.block AND a.id < b.id
      |  JOIN qv va ON va.id = a.id JOIN qv vb ON vb.id = b.id)
      |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.999
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Embedding near-dup pairs blocked by RHP-LSH bucket — the no-label
    * scale path of q26. Deterministic planes ⇒ exact oracle.
    */
  val q28: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    Similarity.nearDupPairsLsh(corpus, "vec_id", "embedding", 0.999, planes = 8)
      .orderBy("id_a", "id_b")
  }
  val q28Sql: String =
    """WITH planes AS (
      |  SELECT p, list(CASE WHEN ('0x'||substr(md5('plane_'||p||'_'||d),1,2))::BIGINT % 2 = 0
      |                      THEN 1 ELSE -1 END ORDER BY d) AS pw
      |  FROM range(8) t(p) CROSS JOIN range(64) dd(d) GROUP BY p),
      |corpus AS (
      |  SELECT vec_id AS id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id+1000000, embedding FROM embeddings WHERE vec_id%20=0),
      |vec AS (
      |  SELECT id, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM corpus),
      |blocks AS (
      |  SELECT v.id,
      |    sum(CASE WHEN list_dot_product(v.q, pl.pw) > 0 THEN 1 << pl.p ELSE 0 END) AS block
      |  FROM vec v CROSS JOIN planes pl GROUP BY v.id),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |    round(list_dot_product(va.q, vb.q) /
      |      (sqrt(list_dot_product(va.q, va.q)) * sqrt(list_dot_product(vb.q, vb.q))), 6) AS cos
      |  FROM blocks a JOIN blocks b ON a.block = b.block AND a.id < b.id
      |  JOIN vec va ON va.id = a.id JOIN vec vb ON vb.id = b.id)
      |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.999
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Skew-mitigated aggregation: two-phase salted count/sum over a
    * deterministic row-hash salt — identical results to the plain
    * aggregation (the oracle IS the plain aggregation).
    */
  val q29: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
      .withColumn("qty_c", round(col("l_quantity") * 100).cast("long"))
    graft.operators.Skew.saltedCountSum(li, Seq("l_returnflag"), Some("qty_c"))
      .orderBy("l_returnflag")
  }
  val q29Sql: String =
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS s
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Language-ID heuristic (stopword ratio). */
  val q30: Q = (s, dir) =>
    Spread.ensure(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id") +: TextOps.langId(col("text")): _*)
      .orderBy("doc_id")
  val q30Sql: String = {
    val stop = TextOps.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens,
       |  CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |    t -> list_contains($stop, t))) AS BIGINT) AS stop_hits,
       |  CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> list_contains($stop, t))) * 5
       |      >= len(string_split_regex(lower(text), '\\s+'))
       |    THEN 'en' ELSE 'other' END AS lang_pred
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q31
  /** Quality metrics + integer quality score. */
  val q31: Q = (s, dir) =>
    Spread.ensure(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id") +: TextOps.quality(col("text")): _*)
      .orderBy("doc_id")
  val q31Sql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_m,
      |  CAST(len(w) AS BIGINT) AS n_tokens,
      |  round(CAST(list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b) AS DOUBLE)
      |    / len(w), 4) AS mean_tok_len,
      |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
      |  CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_space,
      |  CAST((CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 1 ELSE 0 END)
      |    + (CASE WHEN len(w) >= 10 THEN 1 ELSE 0 END)
      |    + (CASE WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2
      |        >= length(text) THEN 1 ELSE 0 END) AS BIGINT) AS quality_score
      |FROM (SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS w
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Token counting: whitespace + BPE-ish regex. */
  val q32: Q = (s, dir) =>
    Spread.ensure(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id") +: TextOps.tokenCounts(lower(col("text"))): _*)
      .orderBy("doc_id")
  val q32Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Document fingerprint: min-md5 over word 4-gram shingles, via the
    * explode → groupBy-min formulation (codegen'd md5 per shingle row
    * instead of a per-row interpreted lambda chain).
    */
  val q33: Q = (s, dir) =>
    TextOps.fingerprintTable(Tables.documents(s, dir), "doc_id", "text", 4)
      .orderBy("doc_id")
  val q33Sql: String =
    """SELECT doc_id,
      |  CASE WHEN len(w) >= 4
      |    THEN list_min(list_transform(
      |      list_distinct(list_transform(range(len(w)-3), i -> array_to_string(w[i+1:i+4], ' '))),
      |      s -> md5(s)))
      |    ELSE md5(text) END AS fingerprint
      |FROM (SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS w
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Whole-document polynomial rolling hash (Rabin–Karp primitive):
    * order-sensitive fold over character codes, exact mod arithmetic.
    */
  val q34: Q = (s, dir) =>
    Spread.ensure(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"), TextOps.rollingHash(col("text")).as("rolling_hash"))
      .orderBy("doc_id")
  val q34Sql: String =
    """SELECT doc_id,
      |  list_reduce([CAST(0 AS BIGINT)] ||
      |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT)),
      |    (a, b) -> (a * 131 + b) % 1000000007) AS rolling_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Multimodal plumbing: binary payloads + partition-batched stub
    * feature extraction (see operators.Multimodal).
    */
  val q40: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.extractFeatures(Multimodal.toMedia(Tables.documents(s, dir)))
      .toDF().orderBy("id")
  }
  val q40Sql: String =
    """SELECT doc_id AS id,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  md5(text) AS payload_md5,
      |  CAST(list_reduce(list_transform(string_split(text, ''), c -> unicode(c)),
      |    (a,b) -> a+b) AS BIGINT) AS byte_sum,
      |  round(CAST(list_reduce(list_transform(string_split(text, ''), c -> unicode(c)),
      |    (a,b) -> a+b) AS DOUBLE) / length(text), 4) AS mean_byte
      |FROM documents ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Multimodal frame sampling: 4 byte-range "frames" per payload,
    * partition-batched (see Multimodal.sampleFrames). ASCII payloads make
    * DuckDB's substr/md5 replay the byte slicing exactly.
    */
  val q35: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    Multimodal.sampleFrames(Multimodal.toMedia(Tables.documents(s, dir)), 4)
      .toDF().orderBy("id", "frame_idx")
  }
  val q35Sql: String =
    """WITH f AS (SELECT doc_id AS id, text, length(text) AS len FROM documents),
      |fr AS (SELECT id, i.i AS frame_idx,
      |    ((i.i+1)*len)//4 - (i.i*len)//4 AS n_bytes,
      |    md5(substr(text, CAST((i.i*len)//4 + 1 AS INT),
      |      CAST(((i.i+1)*len)//4 - (i.i*len)//4 AS INT))) AS frame_md5
      |  FROM f CROSS JOIN range(4) i(i))
      |SELECT id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(n_bytes AS BIGINT) AS n_bytes, frame_md5
      |FROM fr ORDER BY id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q57
  /** REAL image decode through the driver gate: executors PNG-encode a
    * deterministic gradient per doc id, javax.imageio decodes it back,
    * and per-channel pixel means are emitted. The oracle computes the
    * expected means from the gradient formula in closed form — so a
    * codec bug, a channel swap, or a row/column transposition anywhere
    * in the encode→decode→stats path fails the hash compare.
    */
  val q57: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val ids = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select("doc_id").as[java.lang.Long]
    Multimodal.extractImageFeatures(Multimodal.fixtureImageCorpus(ids))
      .toDF().orderBy("id")
  }
  val q57Sql: String =
    """WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS w, 9 + doc_id % 5 AS h
      |    FROM documents WHERE doc_id < 200),
      |px AS (SELECT doc_id, w, h, x.x AS x, y.y AS y
      |  FROM d CROSS JOIN range(24) x(x) CROSS JOIN range(14) y(y)
      |  WHERE x.x < w AND y.y < h)
      |SELECT doc_id AS id, CAST(max(w) AS BIGINT) AS width,
      |  CAST(max(h) AS BIGINT) AS height,
      |  round(CAST(sum((x*7 + y) % 256) AS DOUBLE) / (max(w)*max(h)), 4) AS mean_r,
      |  round(CAST(sum((y*5) % 256) AS DOUBLE) / (max(w)*max(h)), 4) AS mean_g,
      |  round(CAST(sum((x + y*3) % 256) AS DOUBLE) / (max(w)*max(h)), 4) AS mean_b
      |FROM px GROUP BY doc_id ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q159
  /** REAL PCM/WAV audio decode through the driver gate
    * ([[Multimodal.fixtureWav]] → [[Multimodal.audioFeatures]]):
    * executors synthesize a deterministic integer-sawtooth WAV per doc
    * id (16-bit PCM mono, 256-sample silent tail), the RIFF chunk walk
    * parses it back, and framed absolute-energy features are emitted.
    * The oracle replays the WAVEFORM FORMULA in closed form — it never
    * sees the bytes — so a header off-by-one, an endianness slip, a
    * sign-extension bug, or a frame-boundary error anywhere in the
    * encode → parse → frame path fails the hash.
    */
  val q159: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val ids = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select("doc_id").as[java.lang.Long]
    Multimodal.audioFeatures(Multimodal.fixtureWavCorpus(ids))
      .toDF().withColumnRenamed("id", "doc_id").orderBy("doc_id")
  }
  val q159Sql: String =
    """WITH par AS (SELECT doc_id, 32 + (doc_id % 7) * 16 AS p,
      |    8000 + (doc_id % 11) * 1000 AS amp,
      |    2048 + (doc_id % 5) * 512 AS n
      |  FROM documents WHERE doc_id < 200),
      |s AS (SELECT doc_id, n, u.t AS t,
      |    CASE WHEN u.t >= n - 256 THEN 0
      |         ELSE ((u.t % p) * 2 * amp) // p - amp END AS v
      |  FROM par, unnest(range(n)) AS u(t)),
      |fr AS (SELECT doc_id, t // 256 AS f, CAST(sum(abs(v)) AS BIGINT)
      |    AS e FROM s GROUP BY 1, 2),
      |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
      |    CAST(sum(e) AS BIGINT) AS total_abs,
      |    CAST(sum(CASE WHEN e = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS silent_frames
      |  FROM fr GROUP BY 1),
      |pk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
      |    CAST(max(abs(v)) AS BIGINT) AS peak FROM s GROUP BY 1)
      |SELECT a.doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  pk.n_samples, a.n_frames, a.total_abs, pk.peak, a.silent_frames
      |FROM ag a JOIN pk USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q98
  /** Nearest-neighbor image RESIZE through the driver gate
    * ([[Multimodal.resizeImage]]): the gradient fixtures decode and
    * resample to 8×6 with the exact integer pixel mapping
    * `sx = (x·srcW) div 8`, so the oracle reproduces the resized
    * channel means in closed form — a wrong rounding direction, an
    * off-by-one in the mapping, or a float scale factor fails the hash.
    */
  val q98: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val ids = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select("doc_id").as[java.lang.Long]
    Multimodal.resizeFeatures(Multimodal.fixtureImageCorpus(ids), 8, 6)
      .toDF().orderBy("id")
  }
  val q98Sql: String =
    """WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS sw, 9 + doc_id % 5 AS sh
      |    FROM documents WHERE doc_id < 200),
      |px AS (SELECT doc_id, sw, sh,
      |    (x.x * sw) // 8 AS sx, (y.y * sh) // 6 AS sy
      |  FROM d CROSS JOIN range(8) x(x) CROSS JOIN range(6) y(y))
      |SELECT doc_id AS id, CAST(max(sw) AS BIGINT) AS src_w,
      |  CAST(max(sh) AS BIGINT) AS src_h,
      |  CAST(8 AS BIGINT) AS w, CAST(6 AS BIGINT) AS h,
      |  round(CAST(sum((sx*7 + sy) % 256) AS DOUBLE) / 48, 4) AS mean_r,
      |  round(CAST(sum((sy*5) % 256) AS DOUBLE) / 48, 4) AS mean_g,
      |  round(CAST(sum((sx + sy*3) % 256) AS DOUBLE) / 48, 4) AS mean_b
      |FROM px GROUP BY doc_id ORDER BY id""".stripMargin

  // --------------------------------------------------------------- q146
  /** Perceptual (average-hash) image near-dup pairs
    * ([[Multimodal.perceptualHashes]] → [[Dedup.hammingPairs64]]): the
    * frame-level dedup a video/image pipeline runs — re-encodes and
    * near-identical frames collapse by 64-bit aHash Hamming distance.
    * The gradient fixtures depend on doc_id only through (w, h) =
    * (id%8, id%5), so ids congruent mod 40 are pixel-identical — a
    * planted Hamming-0 class structure the banded pair join must
    * recover, plus whatever deterministic cross-class collisions land
    * ≤ 2 (the gradients make DISTANT geometries perceptually close, so
    * a loose radius would accept most pairs — 2 keeps the report a
    * dedup, not a similarity matrix). The oracle replays decode→8×8 NN-downsample→integer
    * luma→mean-threshold→popcount in closed form and brute-forces ALL
    * pairs — banding completeness (pigeonhole ≤ 7) is part of what
    * agreement proves.
    */
  val q146: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    import s.implicits._
    val ids = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select("doc_id").as[java.lang.Long]
    val hashes = Multimodal
      .perceptualHashes(Multimodal.fixtureImageCorpus(ids))
      .toDF().select(col("id"), col("ph_hi").as("hi"), col("ph_lo").as("lo"))
    Dedup.hammingPairs64(hashes, maxHamming = 2, persist = false)
      .orderBy("id_a", "id_b")
  }
  val q146Sql: String =
    """WITH d AS (SELECT doc_id, 16 + doc_id % 8 AS sw, 9 + doc_id % 5 AS sh
      |    FROM documents WHERE doc_id < 200),
      |px AS (SELECT doc_id, (x.x * sw) // 8 AS sx, (y.y * sh) // 8 AS sy,
      |    y.y*8 + x.x AS i
      |  FROM d CROSS JOIN range(8) x(x) CROSS JOIN range(8) y(y)),
      |lm AS (SELECT doc_id, i,
      |    299*((sx*7 + sy) % 256) + 587*((sy*5) % 256)
      |      + 114*((sx + sy*3) % 256) AS luma
      |  FROM px),
      |t AS (SELECT doc_id, sum(luma) AS total FROM lm GROUP BY doc_id),
      |bits AS (SELECT lm.doc_id, lm.i FROM lm JOIN t USING (doc_id)
      |  WHERE 64*lm.luma > t.total),
      |hsh AS (SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN b.i >= 32
      |      THEN 1::BIGINT << (b.i - 32) ELSE 0 END), 0) AS BIGINT) AS hi,
      |    CAST(coalesce(sum(CASE WHEN b.i < 32
      |      THEN 1::BIGINT << b.i ELSE 0 END), 0) AS BIGINT) AS lo
      |  FROM d LEFT JOIN bits b ON b.doc_id = d.doc_id GROUP BY d.doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
      |    AS BIGINT) AS hamming
      |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 2
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q37
  /** KMV distinct-cardinality sketch (k=64) of parts per return flag —
    * the portable, exactly-checkable alternative to HLL.
    */
  val q37: Q = (s, dir) =>
    graft.operators.Sketches.kmvDistinct(
      Tables.lineitem(s, dir), Seq("l_returnflag"), col("l_partkey"), 64)
      .orderBy("l_returnflag")
  val q37Sql: String = {
    val const = (64 - 1) * graft.operators.Sketches.HashSpace
    s"""WITH h AS (SELECT DISTINCT l_returnflag,
       |    ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)),1,12))::BIGINT AS h
       |  FROM lineitem),
       |r AS (SELECT l_returnflag, h,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM h),
       |t AS (SELECT l_returnflag, count(*) AS n_kept, max(h) AS kth
       |  FROM r WHERE rn <= 64 GROUP BY 1)
       |SELECT l_returnflag,
       |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
       |       ELSE round($const / kth, 2) END AS est_distinct
       |FROM t ORDER BY l_returnflag""".stripMargin
  }

  // --------------------------------------------------------------- q105
  /** Portable HyperLogLog (p=9 → 512 registers) distinct parts per
    * return flag, beside the exact truth — the FIXED-SIZE mergeable
    * cardinality sketch completing the family next to KMV (q37, bounded
    * k values) and count-min (q61, bounded counters). Integer registers
    * (rank via a comparison chain, no log2), an integer-scaled harmonic
    * sum, and one integer division mean the ESTIMATE itself is
    * bit-replayable by the oracle — engine-native approx_count_distinct
    * register layouts never hash-match across engines; these do.
    * ~2000 distinct parts per flag at sf0.01 keeps the groups above the
    * ~2.5·m small-range zone where raw HLL would need the ln()-based
    * linear-counting correction.
    */
  val q105: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val est = graft.operators.Sketches.hllDistinct(
      li, Seq("l_returnflag"), col("l_partkey"), p = 9)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_distinct"))
    est.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("est_distinct").as("hll_distinct"),
        col("exact_distinct"))
      .orderBy("l_returnflag")
  }
  val q105Sql: String = {
    val w = 39 // 48 - p remainder bits; bucket = top 9 bits
    val a = graft.operators.Sketches.alphaM2(9)
    // bit length of `rest` as the same nested comparison chain the
    // engine codegens; rank = (w + 1) - bitlen
    val bitlen = (1 to w).foldLeft("0") { (acc, b) =>
      s"CASE WHEN rest >= ${1L << (b - 1)} THEN $b ELSE $acc END"
    }
    s"""WITH h AS (SELECT l_returnflag,
       |    ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)),1,12))::BIGINT AS h
       |  FROM lineitem),
       |b AS (SELECT l_returnflag, h // ${1L << w} AS bucket,
       |    h % ${1L << w} AS rest FROM h),
       |r AS (SELECT l_returnflag, bucket, 40 - ($bitlen) AS rank FROM b),
       |regs AS (SELECT l_returnflag, bucket, max(rank) AS reg
       |  FROM r GROUP BY 1, 2),
       |z AS (SELECT l_returnflag, count(*) AS hit,
       |    sum((1::BIGINT << (40 - reg))) AS zs FROM regs GROUP BY 1),
       |est AS (SELECT l_returnflag,
       |    CAST(($a::BIGINT * (1::BIGINT << 40))
       |      // (zs + (512 - hit) * (1::BIGINT << 40)) AS BIGINT)
       |      AS hll_distinct FROM z),
       |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct
       |  FROM lineitem GROUP BY 1)
       |SELECT est.l_returnflag, hll_distinct, exact_distinct
       |FROM est JOIN ex USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin
  }

  // --------------------------------------------------------------- q131
  /** Hierarchical HLL rollup ([[graft.operators.Sketches.hllMerge]]):
    * distinct parts per NATION and per REGION from one lineitem scan —
    * the nation-level registers (p=8, 256 integer registers each) merge
    * upward by register max into exactly the region registers a rescan
    * would build, so the expensive pass runs once and every coarser
    * level is a ≤ m-row shuffle over sketches. The "sketch once, merge
    * many" pattern that makes daily/per-shard cardinality tracking
    * feasible at 100 TB. Both levels' integer estimates replay
    * bit-for-bit in the oracle.
    */
  val q131: Q = (s, dir) => {
    import graft.operators.Sketches
    val li = Tables.lineitem(s, dir).select("l_suppkey", "l_partkey")
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, dir).select("n_nationkey", "n_regionkey", "n_name")
    val reg = Tables.region(s, dir).select("r_regionkey", "r_name")
    val joined = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
    // r17 release-audit sweep: the sketch cache rides the harness drain
    // instead of leaking to the session
    val sk = Sketches.hllSketch(joined, Seq("r_name", "n_name"),
      col("l_partkey"), p = 8).persist()
    graft.PendingRelease.defer(() => { sk.unpersist(); () })
    val nation = Sketches.hllEstimate(sk, Seq("r_name", "n_name"), p = 8)
      .select(lit("nation").as("level"), col("r_name"), col("n_name"),
        col("est_distinct"))
    val region = Sketches.hllMerge(sk, Seq("r_name"), p = 8)
      .select(lit("region").as("level"), col("r_name"),
        lit("").as("n_name"), col("est_distinct"))
    nation.unionByName(region).orderBy("level", "r_name", "n_name")
  }
  val q131Sql: String = {
    val p = 8; val w = 48 - p; val m = 1L << p
    val a = graft.operators.Sketches.alphaM2(p)
    val shift = 48 - p + 1
    val bitlen = (1 to w).foldLeft("0") { (acc, b) =>
      s"CASE WHEN rest >= ${1L << (b - 1)} THEN $b ELSE $acc END"
    }
    s"""WITH h AS (SELECT r_name, n_name,
       |    ('0x'||substr(md5(CAST(l_partkey AS VARCHAR)),1,12))::BIGINT AS h
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey),
       |b AS (SELECT r_name, n_name, h // ${1L << w} AS bucket,
       |    h % ${1L << w} AS rest FROM h),
       |r AS (SELECT r_name, n_name, bucket,
       |    ${w + 1} - ($bitlen) AS rank FROM b),
       |regs AS (SELECT r_name, n_name, bucket, max(rank) AS reg
       |  FROM r GROUP BY 1, 2, 3),
       |nat AS (SELECT r_name, n_name, count(*) AS hit,
       |    sum((1::BIGINT << ($shift - reg))) AS zs
       |  FROM regs GROUP BY 1, 2),
       |nat_est AS (SELECT 'nation' AS level, r_name, n_name,
       |    CAST(($a::BIGINT * (1::BIGINT << $shift))
       |      // (zs + ($m - hit) * (1::BIGINT << $shift)) AS BIGINT)
       |      AS est_distinct FROM nat),
       |rregs AS (SELECT r_name, bucket, max(reg) AS reg
       |  FROM regs GROUP BY 1, 2),
       |rz AS (SELECT r_name, count(*) AS hit,
       |    sum((1::BIGINT << ($shift - reg))) AS zs
       |  FROM rregs GROUP BY 1),
       |reg_est AS (SELECT 'region' AS level, r_name, '' AS n_name,
       |    CAST(($a::BIGINT * (1::BIGINT << $shift))
       |      // (zs + ($m - hit) * (1::BIGINT << $shift)) AS BIGINT)
       |      AS est_distinct FROM rz)
       |SELECT * FROM nat_est UNION ALL SELECT * FROM reg_est
       |ORDER BY level, r_name, n_name""".stripMargin
  }

  // ---------------------------------------------------------------- q61
  /** Count-min sketch (depth 4 × width 1024) over the full token stream
    * of the corpus, probed for the stopword set plus a known-absent
    * term — frequency estimation / heavy-hitter counting from bounded
    * state ([[graft.operators.Sketches.countMin]]). The true counts ride
    * along: the CMS property est ≥ true is visible in the output, and
    * the oracle rebuilds the identical counters (same hash48 positions,
    * same collisions), so even the overestimates hash-match exactly.
    */
  val q61: Q = (s, dir) => {
    val depth = 4; val width = 1024
    val docs = Spread.ensure(Tables.documents(s, dir), "doc_id")
    val toks = docs.select(explode(graft.functions.Portable.tokens(col("text"))).as("term"))
    val probeTerms = TextOps.EnStopwords :+ "zzzznotaword"
    val sketch = graft.operators.Sketches.countMin(toks, col("term"), depth, width)
    val est = graft.operators.Sketches.countMinEstimate(
      sketch, probeTerms, depth, width)
    val exact = toks.filter(col("term").isInCollection(probeTerms))
      .groupBy(col("term").as("key")).agg(count(lit(1)).as("true_count"))
    est.join(exact, Seq("key"), "left")
      .select(col("key").as("term"), col("est").as("cms_est"),
        coalesce(col("true_count"), lit(0L)).as("true_count"))
      .orderBy("term")
  }
  val q61Sql: String = {
    val pos = (v: String) =>
      s"('0x'||substr(md5($v || '#' || CAST(r AS VARCHAR)),1,12))::BIGINT % 1024"
    val probeVals = (TextOps.EnStopwords :+ "zzzznotaword")
      .map(t => s"('$t')").mkString(", ")
    val inList = (TextOps.EnStopwords :+ "zzzznotaword")
      .map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(lower(text), '\\s+')) AS term
       |  FROM documents),
       |rs AS (SELECT unnest(range(4)) AS r),
       |counters AS (
       |  SELECT r, ${pos("term")} AS pos, count(*) AS cnt
       |  FROM toks CROSS JOIN rs GROUP BY r, pos),
       |probes(term) AS (VALUES $probeVals),
       |pp AS (SELECT term, r, ${pos("term")} AS pos FROM probes CROSS JOIN rs),
       |est AS (
       |  SELECT pp.term, min(coalesce(c.cnt, 0)) AS cms_est
       |  FROM pp LEFT JOIN counters c ON pp.r = c.r AND pp.pos = c.pos
       |  GROUP BY pp.term),
       |ex AS (SELECT term, count(*) AS true_count FROM toks
       |       WHERE term IN ($inList) GROUP BY term)
       |SELECT est.term, est.cms_est,
       |  coalesce(ex.true_count, 0) AS true_count
       |FROM est LEFT JOIN ex ON est.term = ex.term
       |ORDER BY est.term""".stripMargin
  }

  // ---------------------------------------------------------------- q52
  /** Dedup clusters: exact-dup pairs (shared content fingerprint) on a
    * corpus with TWO planted copies of every 20th doc, closed into
    * connected components (Dedup.connectedComponents — min-label
    * propagation). The oracle computes the same transitive closure with
    * a recursive CTE. Output: every clustered doc with its component
    * representative (min id reachable).
    */
  val q52: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = d
      .unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val fp = corpus.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val pairs = fp.as("a").join(fp.as("b"), "fp")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  val q52Sql: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id+1000000, text FROM documents WHERE doc_id%20=0
      |  UNION ALL SELECT doc_id+2000000, text FROM documents WHERE doc_id%20=0),
      |fp AS (SELECT doc_id, md5(text) AS fp FROM corpus),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      |SELECT src AS doc_id, least(src, min(dst)) AS comp
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q54
  /** SimHash near-dup pairs (byte-band candidates + exact Hamming
    * verify — complete by pigeonhole for radius ≤ 3) over the near-dup
    * corpus. Radius 1 here: the synthetic docs share template token
    * stats, so 32-bit simhashes cluster tightly and radius 3 would call
    * ~2% of ALL pairs near-dups — radius is a corpus-tuned knob.
    */
  val q54: Q = (s, dir) =>
    Dedup.simhashPairs(corpusNear(s, dir), "doc_id", "text", maxHamming = 1)
      .orderBy("id_a", "id_b")
  val q54Sql: String = {
    val terms = (0 until 32).map { b =>
      s"(CASE WHEN 2*len(list_filter(ht, h -> ((h >> $b) & 1) = 1)) > len(ht) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH corpus AS ($corpusNearSql),
       |ht_t AS (SELECT id,
       |  list_transform(list_distinct(string_split_regex(lower(text), '\\s+')),
       |    t -> ('0x'||substr(md5(t),1,12))::BIGINT) AS ht FROM corpus),
       |sh AS (SELECT id, CAST($terms AS BIGINT) AS simhash FROM ht_t),
       |bands AS (SELECT id, simhash, b.band,
       |    (simhash >> (CAST(b.band AS INT)*8)) % 256 AS key
       |  FROM sh CROSS JOIN (SELECT unnest(range(4)) AS band) b),
       |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 1
       |ORDER BY id_a, id_b""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q16_json_funcs" -> q16,
    "q141_json_schema_profile" -> q141,
    "q20_dedup_exact" -> q20,
    "q52_dedup_components" -> q52,
    "q54_simhash_neardup" -> q54,
    "q55_ann_pq" -> q55,
    "q56_ann_ivfpq" -> q56,
    "q107_ann_index" -> q107,
    "q234_ann_cell_audit" -> q234,
    "q57_image_decode" -> q57,
    "q159_audio_decode" -> q159,
    "q98_image_resize" -> q98,
    "q146_perceptual_dedup" -> q146,
    "q21_dedup_ngram_jaccard" -> q21,
    "q144_cross_source_dups" -> q144,
    "q111_containment_pairs" -> q111,
    "q113_semantic_dedup" -> q113,
    "q118_kmeans_lloyd" -> q118,
    "q125_gram_matrix" -> q125,
    "q127_random_projection" -> q127,
    "q134_nearest_prototype" -> q134,
    "q22_dedup_minhash_lsh" -> q22,
    "q180_lsh_hot_bucket_cap" -> q180,
    "q156_lsh_calibration" -> q156,
    "q157_pq_calibration" -> q157,
    "q104_dedup_incremental" -> q104,
    "q23_simhash" -> q23,
    "q24_embed_topk" -> q24,
    "q145_hard_negatives" -> q145,
    "q25_ann_lsh" -> q25,
    "q26_embed_neardup" -> q26,
    "q27_ann_ivf" -> q27,
    "q28_embed_neardup_lsh" -> q28,
    "q29_skew_salted_agg" -> q29,
    "q30_lang_id" -> q30,
    "q31_quality_score" -> q31,
    "q32_token_count" -> q32,
    "q33_fingerprint" -> q33,
    "q34_rolling_hash" -> q34,
    "q35_frame_sample" -> q35,
    "q37_kmv_distinct" -> q37,
    "q105_hll_distinct" -> q105,
    "q131_hll_rollup" -> q131,
    "q61_countmin" -> q61,
    "q40_multimodal_features" -> q40)

  val oracle: Map[String, String] = Map(
    "q16_json_funcs" -> q16Sql,
    "q141_json_schema_profile" -> q141Sql,
    "q20_dedup_exact" -> q20Sql,
    "q52_dedup_components" -> q52Sql,
    "q54_simhash_neardup" -> q54Sql,
    "q55_ann_pq" -> q55Sql,
    "q56_ann_ivfpq" -> q56Sql,
    "q107_ann_index" -> q56Sql,
    "q234_ann_cell_audit" -> q234Sql,
    "q57_image_decode" -> q57Sql,
    "q159_audio_decode" -> q159Sql,
    "q98_image_resize" -> q98Sql,
    "q146_perceptual_dedup" -> q146Sql,
    "q21_dedup_ngram_jaccard" -> q21Sql,
    "q144_cross_source_dups" -> q144Sql,
    "q111_containment_pairs" -> q111Sql,
    "q113_semantic_dedup" -> q113Sql,
    "q118_kmeans_lloyd" -> q118Sql,
    "q125_gram_matrix" -> q125Sql,
    "q127_random_projection" -> q127Sql,
    "q134_nearest_prototype" -> q134Sql,
    "q22_dedup_minhash_lsh" -> q22Sql,
    "q180_lsh_hot_bucket_cap" -> q180Sql,
    "q156_lsh_calibration" -> q156Sql,
    "q157_pq_calibration" -> q157Sql,
    "q104_dedup_incremental" -> q104Sql,
    "q23_simhash" -> q23Sql,
    "q24_embed_topk" -> q24Sql,
    "q145_hard_negatives" -> q145Sql,
    "q25_ann_lsh" -> q25Sql,
    "q26_embed_neardup" -> q26Sql,
    "q27_ann_ivf" -> q27Sql,
    "q28_embed_neardup_lsh" -> q28Sql,
    "q29_skew_salted_agg" -> q29Sql,
    "q30_lang_id" -> q30Sql,
    "q31_quality_score" -> q31Sql,
    "q32_token_count" -> q32Sql,
    "q33_fingerprint" -> q33Sql,
    "q34_rolling_hash" -> q34Sql,
    "q35_frame_sample" -> q35Sql,
    "q37_kmv_distinct" -> q37Sql,
    "q105_hll_distinct" -> q105Sql,
    "q131_hll_rollup" -> q131Sql,
    "q61_countmin" -> q61Sql,
    "q40_multimodal_features" -> q40Sql)
}
