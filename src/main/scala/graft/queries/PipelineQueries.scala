package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Curate, Dedup, Linkage, Similarity, TextOps}

/** Round-6 training-data-pipeline operators: TF-IDF key-term extraction,
  * overlapping chunking, PII redaction, weighted (PPS) sampling, repeated
  * n-gram mining, and fuzzy entity linkage. Oracle-parity rules as
  * everywhere else: exact integers wherever possible, rational idf
  * instead of ln() (see RankingQueries), mirrored double expression
  * trees, total deterministic orderings.
  */
object PipelineQueries {

  private type Q = (SparkSession, String) => DataFrame

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  // ---------------------------------------------------------------- q62
  /** TF-IDF top terms per document — the key-phrase/topic tagging step of
    * a curation pipeline. tf and df are exact integer aggregates; idf is
    * the rational (2N−2df+1)/(2df+1) (no ln(), see RankingQueries); the
    * per-doc top-3 selection is a rank window ordered (score DESC, term)
    * — a total order, so both engines pick identical rows. Explode → two
    * hash aggs (tf, df) → broadcast df + corpus size → one rank window
    * partitioned by doc: shuffles only on doc_id/term, never all-pairs.
    */
  val q62: Q = (s, dir) => {
    val docs = graft.operators.Spread.ensure(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.Portable.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val st = tf.agg(countDistinct(col("doc_id")).as("n"))
    val sc = tf
      .join(broadcast(dft), "term")
      .crossJoin(broadcast(st))
      .withColumn("score",
        col("tf").cast("double") *
          ((lit(2) * col("n") - lit(2) * col("df") + lit(1)).cast("double") /
            (lit(2) * col("df") + lit(1)).cast("double")))
    sc.withColumn("rank",
        row_number().over(Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "score")
      .orderBy("doc_id", "rank")
  }
  val q62Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |st AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      |sc AS (SELECT tf.doc_id, tf.term,
      |    CAST(tf.tf AS DOUBLE) *
      |      (CAST(2*st.n - 2*dft.df + 1 AS DOUBLE) / CAST(2*dft.df + 1 AS DOUBLE))
      |      AS score
      |  FROM tf JOIN dft USING (term) CROSS JOIN st),
      |r AS (SELECT doc_id, term, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term)
      |      AS BIGINT) AS rank
      |  FROM sc)
      |SELECT doc_id, rank, term, score FROM r WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Overlapping token-window chunking ([[TextOps.chunkTable]]): 32-token
    * chunks every 24 tokens (8-token overlap) — map-only explode+slice,
    * no shuffle; the context-window preparation shape at any scale.
    */
  val q63: Q = (s, dir) =>
    TextOps.chunkTable(Tables.documents(s, dir), "doc_id", "text",
        window = 32, stride = 24)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")
  val q63Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
      |  FROM documents),
      |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t)
      |SELECT doc_id,
      |  CAST(start // 24 AS BIGINT) AS chunk_id,
      |  CAST(len(toks[start+1:start+32]) AS BIGINT) AS n_tok_chunk,
      |  array_to_string(toks[start+1:start+32], ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q64
  /** PII redaction ([[TextOps.redactPii]]) over documents with
    * deterministically planted emails / IPs / phone numbers (the corpus
    * itself is synthetic and PII-free, so the plant makes the scrub
    * observable). Counts are measured on the pre-redaction text. Pure
    * regex map stage — the 100 TB shape is exactly this, no shuffle.
    */
  val q64: Q = (s, dir) => {
    val planted = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0."),
        (col("doc_id") % 100).cast("string"),
        lit(" call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
    planted.select(col("doc_id") +: TextOps.redactPii(col("text")): _*)
      .orderBy("doc_id")
  }
  val q64Sql: String = {
    // '#' margin char throughout: the default '|' margin would eat the
    // leading '|' of the SQL '||' concat operators (both in the inner
    // string AND when the outer stripMargin re-scans the interpolation)
    val planted =
      """text || ' contact user' || CAST(doc_id AS VARCHAR)
        #    || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
        #    || '.0.' || CAST(doc_id % 100 AS VARCHAR)
        #    || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        #    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')""".stripMargin('#')
    val email = TextOps.EmailRe
    val ip = TextOps.Ipv4Re
    val phone = TextOps.PhoneRe
    s"""WITH p AS (SELECT doc_id, $planted AS text FROM documents)
       #SELECT doc_id,
       #  regexp_replace(regexp_replace(regexp_replace(text,
       #    '$email', '<EMAIL>', 'g'),
       #    '$ip', '<IP>', 'g'),
       #    '$phone', '<PHONE>', 'g') AS redacted,
       #  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
       #  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
       #  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone
       #FROM p ORDER BY doc_id""".stripMargin('#')
  }

  // ---------------------------------------------------------------- q65
  /** Weighted sampling ([[Curate.ppsSample]]): 20 documents per language,
    * inclusion probability proportional to n_chars — systematic PPS via
    * an integer cumulative-weight boundary test, so the identical sample
    * replays in any engine (no rand(), no pow/log).
    */
  val q65: Q = (s, dir) =>
    Curate.ppsSample(Tables.documents(s, dir), Seq("lang"),
        col("doc_id"), col("n_chars"), k = 20)
      .orderBy("lang", "id")
  val q65Sql: String =
    """WITH t AS (SELECT lang, doc_id AS id, n_chars AS w,
      |    sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) AS cum,
      |    sum(n_chars) OVER (PARTITION BY lang) AS tot
      |  FROM documents)
      |SELECT lang, id, w FROM t
      |WHERE (cum * 20) // tot > ((cum - w) * 20) // tot
      |ORDER BY lang, id""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Repeated n-gram mining ([[TextOps.repeatedNgrams]]): every 5-gram
    * occurrence counted corpus-wide, keeping those seen ≥3 times — the
    * boilerplate/memorization detector. One shuffle keyed on the n-gram.
    */
  val q66: Q = (s, dir) =>
    TextOps.repeatedNgrams(Tables.documents(s, dir), "doc_id", "text",
        n = 5, minCount = 3L)
      .orderBy(col("n_occurrences").desc, col("ngram"))
  val q66Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5
      |    THEN list_transform(range(len(w)-4), i -> array_to_string(w[i+1:i+5], ' '))
      |    ELSE [] END) AS ngram FROM t)
      |SELECT ngram,
      |  count(DISTINCT doc_id) AS n_docs,
      |  count(*) AS n_occurrences
      |FROM g GROUP BY ngram HAVING count(*) >= 3
      |ORDER BY n_occurrences DESC, ngram""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Fuzzy entity linkage ([[Linkage.linkEntities]]): part-name mentions
    * corrupted by dropping `p_partkey mod 3` trailing characters of the
    * first word are linked back to the canonical 64-name catalog —
    * blocked on the (uncorrupted) second word, verified by levenshtein,
    * matched by the (dist, entity) argmin. Broadcast catalog ⇒ one map
    * stage over mentions + one argmin aggregate; the blocking key bounds
    * candidates the way LSH bands do.
    */
  val q67: Q = (s, dir) => {
    val part = Tables.part(s, dir)
    val w1 = element_at(split(col("p_name"), " "), 1)
    val w2 = element_at(split(col("p_name"), " "), 2)
    val mentions = part.select(col("p_partkey").as("id"),
      concat(w1.substr(lit(1), length(w1) - (col("p_partkey") % 3).cast("int")),
        lit(" "), w2).as("name"))
    val catalog = part.select(col("p_name")).distinct()
    Linkage.linkEntities(mentions, "id", "name",
        catalog, "p_name",
        nm => element_at(split(nm, " "), 2), maxDist = 2)
      .orderBy("id")
  }
  val q67Sql: String =
    """WITH cat AS (SELECT DISTINCT p_name AS entity FROM part),
      |m AS (SELECT p_partkey AS id,
      |    substr(split_part(p_name, ' ', 1), 1,
      |      len(split_part(p_name, ' ', 1)) - CAST(p_partkey % 3 AS INT))
      |      || ' ' || split_part(p_name, ' ', 2) AS name
      |  FROM part),
      |cand AS (SELECT m.id, m.name, c.entity,
      |    CAST(levenshtein(m.name, c.entity) AS BIGINT) AS dist
      |  FROM m JOIN cat c
      |    ON split_part(m.name, ' ', 2) = split_part(c.entity, ' ', 2)),
      |sel AS (SELECT id, name, entity, dist,
      |    row_number() OVER (PARTITION BY id ORDER BY dist, entity) AS rn
      |  FROM cand WHERE dist <= 2)
      |SELECT id, name, entity, dist FROM sel WHERE rn = 1
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q68
  /** 64-bit SimHash ([[graft.operators.Dedup.simhash64Table]]): two
    * independent 32-bit majority-vote words per document — the
    * wider-signature variant for template-heavy corpora where 32-bit
    * byte-bands go hot (radius-7 banding lives in simhashPairs64).
    */
  val q68: Q = (s, dir) =>
    graft.operators.Dedup.simhash64Table(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q68Sql: String = {
    def word(hashExpr: String) = (0 until 32).map { b =>
      s"(CASE WHEN 2*len(list_filter($hashExpr, h -> ((h >> $b) & 1) = 1)) > len($hashExpr) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH ht_t AS (SELECT doc_id,
       |  list_transform(list_distinct(string_split_regex(lower(text), '\\s+')),
       |    t -> ('0x'||substr(md5(t),1,12))::BIGINT) AS h0,
       |  list_transform(list_distinct(string_split_regex(lower(text), '\\s+')),
       |    t -> ('0x'||substr(md5(t || '#w1'),1,12))::BIGINT) AS h1
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(${word("h1")} AS BIGINT) AS sim_hi,
       |  CAST(${word("h0")} AS BIGINT) AS sim_lo
       |FROM ht_t ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q140
  /** Content-defined chunking ([[TextOps.contentDefinedChunks]]):
    * rsync/LBFS-style local-hash boundaries (expected length 64
    * tokens) whose chunk identities survive edits — the delta-sync /
    * chunk-dedup primitive fixed-stride chunking can't provide. Pure
    * hashing; the oracle replays every boundary and chunk hash.
    */
  val q140: Q = (s, dir) =>
    TextOps.contentDefinedChunks(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")
  val q140Sql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |p AS (SELECT doc_id, w, unnest(range(len(w))) AS pos FROM t),
      |c AS (SELECT doc_id, pos, w[pos+1] AS tok,
      |    CASE WHEN pos > 0 AND pos + 3 <= len(w)
      |      AND ('0x'||substr(md5(array_to_string(w[pos+1:pos+3], ' ')),1,12))::BIGINT % 64 = 0
      |    THEN 1 ELSE 0 END AS cut
      |  FROM p),
      |k AS (SELECT doc_id, pos, tok,
      |    sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS UNBOUNDED PRECEDING) AS chunk_id
      |  FROM c)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(min(pos) AS BIGINT) AS start,
      |  CAST(count(*) AS BIGINT) AS n_tok,
      |  ('0x'||substr(md5(string_agg(tok, ' ' ORDER BY pos)),1,12))::BIGINT
      |    AS chunk_h
      |FROM k GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------------------------- q139
  /** Exact phrase search ([[TextOps.phraseSearch]]): the corpus' three
    * most document-frequent word-3-grams located at every (doc, start)
    * via the positional-index join — one relational step for any
    * number of phrases of any length. The ORACLE is the O(docs ×
    * positions × phrases) brute-force slice comparison — a genuinely
    * independent algorithm, so a missed or phantom occurrence fails
    * the hash.
    */
  val q139: Q = (s, dir) => {
    import graft.functions.Portable
    val docs = Tables.documents(s, dir)
    val phrases = graft.operators.Spread.ensure(
        docs.select(col("doc_id").as("id"), col("text")), "id")
      .select(explode(Portable.shingles(Portable.tokens(col("text")), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("g").asc).limit(3)
      // rank the ≤3 surviving rows with a bounded collect+sort instead
      // of a partition-less ranking window (which plans a
      // single-partition WindowExec and logs the scale warning even
      // though the frame is limit-bounded)
      .agg(sort_array(collect_list(struct((-col("df")).as("nd"), col("g"))))
        .as("top"))
      .select(posexplode(col("top")).as(Seq("p", "t")))
      .select((col("p") + 1).cast("long").as("phrase_id"),
        col("t.g").as("phrase"))
    TextOps.phraseSearch(docs, "doc_id", "text", phrases)
      .withColumnRenamed("id", "doc_id")
      .orderBy("phrase_id", "doc_id", "start")
  }
  val q139Sql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |g AS (SELECT unnest(list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(len(w)-2),
      |      i -> array_to_string(w[i+1:i+3], ' '))
      |    ELSE [] END)) AS g FROM t),
      |top AS (SELECT g, count(*) AS df FROM g GROUP BY g
      |  ORDER BY df DESC, g ASC LIMIT 3),
      |ph AS (SELECT row_number() OVER (ORDER BY df DESC, g ASC) AS phrase_id,
      |    string_split_regex(g, '\s+') AS pw FROM top)
      |SELECT p.phrase_id, t.doc_id, CAST(u.start AS BIGINT) AS start
      |FROM t, ph p,
      |  unnest(range(0, greatest(len(t.w) - len(p.pw) + 1, 0))) AS u(start)
      |WHERE t.w[u.start+1:u.start+len(p.pw)] = p.pw
      |ORDER BY phrase_id, doc_id, start""".stripMargin

  // --------------------------------------------------------------- q135
  /** Hybrid-retrieval rank fusion ([[graft.operators.Fusion.rrf]]):
    * the BM25 top-100 (q129's scorer) and the embedding top-100 around
    * query vector 0 (q24's scorer) fused by reciprocal rank — the RAG
    * retrieval-stack recipe. Both candidate lists are bounded before
    * fusion (the 100 TB shape: fuse top-N, never full rankings);
    * integer-micro contributions replay exactly.
    */
  val q135: Q = (s, dir) => {
    val bmRank = TextOps.bm25TopTerms(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("bm25_micro").desc, col("id"))
      .limit(100)
      // rank the ≤100 surviving rows — bounded collect+sort, same
      // rationale as q139's phrase_id ranking
      .agg(sort_array(collect_list(struct((-col("bm25_micro")).as("ns"),
          col("id")))).as("top"))
      .select(posexplode(col("top")).as(Seq("p", "t")))
      .select(col("t.id").as("id"), (col("p") + 1).cast("long").as("rank"))
    val cosRank = Similarity.cosineTopK(
        Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 100)
      .select(col("neighbor_id").as("id"), col("rank"))
    graft.operators.Fusion.rrf(Seq(bmRank, cosRank), k = 60)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  val q135Sql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM d),
      |tfc AS (SELECT doc_id, t, count(*) AS tf, max(dl) AS dl
      |  FROM tf GROUP BY doc_id, t),
      |terms AS (SELECT t, count(DISTINCT doc_id) AS df
      |  FROM tfc GROUP BY t ORDER BY sum(tf) DESC, t ASC LIMIT 8),
      |tot AS (SELECT count(*) AS nd, sum(dl) AS tt
      |  FROM (SELECT doc_id, max(dl) AS dl FROM tfc GROUP BY doc_id)),
      |scored AS (
      |  SELECT c.doc_id,
      |    (1000 * c.tf * (1200 + 1000)) //
      |      (1000 * c.tf + (1200 * (1000 - 750 +
      |        (750 * ((1000 * c.dl * tot.nd) // tot.tt)) // 1000)) // 1000)
      |      AS sat_milli,
      |    (1000 * (tot.nd - q.df + 1)) // (q.df + 1) AS idf_milli
      |  FROM tfc c JOIN terms q ON c.t = q.t CROSS JOIN tot),
      |bmdoc AS (SELECT doc_id, sum(sat_milli * idf_milli) AS bm25
      |  FROM scored GROUP BY doc_id),
      |bm AS (SELECT id, rank FROM (
      |  SELECT doc_id AS id,
      |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      |  FROM bmdoc) WHERE rank <= 100),
      |vec AS (SELECT vec_id AS id,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |norms AS (SELECT id, list_dot_product(q, q) AS n FROM vec),
      |q0 AS (SELECT v.q AS q0, nr.n AS n0
      |  FROM vec v JOIN norms nr ON nr.id = v.id WHERE v.id = 0),
      |cs AS (SELECT v.id,
      |    round(list_dot_product(v.q, q0.q0) / (sqrt(q0.n0) * sqrt(nr.n)), 6)
      |      AS cos
      |  FROM vec v JOIN norms nr ON nr.id = v.id CROSS JOIN q0
      |  WHERE v.id <> 0),
      |cr AS (SELECT id, rank FROM (
      |  SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rank
      |  FROM cs) WHERE rank <= 100),
      |u AS (SELECT * FROM bm UNION ALL SELECT * FROM cr)
      |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_lists,
      |  CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
      |FROM u GROUP BY id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q129
  /** BM25-style retrieval scoring ([[TextOps.bm25TopTerms]]): every
    * document ranked against the corpus's 8 most frequent tokens with
    * exact milli-integer idf and tf-saturation (k1=1.2, b=0.75) — the
    * classic relevance score with a bit-exact cross-engine replay (the
    * rational-idf surrogate keeps the ordering of the log idf without
    * libm `ln`).
    */
  val q129: Q = (s, dir) =>
    TextOps.bm25TopTerms(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q129Sql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM d),
      |tfc AS (SELECT doc_id, t, count(*) AS tf, max(dl) AS dl
      |  FROM tf GROUP BY doc_id, t),
      |terms AS (SELECT t, count(DISTINCT doc_id) AS df
      |  FROM tfc GROUP BY t ORDER BY sum(tf) DESC, t ASC LIMIT 8),
      |tot AS (SELECT count(*) AS nd, sum(dl) AS tt
      |  FROM (SELECT doc_id, max(dl) AS dl FROM tfc GROUP BY doc_id)),
      |scored AS (
      |  SELECT c.doc_id,
      |    (1000 * c.tf * (1200 + 1000)) //
      |      (1000 * c.tf + (1200 * (1000 - 750 +
      |        (750 * ((1000 * c.dl * tot.nd) // tot.tt)) // 1000)) // 1000)
      |      AS sat_milli,
      |    (1000 * (tot.nd - q.df + 1)) // (q.df + 1) AS idf_milli
      |  FROM tfc c JOIN terms q ON c.t = q.t CROSS JOIN tot)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
      |  CAST(sum(sat_milli * idf_milli) AS BIGINT) AS bm25_micro
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q128
  /** DSIR-style importance scoring ([[TextOps.dsirScore]]): every
    * document scored by how target-like its hashed-unigram distribution
    * is, with English docs as the target set — the importance-resampling
    * signal for pre-training data selection. 256-bucket distributions,
    * add-one smoothing, integer-micro weights; the oracle replays the
    * identical hashed buckets and one-shot double ops bit-for-bit.
    */
  val q128: Q = (s, dir) =>
    TextOps.dsirScore(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q128Sql: String =
    """WITH occ AS (
      |  SELECT doc_id, lang = 'en' AS is_t,
      |    ('0x'||substr(md5(unnest(string_split_regex(lower(text), '\s+'))),1,12))::BIGINT
      |      % 256 AS j
      |  FROM documents),
      |dist AS (SELECT j,
      |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
      |    sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS cs
      |  FROM occ GROUP BY j),
      |tot AS (SELECT sum(ct) AS tt, sum(cs) AS ts FROM dist),
      |w AS (SELECT j,
      |    CAST(floor(CAST(ct+1 AS DOUBLE) * CAST(ts+256 AS DOUBLE) /
      |               (CAST(cs+1 AS DOUBLE) * CAST(tt+256 AS DOUBLE))
      |               * 1000000.0 + 0.5) AS BIGINT) AS w
      |  FROM dist CROSS JOIN tot)
      |SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(w.w) AS BIGINT) AS dsir_micro
      |FROM occ o JOIN w ON o.j = w.j
      |GROUP BY o.doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Bigram language-model fluency scoring
    * ([[TextOps.bigramLmScore]]): corpus-trained conditional-probability
    * scores as exact integers (10⁶·c2 div c1), order-free sums, one
    * double division at the end — the text-quality signal with a
    * bit-exact cross-engine replay (no log-probs).
    */
  val q69: Q = (s, dir) =>
    TextOps.bigramLmScore(Tables.documents(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q69Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |occ AS (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
      |  FROM (SELECT doc_id, w, unnest(range(len(w)-1)) AS i FROM t)),
      |c1 AS (SELECT w1, count(*) AS c1 FROM
      |  (SELECT unnest(w) AS w1 FROM t) GROUP BY w1),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM occ GROUP BY w1, w2),
      |sc AS (SELECT occ.doc_id, (1000000 * c2.c2) // c1.c1 AS s
      |  FROM occ JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
      |agg AS (SELECT doc_id, CAST(sum(s) AS BIGINT) AS ssum,
      |    count(*) AS nb FROM sc GROUP BY doc_id)
      |SELECT t.doc_id,
      |  coalesce(agg.nb, 0) AS n_bigrams,
      |  CAST(agg.ssum AS DOUBLE) / agg.nb AS lm_score
      |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Z-order layout key ([[graft.operators.Layout.zOrderKey]]): orders
    * bucketed (custkey, order-day) into a Morton curve and shows the
    * per-z-range locality (tight min/max on BOTH dimensions per range) —
    * the file-clustering primitive that makes two-predicate scans prune
    * at 100 TB. Pure integer shift/mask arithmetic, bit-exact anywhere.
    */
  val q70: Q = (s, dir) => {
    import graft.operators.Layout
    val o = Tables.orders(s, dir)
      .withColumn("xd", pmod(col("o_custkey"), lit(1024)).cast("long"))
      .withColumn("yd",
        pmod(datediff(col("o_orderdate"), to_date(lit("1970-01-01"))), lit(1024))
          .cast("long"))
    o.withColumn("z", Layout.zOrderKey(Seq(col("xd"), col("yd")), 10))
      .withColumn("zrange", expr("z div 4096"))
      .groupBy("zrange")
      .agg(count(lit(1)).as("n_rows"),
        min(col("xd")).as("x_min"), max(col("xd")).as("x_max"),
        min(col("yd")).as("y_min"), max(col("yd")).as("y_max"))
      .orderBy("zrange")
  }
  val q70Sql: String = {
    val terms = (0 until 10).flatMap { i =>
      Seq(s"(((xd >> $i) & 1) << ${2 * i})", s"(((yd >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" + ")
    s"""WITH d AS (SELECT
       |    o_custkey % 1024 AS xd,
       |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 1024 AS yd
       |  FROM orders),
       |z AS (SELECT xd, yd, ($terms) AS z FROM d)
       |SELECT z // 4096 AS zrange,
       |  count(*) AS n_rows,
       |  min(xd) AS x_min, max(xd) AS x_max,
       |  min(yd) AS y_min, max(yd) AS y_max
       |FROM z GROUP BY zrange ORDER BY zrange""".stripMargin
  }

  // ---------------------------------------------------------------- q71
  /** The composed curation recipe, end to end in ONE query — what a user
    * of this engine actually runs before training: quality-gate (English,
    * quality_score ≥ 2), exact-dedup keeping the smallest doc_id per
    * content fingerprint, then chunk the survivors into 64-token training
    * windows. Every stage is an operator verified on its own
    * (q31/q20/q63); this entry pins that they COMPOSE — aliasing,
    * ordering, and null conventions survive the chaining. Map-only +
    * one dedup aggregate + the chunk explode: no new shuffle shape.
    */
  val q71: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val quality = docs
      .select(col("doc_id"), col("lang"), col("text"),
        TextOps.quality(col("text")).last)
      .filter(col("lang") === "en" && col("quality_score") >= 2)
    val keep = quality
      .withColumn("keeper",
        min(col("doc_id")).over(
          Window.partitionBy(md5(col("text").cast("binary")))))
      .filter(col("doc_id") === col("keeper"))
    TextOps.chunkTable(keep, "doc_id", "text", window = 64, stride = 64)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")
  }
  val q71Sql: String =
    """WITH q AS (
      |  SELECT doc_id, text,
      |    CAST((CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 1 ELSE 0 END)
      |      + (CASE WHEN len(string_split_regex(lower(text), '\s+')) >= 10 THEN 1 ELSE 0 END)
      |      + (CASE WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2
      |          >= length(text) THEN 1 ELSE 0 END) AS BIGINT) AS quality_score
      |  FROM documents WHERE lang = 'en'),
      |keep AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      |    FROM q WHERE quality_score >= 2)
      |  WHERE doc_id = keeper),
      |t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
      |  FROM keep),
      |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 64)) AS start FROM t)
      |SELECT doc_id,
      |  CAST(start // 64 AS BIGINT) AS chunk_id,
      |  CAST(len(toks[start+1:start+64]) AS BIGINT) AS n_tok_chunk,
      |  array_to_string(toks[start+1:start+64], ' ') AS chunk_text
      |FROM s ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Feature-hashing document embeddings ([[TextOps.featureHashTable]]):
    * signed hashing-trick bag-of-words into 64 integer dimensions — the
    * deterministic text→vector bridge into the ANN operators. Exact
    * integer construction replays bit-for-bit in SQL.
    *
    * The operator returns (id, features array); the ORACLE row shape is
    * the posexploded (doc_id, dim, value) — array-typed FINAL columns
    * crash the driver's pandas comparator (sort_values on ndarray cells),
    * so every dimension is emitted as its own scalar row. Same values,
    * 64× the rows, hash-comparable.
    */
  val q72: Q = (s, dir) =>
    TextOps.featureHashTable(Tables.documents(s, dir), "doc_id", "text", 64)
      .withColumnRenamed("id", "doc_id")
      .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "value")))
      .withColumn("dim", col("dim").cast("long"))
      .orderBy("doc_id", "dim")
  val q72Sql: String = {
    def h48(e: String) = s"('0x'||substr(md5($e),1,12))::BIGINT"
    val dims = (0 until 64).map(k =>
      s"CAST(coalesce(sum(CASE WHEN j = $k THEN sgn END), 0) AS BIGINT)")
      .mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id,
       |    ${h48("t")} % 64 AS j,
       |    (${h48("t || '#s'")} % 2) * 2 - 1 AS sgn
       |  FROM toks),
       |f AS (SELECT doc_id, [
       |    $dims
       |  ] AS features
       |FROM h GROUP BY doc_id)
       |SELECT * FROM (
       |  SELECT doc_id, CAST(unnest(range(0, 64)) AS BIGINT) AS dim,
       |    unnest(features) AS value
       |  FROM f
       |) ORDER BY doc_id, dim""".stripMargin
  }

  // ---------------------------------------------------------------- q73
  /** Grid-blocked spatial proximity join
    * ([[graft.operators.Layout.gridNeighborPairs]]): customer points on a
    * hash-derived 1024×1024 grid, all pairs within Chebyshev distance 8
    * via 3×3 neighbor-cell blocking — O(n·density) candidates, never the
    * n² cross join. The oracle IS the n² brute force (tractable at the
    * oracle's scale factor), so the blocked algorithm is checked against
    * a genuinely independent formulation — any missed boundary pair or
    * duplicate orientation fails the hash.
    */
  val q73: Q = (s, dir) => {
    import graft.functions.Portable
    val pts = Tables.customer(s, dir).select(col("c_custkey").as("id"),
      pmod(Portable.hash48(concat(col("c_custkey").cast("string"), lit("x"))),
        lit(1024L)).as("x"),
      pmod(Portable.hash48(concat(col("c_custkey").cast("string"), lit("y"))),
        lit(1024L)).as("y"))
    graft.operators.Layout
      .gridNeighborPairs(pts, "id", col("x"), col("y"), radius = 8)
      .orderBy("id_a", "id_b")
  }
  val q73Sql: String = {
    def h48(suffix: String) =
      s"('0x'||substr(md5(CAST(c_custkey AS VARCHAR)||'$suffix'),1,12))::BIGINT % 1024"
    s"""WITH pts AS (SELECT c_custkey AS id,
       |    ${h48("x")} AS x,
       |    ${h48("y")} AS y
       |  FROM customer)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb
       |FROM pts a JOIN pts b ON a.id < b.id
       |WHERE abs(a.x - b.x) <= 8 AND abs(a.y - b.y) <= 8
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---------------------------------------------------------------- q74
  /** Merkle-style changed-bucket detection
    * ([[graft.operators.AntiEntropy.changedBuckets]]): snapshot B is
    * orders with a deterministic perturbation (price +1¢ on keys ≡ 0 mod
    * 977, rows ≡ 0 mod 1009 deleted); per-bucket order-free hash-sum
    * digests localize every difference to its custkey-mod-256 bucket —
    * the anti-entropy pre-filter that makes repeated 100 TB syncs ship
    * O(changed data). The commutative digest replays exactly in SQL.
    */
  val q74: Q = (s, dir) => {
    import graft.operators.AntiEntropy
    val base = Tables.orders(s, dir)
      .withColumn("tp_c", cents(col("o_totalprice")))
      .select("o_orderkey", "o_custkey", "tp_c")
    val b = base
      .withColumn("tp_c",
        when(col("o_orderkey") % 977 === 0, col("tp_c") + 1)
          .otherwise(col("tp_c")))
      .filter(col("o_orderkey") % 1009 =!= 0)
    def row = concat_ws("|", col("o_orderkey"), col("tp_c"))
    AntiEntropy.changedBuckets(base, b, pmod(col("o_custkey"), lit(256L)), row)
      .orderBy("bucket")
  }
  val q74Sql: String = {
    val h48 = "('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)||'|'||CAST(tp_c AS VARCHAR)),1,12))::BIGINT % 1000000007"
    s"""WITH base AS (SELECT o_orderkey, o_custkey,
       |    CAST(round(o_totalprice*100) AS BIGINT) AS tp_c FROM orders),
       |bb AS (SELECT o_orderkey, o_custkey,
       |    CASE WHEN o_orderkey % 977 = 0 THEN tp_c + 1 ELSE tp_c END AS tp_c
       |  FROM base WHERE o_orderkey % 1009 <> 0),
       |da AS (SELECT o_custkey % 256 AS bucket, count(*) AS a_rows,
       |    CAST(sum($h48) AS BIGINT) AS a_dig FROM base GROUP BY bucket),
       |db AS (SELECT o_custkey % 256 AS bucket, count(*) AS b_rows,
       |    CAST(sum($h48) AS BIGINT) AS b_dig FROM bb GROUP BY bucket)
       |SELECT coalesce(da.bucket, db.bucket) AS bucket,
       |  CASE WHEN da.a_rows IS NULL THEN 'only_right'
       |       WHEN db.b_rows IS NULL THEN 'only_left'
       |       ELSE 'changed' END AS status,
       |  coalesce(da.a_rows, 0) AS a_rows,
       |  coalesce(db.b_rows, 0) AS b_rows
       |FROM da FULL JOIN db ON da.bucket = db.bucket
       |WHERE da.a_rows IS DISTINCT FROM db.b_rows
       |   OR da.a_dig IS DISTINCT FROM db.b_dig
       |ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- q75
  /** Train/eval n-gram overlap scoring — the graded contamination metric
    * (complementing q51's exact fingerprint join and q60's Bloom screen):
    * for every eval document, the fraction of its distinct 5-grams that
    * also appear anywhere in the train split. Distinct-gram explode on
    * both sides, one left-semi-style join keyed on the gram, exact
    * integer counts, one double division at the end. The partial-overlap
    * signal exact dedup misses (paraphrased or truncated leakage).
    */
  val q75: Q = (s, dir) => {
    val docs = graft.operators.Spread.ensure(
      Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
    def grams(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(graft.functions.Portable.shingles(
        graft.functions.Portable.tokens(col("text")), 5)).as("g"))
    // the gram TEXT never reaches the output, so both join sides carry
    // xxhash64(gram) — 8 bytes a row instead of the raw ~25-byte string
    // through the train-distinct shuffle and both join exchanges (a
    // 64-bit collision would count one false hit, p ≈ n²/2⁶⁵ ≈ 10⁻⁶ at
    // 5M distinct grams)
    val evalG = grams(docs.filter(col("doc_id") % 53 === 0))
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
    val trainG = grams(docs.filter(col("doc_id") % 53 =!= 0))
      .select(xxhash64(col("g")).as("g")).distinct()
    // one pass over the eval grams: a left join with a hit flag feeds
    // both the total and the hit count (a separate semi-join + totals
    // aggregate would tokenize the eval side twice)
    evalG.join(trainG.withColumn("hit", lit(1)), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("overlap"))
      .orderBy("doc_id")
  }
  val q75Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |g AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 5
      |    THEN list_distinct(list_transform(range(len(w)-4),
      |      i -> array_to_string(w[i+1:i+5], ' ')))
      |    ELSE [] END) AS g FROM t),
      |ev AS (SELECT * FROM g WHERE doc_id % 53 = 0),
      |tr AS (SELECT DISTINCT g FROM g WHERE doc_id % 53 <> 0),
      |hits AS (SELECT doc_id, count(*) AS n_hit FROM ev
      |  WHERE g IN (SELECT g FROM tr) GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id)
      |SELECT tot.doc_id, tot.n_grams,
      |  coalesce(hits.n_hit, 0) AS n_hit,
      |  CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / tot.n_grams AS overlap
      |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  // ---------------------------------------------------------------- q76
  /** Dedup endgame — cluster-representative selection: the planted-dup
    * corpus (q52's) is closed into connected components, and every
    * cluster keeps its best document by (quality_score DESC, doc_id) —
    * originals beat their copies on the id tie-break. Pairs → clusters →
    * survivors in one query; the survivor rule is a lexicographic
    * struct-min aggregate (the argmin pattern), so partial aggregation
    * ships one candidate per cluster per partition — no per-cluster
    * window sort.
    */
  val q76: Q = (s, dir) => {
    import graft.operators.Dedup
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = d
      .unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val fp = corpus.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val pairs = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val comps = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    val toks = graft.functions.Portable.tokens(col("text"))
    val alphabet = ('a' to 'z').mkString + ('A' to 'Z').mkString
    val quality =
      (when(length(col("text")).between(50, 2000), 1).otherwise(0) +
        when(size(toks) >= 10, 1).otherwise(0) +
        when((length(col("text")) -
          length(translate(col("text"), alphabet, ""))) * 2
          >= length(col("text")), 1).otherwise(0)).cast("long")
    corpus.join(comps, Seq("doc_id"), "left")
      .select(coalesce(col("comp"), col("doc_id")).as("comp"),
        col("doc_id"), quality.as("q"))
      .groupBy("comp")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("q")).as("nq"), col("doc_id"))).as("best"))
      .select(col("comp"),
        col("best").getField("doc_id").as("rep_id"),
        (-col("best").getField("nq")).as("rep_quality"),
        col("n_members"))
      .orderBy("comp")
  }
  val q76Sql: String =
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
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comps AS (SELECT src AS doc_id, least(src, min(dst)) AS comp
      |  FROM reach GROUP BY src),
      |scored AS (SELECT
      |    coalesce(comps.comp, corpus.doc_id) AS comp,
      |    corpus.doc_id,
      |    CAST((CASE WHEN length(text) BETWEEN 50 AND 2000 THEN 1 ELSE 0 END)
      |      + (CASE WHEN len(string_split_regex(lower(text), '\s+')) >= 10 THEN 1 ELSE 0 END)
      |      + (CASE WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2
      |          >= length(text) THEN 1 ELSE 0 END) AS BIGINT) AS q
      |  FROM corpus LEFT JOIN comps ON corpus.doc_id = comps.doc_id),
      |ranked AS (SELECT comp, doc_id, q,
      |    count(*) OVER (PARTITION BY comp) AS n_members,
      |    row_number() OVER (PARTITION BY comp ORDER BY q DESC, doc_id) AS rn
      |  FROM scored)
      |SELECT comp, doc_id AS rep_id, q AS rep_quality,
      |  CAST(n_members AS BIGINT) AS n_members
      |FROM ranked WHERE rn = 1 ORDER BY comp""".stripMargin

  // --------------------------------------------------------------- q108
  /** Compaction planning ([[graft.operators.Layout.compactionPlan]]) over
    * a deterministic synthetic file listing (one "file" per document,
    * source = the lake partition, size = 10·n_chars): files ≥ the 8 KiB
    * target are kept in place, the rest greedily bin-packed per source by
    * cumulative size — the small-files remediation plan a 100 TB lake
    * computes continuously. The oracle replays the keep/rewrite split and
    * the cum-div binning with a window.
    */
  val q108: Q = (s, dir) =>
    graft.operators.Layout.compactionPlan(
        Tables.documents(s, dir).select(col("source"),
          concat(col("source"), lit("/"), col("doc_id")).as("file"),
          (col("n_chars") * 10).as("size")),
        Seq("source"), col("file"), col("size"), targetBytes = 8192L)
      .orderBy("source", "file")
  val q108Sql: String =
    """WITH f AS (SELECT source,
      |    source || '/' || CAST(doc_id AS VARCHAR) AS file,
      |    CAST(n_chars * 10 AS BIGINT) AS size
      |  FROM documents),
      |small AS (SELECT source, file, size, 'rewrite' AS action,
      |    CAST(coalesce(sum(size) OVER (PARTITION BY source ORDER BY file
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 8192
      |      AS BIGINT) AS bin
      |  FROM f WHERE size < 8192),
      |kept AS (SELECT source, file, size, 'keep' AS action,
      |    CAST(NULL AS BIGINT) AS bin
      |  FROM f WHERE size >= 8192)
      |SELECT * FROM small UNION ALL SELECT * FROM kept
      |ORDER BY source, file""".stripMargin

  // --------------------------------------------------------------- q149
  /** Cross-version chunk reuse ([[TextOps.contentDefinedChunks]] over
    * two snapshot versions): every 5th document gets a prefix edit in
    * "v2"; the report counts how many of each document's v2 chunks
    * already exist in v1 — the delta-sync savings estimate that
    * justifies content-defined over fixed-stride chunking (a prefix
    * edit shifts every byte offset, yet all chunks past the first
    * content boundary keep their hashes). Two chunk tables, one
    * id-partitioned left join, one grouped count — at snapshot scale
    * this IS the transfer-planning query.
    */
  val q149: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val v2 = d.withColumn("text",
      when(col("doc_id") % 5 === 0, concat(lit("upd "), col("text")))
        .otherwise(col("text")))
    val c1 = TextOps.contentDefinedChunks(d, "doc_id", "text")
      .select(col("id"), col("chunk_h")).distinct()
      .withColumn("hit", lit(1L))
    val c2 = TextOps.contentDefinedChunks(v2, "doc_id", "text")
    c2.join(c1, Seq("id", "chunk_h"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"), count(col("hit")).as("n_reused"))
      .select(col("id").as("doc_id"),
        (col("id") % 5 === 0).cast("long").as("edited"),
        col("n_chunks"), col("n_reused"),
        expr("(n_reused * 1000000) div n_chunks").as("reuse_ppm"))
      .orderBy("doc_id")
  }
  val q149Sql: String = {
    def chunks(src: String, p: String) =
      s"""${p}t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
         |  FROM $src),
         |${p}p AS (SELECT doc_id, w, unnest(range(len(w))) AS pos FROM ${p}t),
         |${p}c AS (SELECT doc_id, pos, w[pos+1] AS tok,
         |    CASE WHEN pos > 0 AND pos + 3 <= len(w)
         |      AND ('0x'||substr(md5(array_to_string(w[pos+1:pos+3], ' ')),1,12))::BIGINT % 64 = 0
         |    THEN 1 ELSE 0 END AS cut FROM ${p}p),
         |${p}k AS (SELECT doc_id, pos, tok, sum(cut) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
         |    AS chunk_id FROM ${p}c),
         |${p}h AS (SELECT doc_id, chunk_id,
         |    ('0x'||substr(md5(string_agg(tok, ' ' ORDER BY pos)),1,12))::BIGINT
         |      AS chunk_h
         |  FROM ${p}k GROUP BY 1, 2)""".stripMargin
    s"""WITH v1 AS (SELECT doc_id, text FROM documents),
       |v2 AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |    THEN 'upd ' || text ELSE text END AS text FROM documents),
       |${chunks("v1", "a")},
       |${chunks("v2", "b")},
       |a1 AS (SELECT DISTINCT doc_id, chunk_h FROM ah),
       |j AS (SELECT bh.doc_id, bh.chunk_id,
       |    CASE WHEN a1.chunk_h IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM bh LEFT JOIN a1
       |    ON a1.doc_id = bh.doc_id AND a1.chunk_h = bh.chunk_h)
       |SELECT doc_id,
       |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS edited,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(hit) AS BIGINT) AS n_reused,
       |  CAST((sum(hit) * 1000000) // count(*) AS BIGINT) AS reuse_ppm
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q153
  /** CCNet-style perplexity tertiles ([[TextOps.perplexityBuckets]]):
    * bigram LM trained on the src0 reference slice, every document
    * scored by integer surprise bits (floor-log2 via binary-string
    * length — no libm log anywhere), bucketed head/middle/tail at the
    * corpus tertiles. The thresholds come from one sort-and-offset
    * selection over the ≤ 20 001-value milli-bits counts; the oracle
    * replays the same ranks with a ROW_NUMBER over the per-doc averages.
    */
  val q153: Q = (s, dir) =>
    TextOps.perplexityBuckets(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q153Sql: String =
    """WITH t AS (SELECT doc_id, source,
      |    string_split_regex(lower(text), '\s+') AS w FROM documents),
      |occ AS (SELECT doc_id, source, w[i+1] AS w1, w[i+2] AS w2
      |  FROM (SELECT doc_id, source, w, unnest(range(len(w)-1)) AS i
      |        FROM t)),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM occ
      |  WHERE source = 'src0' GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
      |vv AS (SELECT count(*) AS vv FROM c1),
      |sc AS (SELECT o.doc_id,
      |    21 - length(format('{:b}',
      |      greatest((1000000 * (coalesce(c2.c2, 0) + 1))
      |                 // (coalesce(c1.c1, 0) + vv.vv), 1))) AS bits
      |  FROM occ o LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |  CROSS JOIN vv),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
      |    CAST(sum(bits) AS BIGINT) AS bits FROM sc GROUP BY 1),
      |av AS (SELECT doc_id, nb, bits,
      |    CAST((bits * 1000) // nb AS BIGINT) AS av FROM agg),
      |nn AS (SELECT count(*) AS n FROM av),
      |r AS (SELECT av, row_number() OVER (ORDER BY av) AS rk FROM av),
      |th AS (SELECT
      |    max(CASE WHEN rk = (SELECT (n + 2) // 3 FROM nn) THEN av END)
      |      AS t1,
      |    max(CASE WHEN rk = (SELECT (2 * n + 2) // 3 FROM nn) THEN av END)
      |      AS t2
      |  FROM r)
      |SELECT a.doc_id, a.nb AS n_bigrams, a.bits AS doc_bits,
      |  a.av AS avg_millibits,
      |  CASE WHEN a.av <= th.t1 THEN 'head'
      |       WHEN a.av <= th.t2 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM av a CROSS JOIN th ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q154
  /** Broadcast Aho–Corasick blocklist matching
    * ([[TextOps.blocklistCounts]]): the corpus' two most
    * document-frequent word-2-grams AND word-3-grams compiled into ONE
    * automaton, every occurrence of every pattern counted in a single
    * map-only pass per document — the policy-filter shape that stays
    * O(tokens) regardless of blocklist size, versus the per-pattern
    * postings fan-out of q139. The oracle replays the O(docs ×
    * positions × patterns) brute-force slice comparison per pattern
    * length — a genuinely independent algorithm, so overlapping-match
    * or fail-link bugs fail the hash.
    */
  val q154: Q = (s, dir) => {
    import graft.functions.Portable
    val docs = Tables.documents(s, dir)
    def topGrams(n: Int, idOff: Int): DataFrame =
      graft.operators.Spread.ensure(
          docs.select(col("doc_id").as("id"), col("text")), "id")
        .select(explode(
          Portable.shingles(Portable.tokens(col("text")), n)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("g").asc).limit(2)
        .agg(sort_array(collect_list(struct((-col("df")).as("nd"),
          col("g")))).as("top"))
        .select(posexplode(col("top")).as(Seq("p", "t")))
        .select((col("p") + 1 + idOff).cast("long").as("pattern_id"),
          col("t.g").as("phrase"))
    val pats = topGrams(2, 0).unionByName(topGrams(3, 2))
    TextOps.blocklistCounts(docs, "doc_id", "text", pats)
      .withColumnRenamed("id", "doc_id")
      .orderBy("pattern_id", "doc_id")
  }
  val q154Sql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |g2 AS (SELECT unnest(list_distinct(CASE WHEN len(w) >= 2
      |    THEN list_transform(range(len(w)-1),
      |      i -> array_to_string(w[i+1:i+2], ' '))
      |    ELSE [] END)) AS g FROM t),
      |top2 AS (SELECT g, count(*) AS df FROM g2 GROUP BY g
      |  ORDER BY df DESC, g ASC LIMIT 2),
      |ph2 AS (SELECT row_number() OVER (ORDER BY df DESC, g ASC)
      |    AS pattern_id, string_split_regex(g, '\s+') AS pw FROM top2),
      |g3 AS (SELECT unnest(list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(len(w)-2),
      |      i -> array_to_string(w[i+1:i+3], ' '))
      |    ELSE [] END)) AS g FROM t),
      |top3 AS (SELECT g, count(*) AS df FROM g3 GROUP BY g
      |  ORDER BY df DESC, g ASC LIMIT 2),
      |ph3 AS (SELECT 2 + row_number() OVER (ORDER BY df DESC, g ASC)
      |    AS pattern_id, string_split_regex(g, '\s+') AS pw FROM top3),
      |ph AS (SELECT * FROM ph2 UNION ALL SELECT * FROM ph3),
      |m AS (SELECT p.pattern_id, t.doc_id, count(*) AS n_hits
      |  FROM t, ph p,
      |    unnest(range(0, greatest(len(t.w) - len(p.pw) + 1, 0))) AS u(s)
      |  WHERE t.w[u.s+1:u.s+len(p.pw)] = p.pw
      |  GROUP BY 1, 2)
      |SELECT doc_id, CAST(pattern_id AS BIGINT) AS pattern_id,
      |  CAST(n_hits AS BIGINT) AS n_hits
      |FROM m ORDER BY pattern_id, doc_id""".stripMargin

  // --------------------------------------------------------------- q160
  /** Tokenizer fertility / token-share accounting
    * ([[TextOps.tokenizerFertility]]) per language: the mixture report
    * that decides multilingual sampling weights — BPE-per-word
    * fertility in milli units and each language's ppm share of corpus
    * tokens, from one map-side-combined aggregate + a broadcast total.
    */
  val q160: Q = (s, dir) =>
    TextOps.tokenizerFertility(Tables.documents(s, dir), "doc_id", "text",
        col("lang"))
      .withColumnRenamed("g", "lang")
      .orderBy("lang")
  val q160Sql: String =
    """WITH t AS (SELECT lang,
      |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
      |      AS ws,
      |    CAST(len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe
      |  FROM documents),
      |per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
      |    CAST(sum(bpe) AS BIGINT) AS bpe_tokens
      |  FROM t GROUP BY 1),
      |tot AS (SELECT CAST(sum(bpe_tokens) AS BIGINT) AS bpe_total
      |  FROM per)
      |SELECT lang, n_docs, ws_tokens, bpe_tokens,
      |  CAST((bpe_tokens * 1000) // ws_tokens AS BIGINT)
      |    AS fertility_milli,
      |  CAST((bpe_tokens * 1000000) // bpe_total AS BIGINT) AS share_ppm
      |FROM per CROSS JOIN tot ORDER BY lang""".stripMargin

  // --------------------------------------------------------------- q161
  /** The PERSISTED form of q153 ([[TextOps.LmStore]]): train the bigram
    * LM on the src0 slice and WRITE it (c2/c1/meta parquet), then score
    * the corpus from the stored artifact alone — identical arithmetic
    * end to end, so the oracle is q153's SQL verbatim; any drift
    * between the stored and one-shot paths fails the hash (the
    * q56/q107 ANN-index contract, applied to the text pipeline).
    */
  val q161: Q = (s, dir) => {
    val store = graft.Tables.storeDir("lm_store", dir)
    val docs = Tables.documents(s, dir)
    // fingerprint-gated: the first run trains + writes, repeats hit the
    // store — so warm timings measure the production steady state
    // (score a batch against the stored LM), and a regenerated corpus
    // forces a retrain instead of scoring against a stale artifact
    TextOps.LmStore.ensure(docs, "doc_id", "text",
      col("source") === "src0", store)
    TextOps.LmStore.scoreFrom(s, docs, "doc_id", "text", store)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  val q161Sql: String = q153Sql

  // --------------------------------------------------------------- q162
  /** Stupid-backoff trigram scoring ([[TextOps.stupidBackoffScore]]):
    * the src0-trained web-scale LM recipe (counts only, fixed 0.4
    * back-off — hence exactly replayable in integers) scoring every
    * document, with per-level resolution counts as the model-coverage
    * diagnostic. Oracle replays trigram/bigram/unigram counting, the
    * back-off CASE, and the micro arithmetic verbatim.
    */
  val q162: Q = (s, dir) =>
    TextOps.stupidBackoffScore(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q162Sql: String =
    """WITH t AS (SELECT doc_id, source,
      |    string_split_regex(lower(text), '\s+') AS w FROM documents),
      |o3 AS (SELECT doc_id, source, w[i+1] AS w1, w[i+2] AS w2,
      |    w[i+3] AS w3
      |  FROM (SELECT doc_id, source, w, unnest(range(len(w)-2)) AS i
      |        FROM t)),
      |d3 AS (SELECT doc_id, w1, w2, w3, count(*) AS cnt FROM o3
      |  GROUP BY 1, 2, 3, 4),
      |tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
      |  FROM o3 WHERE source = 'src0' GROUP BY 1, 2, 3),
      |t12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12
      |  FROM tri GROUP BY 1, 2),
      |o2 AS (SELECT source, w[i+1] AS w2, w[i+2] AS w3
      |  FROM (SELECT source, w, unnest(range(len(w)-1)) AS i FROM t)),
      |bi AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS c23 FROM o2
      |  WHERE source = 'src0' GROUP BY 1, 2),
      |b2 AS (SELECT w2, CAST(sum(c23) AS BIGINT) AS c2s FROM bi
      |  GROUP BY 1),
      |u AS (SELECT w3, CAST(count(*) AS BIGINT) AS c3 FROM
      |  (SELECT unnest(w) AS w3 FROM t WHERE source = 'src0') GROUP BY 1),
      |nv AS (SELECT CAST(sum(c3) AS BIGINT) AS nn FROM u),
      |sc AS (SELECT d.doc_id, d.cnt,
      |    CASE WHEN coalesce(tri.c123, 0) > 0 THEN 3
      |         WHEN coalesce(bi.c23, 0) > 0 THEN 2
      |         WHEN coalesce(u.c3, 0) > 0 THEN 1 ELSE 0 END AS lvl,
      |    CASE WHEN coalesce(tri.c123, 0) > 0
      |           THEN (1000000 * tri.c123) // t12.c12
      |         WHEN coalesce(bi.c23, 0) > 0
      |           THEN (400000 * bi.c23) // b2.c2s
      |         WHEN coalesce(u.c3, 0) > 0
      |           THEN (160000 * u.c3) // nv.nn
      |         ELSE 0 END AS s
      |  FROM d3 d LEFT JOIN tri USING (w1, w2, w3)
      |            LEFT JOIN t12 USING (w1, w2)
      |            LEFT JOIN bi USING (w2, w3)
      |            LEFT JOIN b2 USING (w2)
      |            LEFT JOIN u USING (w3) CROSS JOIN nv)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
      |  CAST(coalesce(sum(CASE WHEN lvl = 3 THEN cnt END), 0) AS BIGINT)
      |    AS n_tri,
      |  CAST(coalesce(sum(CASE WHEN lvl = 2 THEN cnt END), 0) AS BIGINT)
      |    AS n_bi,
      |  CAST(coalesce(sum(CASE WHEN lvl = 1 THEN cnt END), 0) AS BIGINT)
      |    AS n_uni,
      |  CAST(sum(cnt * s) AS BIGINT) AS sb_micro_sum
      |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q179
  /** The FULL curation DAG in one entry — the six-stage recipe a
    * production pretraining pipeline actually runs, chained end to end
    * so cache lifetimes, aliasing, and null conventions are pinned
    * ACROSS operator families (q71 pins a 3-stage chain; this is the
    * whole product workload):
    *
    *   1. Gopher quality gate  (score ≥ 4 of 5 — [[TextOps.gopherRules]])
    *   2. exact dedup          (min doc_id per md5 fingerprint)
    *   3. MinHash LSH pairs    ([[Dedup.minhashLshPairs]], q22 params)
    *   4. leakage-aware split  (near-dup clusters never straddle —
    *                            [[Curate.leakageAwareSplit]] keyed on
    *                            the LSH pairs from stage 3: exact dups
    *                            are REMOVED, near-dups are CO-ASSIGNED)
    *   5. mixture to budget    ([[Curate.mixToBudget]] {1,1,8}/100 on
    *                            the train split)
    *   6. sequence packing     (epoch copies materialized, 2048-token
    *                            bins — [[Curate.packSequences]] +
    *                            [[Curate.packingReport]])
    *
    * Output is the long-format (stage, k, v) stats frame — one row per
    * stage cardinality plus the full packing-utilization histogram — so
    * the oracle hash pins EVERY stage's row count, the split sizes, the
    * copy totals, and the final bin histogram in one comparison. Each
    * intermediate is run-cached with an eager count (the broadcast
    * subjobs in stages 5-6 must never race an uncached parent; caches
    * release at the harness's post-materialization drain). Shape:
    * map-only gate → one dedup window → the banded LSH candidate join
    * (never all-pairs) → component rounds on the pair graph (bounded by
    * cluster diameter) → two broadcast joins → one 8-shard packing
    * window; nothing here collects to the driver.
    */
  val q179: Q = (s, dir) => {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // r17 release-audit sweep: the five stage caches used to be
    // persisted with NO release — across a bench entry's warm runs the
    // identical plans silently REUSED the previous run's cache (the
    // no-cross-run-caching contract says each run must recompute), and
    // in long-lived hosts they accumulated. Each cache now rides the
    // harness's post-materialization drain. The eager count stays: the
    // broadcast subjobs in stages 5-6 must never race an uncached
    // parent — and (r17, guide §1.2/§2.4) the count now also FEEDS the
    // final stats frame, so the assembly no longer re-aggregates the
    // cached stages it was counted from (7 stat subjobs → 2 + a local
    // row set).
    def cached(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(lvl)
      graft.PendingRelease.defer(() => { p.unpersist(); () })
      (p, p.count())
    }
    val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
    val (gated, nGated) = cached(docs
      .select(col("doc_id"), col("text"), col("source"),
        TextOps.gopherRules(col("text")).last)
      .filter(col("gopher_score") >= 4).drop("gopher_score"))
    val (exact, nExact) = cached(gated
      .withColumn("keeper", min(col("doc_id"))
        .over(Window.partitionBy(md5(col("text").cast("binary")))))
      .filter(col("doc_id") === col("keeper")).drop("keeper"))
    val (pairs, nPairs) = cached(
      Dedup.minhashLshPairs(exact, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b"))
    val (split, _) = cached(Curate.leakageAwareSplit(exact, col("doc_id"),
      pairs, Seq(("train", 80), ("val", 10), ("test", 10))))
    val train = split.filter(col("split") === "train")
      .select("doc_id", "text", "source")
    val (mixed, nMixed) = cached(Curate.mixToBudget(train, "source",
      col("doc_id"), weights = Seq("src0" -> 1L, "src1" -> 1L, "src2" -> 8L),
      budget = 100L, shards = 64))
    // copies ≤ per-source target ≤ 80 < 1000, so mid = id·1000 + copy
    // is collision-free a priori
    val stream = mixed
      .join(train.select(col("doc_id"),
        size(graft.functions.Portable.tokens(col("text"))).as("n_tok")),
        Seq("doc_id"))
      .withColumn("copy", explode(sequence(lit(1L), col("copies"))))
      .select((col("doc_id") * 1000L + col("copy")).as("mid"), col("n_tok"))
    val report = Curate.packingReport(
      Curate.packSequences(stream, "mid", col("n_tok"),
        capacity = 2048L, shards = 8),
      capacity = 2048L)
    def stat(stage: String, k: String, v: org.apache.spark.sql.Column,
        from: DataFrame): DataFrame =
      from.agg(v.cast("long").as("v"))
        .select(lit(stage).as("stage"), lit(k).as("k"), col("v"))
    // the four stage cardinalities are the cache-materialization counts
    // computed above in this same run — emitting them as one local row
    // set instead of one aggregate subjob each is the guide §2.4 "don't
    // re-scan for what you already know" move; values are identical by
    // construction (count of a cached deterministic frame)
    import s.implicits._
    val litStats = Seq(
      ("1_gate", "n_docs", nGated),
      ("2_exact_dedup", "n_docs", nExact),
      ("3_lsh_pairs", "n_pairs", nPairs),
      ("5_mixture", "n_docs", nMixed)).toDF("stage", "k", "v")
    val parts = Seq(
      litStats,
      split.groupBy("split").agg(count(lit(1)).cast("long").as("v"))
        .select(lit("4_split").as("stage"), col("split").as("k"), col("v")),
      stat("5_mixture", "total_copies", sum(col("copies")), mixed),
      report.select(lit("6_packing").as("stage"), col("util_decile"),
          expr("stack(3, 'bins', n_bins, 'docs', n_docs, " +
            "'tokens', total_tokens)").as(Seq("m", "v")))
        .select(col("stage"),
          format_string("d%02d_%s", col("util_decile"), col("m")).as("k"),
          col("v")))
    parts.reduce(_.unionByName(_)).orderBy("stage", "k")
  }
  val q179Sql: String =
    """WITH RECURSIVE
      |g AS (SELECT doc_id, text, source FROM (
      |  SELECT doc_id, text, source,
      |    (CASE WHEN len(w) BETWEEN 10 AND 5000 THEN 1 ELSE 0 END)
      |    + (CASE WHEN wc >= len(w)*3 AND wc <= len(w)*10 THEN 1 ELSE 0 END)
      |    + (CASE WHEN na*5 >= len(w)*4 THEN 1 ELSE 0 END)
      |    + (CASE WHEN ns >= 2 THEN 1 ELSE 0 END)
      |    + (CASE WHEN nd*10 <= len(w) THEN 1 ELSE 0 END) AS score
      |  FROM (
      |    SELECT doc_id, text, source, w,
      |      list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b) AS wc,
      |      len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS na,
      |      len(list_filter(w, t -> regexp_matches(t, '^[0-9]+$'))) AS nd,
      |      len(list_intersect(list_distinct(w),
      |        ['the','a','of','and','to','in'])) AS ns
      |    FROM (SELECT doc_id, text, source,
      |        string_split_regex(lower(text), '\s+') AS w FROM documents)))
      |  WHERE score >= 4),
      |e AS (SELECT doc_id, text, source FROM (
      |    SELECT doc_id, text, source,
      |      min(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM g)
      |  WHERE doc_id = keeper),
      |corpus AS (SELECT doc_id AS id, text FROM e),
      |words AS (SELECT id, text, string_split_regex(lower(text), '\s+') AS w FROM corpus),
      |sh AS (SELECT DISTINCT id, unnest(CASE WHEN len(w) >= 3
      |  THEN list_distinct(list_transform(range(len(w)-2), i -> array_to_string(w[i+1:i+3], ' ')))
      |  ELSE []::VARCHAR[] END) AS shingle FROM words),
      |shh AS (SELECT id, ('0x'||substr(md5(shingle),1,12))::BIGINT AS shingle FROM sh),
      |sz AS (SELECT id, count(*) AS sz FROM shh GROUP BY id),
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
      |  FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b),
      |pairs AS (SELECT id_a, id_b FROM jac WHERE jac >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, x.dst FROM reach r JOIN edges x ON r.dst = x.src),
      |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS comp
      |  FROM reach GROUP BY src),
      |rep AS (SELECT e.doc_id, e.text, e.source,
      |    coalesce(k.comp, e.doc_id) AS rep
      |  FROM e LEFT JOIN comp k ON k.doc_id = e.doc_id),
      |sp AS (SELECT doc_id, text, source,
      |  CASE WHEN ('0x'||substr(md5(CAST(rep AS VARCHAR)),1,12))::BIGINT % 100 < 80 THEN 'train'
      |       WHEN ('0x'||substr(md5(CAST(rep AS VARCHAR)),1,12))::BIGINT % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM rep),
      |train AS (SELECT doc_id, text, source FROM sp WHERE split = 'train'),
      |wmix(source, wt) AS (VALUES ('src0', CAST(1 AS BIGINT)),
      |    ('src1', CAST(1 AS BIGINT)), ('src2', CAST(8 AS BIGINT))),
      |tgt AS (SELECT source, (wt * 100) // 10 AS target FROM wmix),
      |dmix AS (SELECT source, doc_id AS id,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,12))::BIGINT AS h
      |  FROM train),
      |rmix AS (SELECT source, id, h,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY h % 64, h, id) AS BIGINT) AS rnk,
      |    count(*) OVER (PARTITION BY source) AS avail
      |  FROM dmix),
      |cmix AS (SELECT rmix.source, rmix.id, (t.target // rmix.avail) +
      |    CASE WHEN rmix.rnk <= t.target % rmix.avail THEN 1 ELSE 0 END AS copies
      |  FROM rmix JOIN tgt t USING (source)),
      |mixed AS (SELECT source, id AS doc_id, copies FROM cmix WHERE copies >= 1),
      |tok AS (SELECT doc_id,
      |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM train),
      |streamx AS (SELECT m.doc_id * 1000 + unnest(range(1, m.copies + 1)) AS mid,
      |    tok.n_tok
      |  FROM mixed m JOIN tok USING (doc_id)),
      |pk AS (SELECT mid, n_tok,
      |    ('0x'||substr(md5(CAST(mid AS VARCHAR)),1,12))::BIGINT % 8 AS shard
      |  FROM streamx),
      |cum AS (SELECT mid, shard, n_tok,
      |    sum(n_tok) OVER (PARTITION BY shard ORDER BY mid) - n_tok AS cum_before
      |  FROM pk),
      |bins AS (SELECT shard * 1000000 + cum_before // 2048 AS bin, n_tok FROM cum),
      |bagg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS fill FROM bins GROUP BY bin),
      |deciles AS (SELECT least(10, (fill * 10) // 2048) AS util_decile,
      |    CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |    CAST(sum(fill) AS BIGINT) AS total_tokens
      |  FROM bagg GROUP BY 1),
      |stats AS (
      |  SELECT '1_gate' AS stage, 'n_docs' AS k, CAST(count(*) AS BIGINT) AS v FROM g
      |  UNION ALL SELECT '2_exact_dedup', 'n_docs', count(*) FROM e
      |  UNION ALL SELECT '3_lsh_pairs', 'n_pairs', count(*) FROM pairs
      |  UNION ALL SELECT '4_split', split, count(*) FROM sp GROUP BY split
      |  UNION ALL SELECT '5_mixture', 'n_docs', count(*) FROM mixed
      |  UNION ALL SELECT '5_mixture', 'total_copies', sum(copies) FROM mixed
      |  UNION ALL SELECT '6_packing', printf('d%02d_bins', util_decile), n_bins FROM deciles
      |  UNION ALL SELECT '6_packing', printf('d%02d_docs', util_decile), n_docs FROM deciles
      |  UNION ALL SELECT '6_packing', printf('d%02d_tokens', util_decile), total_tokens FROM deciles)
      |SELECT stage, k, CAST(v AS BIGINT) AS v FROM stats ORDER BY stage, k""".stripMargin

  val queries: Map[String, Q] = Map(
    "q179_curation_dag" -> q179,
    "q162_stupid_backoff" -> q162,
    "q161_lm_store" -> q161,
    "q160_tokenizer_fertility" -> q160,
    "q153_perplexity_buckets" -> q153,
    "q154_blocklist_automaton" -> q154,
    "q149_chunk_reuse" -> q149,
    "q108_compaction_plan" -> q108,
    "q62_tfidf_topterms" -> q62,
    "q63_chunk_overlap" -> q63,
    "q64_pii_redact" -> q64,
    "q65_pps_sample" -> q65,
    "q66_repeated_ngrams" -> q66,
    "q67_fuzzy_linkage" -> q67,
    "q68_simhash64" -> q68,
    "q69_bigram_lm" -> q69,
    "q128_dsir_score" -> q128,
    "q129_bm25_topterms" -> q129,
    "q135_rrf_fusion" -> q135,
    "q139_phrase_search" -> q139,
    "q140_content_chunks" -> q140,
    "q70_zorder" -> q70,
    "q71_curation_pipeline" -> q71,
    "q72_feature_hashing" -> q72,
    "q73_grid_proximity_join" -> q73,
    "q74_antientropy_digest" -> q74,
    "q75_ngram_overlap" -> q75,
    "q76_dedup_survivors" -> q76)

  val oracle: Map[String, String] = Map(
    "q179_curation_dag" -> q179Sql,
    "q162_stupid_backoff" -> q162Sql,
    "q161_lm_store" -> q161Sql,
    "q160_tokenizer_fertility" -> q160Sql,
    "q153_perplexity_buckets" -> q153Sql,
    "q154_blocklist_automaton" -> q154Sql,
    "q149_chunk_reuse" -> q149Sql,
    "q108_compaction_plan" -> q108Sql,
    "q62_tfidf_topterms" -> q62Sql,
    "q63_chunk_overlap" -> q63Sql,
    "q64_pii_redact" -> q64Sql,
    "q65_pps_sample" -> q65Sql,
    "q66_repeated_ngrams" -> q66Sql,
    "q67_fuzzy_linkage" -> q67Sql,
    "q68_simhash64" -> q68Sql,
    "q69_bigram_lm" -> q69Sql,
    "q128_dsir_score" -> q128Sql,
    "q129_bm25_topterms" -> q129Sql,
    "q135_rrf_fusion" -> q135Sql,
    "q139_phrase_search" -> q139Sql,
    "q140_content_chunks" -> q140Sql,
    "q70_zorder" -> q70Sql,
    "q71_curation_pipeline" -> q71Sql,
    "q72_feature_hashing" -> q72Sql,
    "q73_grid_proximity_join" -> q73Sql,
    "q74_antientropy_digest" -> q74Sql,
    "q75_ngram_overlap" -> q75Sql,
    "q76_dedup_survivors" -> q76Sql)
}
