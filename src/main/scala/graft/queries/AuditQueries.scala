package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Curate, Dedup, Similarity, Spread, TextOps}

/** Corpus-audit reports — the accounting layer a 100 TB curation
  * pipeline runs BETWEEN the operator passes: how duplicated is the
  * corpus ([[q163]]), can the learned quality filter be trusted
  * ([[q164]]), are the sources' embedding distributions collapsing
  * ([[q165]]), what would sentence-level dedup save ([[q166]]), how
  * heavy is the vocabulary tail ([[q167]]), which adjacent bigrams
  * deserve vocab slots ([[q168]]), and does the incremental LM-store
  * merge really equal a full retrain ([[q169]]).
  *
  * Every report collapses the corpus with map-side-combined aggregates
  * to a frame bounded by a domain (cluster sizes, score buckets,
  * labels², log₂ buckets, top-k) — never by the data — before any
  * window, broadcast, or pair arithmetic touches it. All arithmetic is
  * exact-integer (ppm/milli ratios, floor-log2 as binary-string
  * length) or single-IEEE-op doubles, so DuckDB replays every value
  * bit-for-bit.
  */
object AuditQueries {

  private type Q = (SparkSession, String) => DataFrame

  /** Same sentence boundary as q87 (CorpusQueries): the synthetic
    * corpus has no [.!?] punctuation, so function-word splits stand in
    * for sentence breaks.
    */
  private val Boundary = "[.!?]+\\s+|\\s+(?:the|a)\\s+"
  private val BoundarySql = "[.!?]+\\s+|\\s+(?:the|a)\\s+"

  // --------------------------------------------------------------- q163
  /** Duplicate-cluster size distribution
    * ([[Dedup.componentSizeProfile]]) over q52's exact-dup component
    * labeling (corpus with two planted copies of every 20th doc): how
    * many clusters of each size, how much of the corpus they hold —
    * the report that decides whether dedup is worth a full pass and
    * whether one template cluster dominates. The oracle recomputes the
    * transitive closure with q52's recursive CTE, then the same
    * histogram + singleton-remainder arithmetic.
    */
  val q163: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    val corpus = d
      .unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val fp = corpus.select(col("doc_id"),
      md5(col("text").cast("binary")).as("fp"))
    val pairs = fp.as("a").join(fp.as("b"), "fp")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    Dedup.componentSizeProfile(corpus.select("doc_id"),
        Dedup.connectedComponents(pairs))
      .orderBy("csize")
  }
  val q163Sql: String =
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
      |sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS csize
      |  FROM comps GROUP BY comp),
      |hist0 AS (SELECT csize, CAST(count(*) AS BIGINT) AS n_components
      |    FROM sizes GROUP BY csize
      |  UNION ALL SELECT 1,
      |    (SELECT count(*) FROM corpus) - (SELECT count(*) FROM comps)),
      |hist AS (SELECT csize, CAST(sum(n_components) AS BIGINT)
      |    AS n_components
      |  FROM hist0 GROUP BY csize)
      |SELECT csize, n_components,
      |  CAST(csize * n_components AS BIGINT) AS n_docs,
      |  CAST((csize * n_components * 1000000)
      |    // (SELECT count(*) FROM corpus) AS BIGINT) AS docs_ppm
      |FROM hist ORDER BY csize""".stripMargin

  // --------------------------------------------------------------- q164
  /** Classifier-calibration report ([[Curate.scoreCalibration]]): the
    * q114 hashed-linear quality score equi-depth-bucketed into deciles
    * (cumulative ranks by one sort-and-offset pass — no window), each bucket
    * audited against the INDEPENDENT full gopher-rule battery (q101,
    * all five rules pass). Score and rule flags come from ONE fused
    * corpus scan. The report a pipeline reads before letting a learned
    * filter gate the corpus: pass_ppm should rise across buckets.
    */
  val q164: Q = (s, dir) => {
    val docs = Spread.ensure(Tables.documents(s, dir), "doc_id")
    val scored = docs
      .select(TextOps.hashedScore(col("text")).as("score"),
        TextOps.gopherRules(col("text")).last)
      .select(col("score"),
        (col("gopher_score") === 5).cast("long").as("pass"))
    Curate.scoreCalibration(scored, "score", "pass", k = 10)
      .orderBy("bucket")
  }
  val q164Sql: String =
    """WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |per AS (SELECT doc_id,
      |    list_reduce(list_transform(w, t ->
      |      ('0x'||substr(md5('w_' ||
      |        CAST(('0x'||substr(md5(t),1,12))::BIGINT % 4096 AS VARCHAR)
      |      ),1,12))::BIGINT % 16 - 8),
      |      (a, b) -> a + b) AS v,
      |    (CASE WHEN len(w) BETWEEN 10 AND 5000 THEN 1 ELSE 0 END)
      |    + (CASE WHEN wc >= len(w)*3 AND wc <= len(w)*10 THEN 1 ELSE 0 END)
      |    + (CASE WHEN na*5 >= len(w)*4 THEN 1 ELSE 0 END)
      |    + (CASE WHEN ns >= 2 THEN 1 ELSE 0 END)
      |    + (CASE WHEN nd*10 <= len(w) THEN 1 ELSE 0 END) AS g5
      |  FROM (SELECT doc_id, w,
      |      list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b)
      |        AS wc,
      |      len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS na,
      |      len(list_filter(w, t -> regexp_matches(t, '^[0-9]+$'))) AS nd,
      |      len(list_intersect(list_distinct(w),
      |        ['the','a','of','and','to','in'])) AS ns
      |    FROM w)),
      |cnt AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN g5 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS np
      |  FROM per GROUP BY v),
      |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
      |cb AS (SELECT v, c, np,
      |    CAST(coalesce(sum(c) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cb
      |  FROM cnt),
      |bk AS (SELECT (cb * 10) // nn.n AS bucket, c, np, v
      |  FROM cb CROSS JOIN nn)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |  CAST(sum(c) AS BIGINT) AS n_docs,
      |  CAST(sum(np) AS BIGINT) AS n_pass,
      |  CAST((sum(np) * 1000000) // sum(c) AS BIGINT) AS pass_ppm,
      |  min(v) AS v_min, max(v) AS v_max
      |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q165
  /** Per-label centroid cosine matrix ([[Similarity.labelCentroidMatrix]]):
    * the source/topic embedding-drift report — pairwise cosine between
    * the 10 labels' integer centroids, computed from one labels×dims
    * partial-sum aggregate, never row pairs. Centroid components use
    * the offset floor division (Spark `div` truncates, DuckDB `//`
    * floors; sums go negative), pinned in the operator doc.
    */
  val q165: Q = (s, dir) =>
    Similarity.labelCentroidMatrix(Tables.embeddings(s, dir),
        "embedding", "label")
      .orderBy("label_a", "label_b")
  val q165Sql: String =
    """WITH v AS (SELECT label, list_transform(embedding,
      |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS q
      |  FROM embeddings),
      |e AS (SELECT label, d, q[CAST(d AS INT)+1] AS x
      |  FROM v CROSS JOIN (SELECT unnest(range(64)) AS d)),
      |per AS (SELECT label, d, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1, 2),
      |c AS (SELECT label, max(n) AS n,
      |    list(CAST(((sx + n * 1000000) // n) - 1000000 AS BIGINT)
      |      ORDER BY d) AS cvec
      |  FROM per GROUP BY label)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  a.n AS n_a, b.n AS n_b,
      |  round(list_dot_product(a.cvec, b.cvec) /
      |    (sqrt(list_dot_product(a.cvec, a.cvec)) *
      |     sqrt(list_dot_product(b.cvec, b.cvec))), 6) AS cos
      |FROM c a JOIN c b ON a.label < b.label
      |ORDER BY label_a, label_b""".stripMargin

  // --------------------------------------------------------------- q166
  /** Sentence-level dedup savings ([[TextOps.sentenceDedupSavings]]):
    * every normalized sentence belongs to its min-id document; later
    * documents count repeated instances and their characters as
    * removable — the per-document storage/transfer savings estimate
    * that prices what [[TextOps.boilerplateProfile]] only flags.
    */
  val q166: Q = (s, dir) =>
    TextOps.sentenceDedupSavings(Tables.documents(s, dir), "doc_id",
        "text", boundary = Boundary)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  val q166Sql: String =
    s"""WITH s0 AS (SELECT doc_id,
       |    unnest(string_split_regex(text, '$BoundarySql')) AS sent
       |  FROM documents),
       |s AS (SELECT doc_id,
       |    lower(regexp_replace(trim(sent), '[.!?]+$$', '')) AS norm,
       |    CAST(length(trim(sent)) AS BIGINT) AS chars
       |  FROM s0 WHERE trim(sent) <> ''),
       |o AS (SELECT norm, min(doc_id) AS owner FROM s GROUP BY norm),
       |p AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_sents,
       |    CAST(coalesce(sum(CASE WHEN o.owner < s.doc_id THEN 1 END), 0)
       |      AS BIGINT) AS n_removed,
       |    CAST(sum(s.chars) AS BIGINT) AS chars_total,
       |    CAST(coalesce(sum(CASE WHEN o.owner < s.doc_id THEN s.chars END),
       |      0) AS BIGINT) AS chars_removed
       |  FROM s JOIN o USING (norm) GROUP BY s.doc_id)
       |SELECT d.doc_id,
       |  coalesce(p.n_sents, 0) AS n_sents,
       |  coalesce(p.n_removed, 0) AS n_removed,
       |  coalesce(p.chars_total, 0) AS chars_total,
       |  coalesce(p.chars_removed, 0) AS chars_removed,
       |  CAST((p.chars_removed * 1000000) // nullif(p.chars_total, 0)
       |    AS BIGINT) AS savings_ppm
       |FROM documents d LEFT JOIN p USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q167
  /** Vocabulary Zipf profile ([[TextOps.zipfProfile]]): token types and
    * occurrences histogrammed by floor-log2 of corpus frequency — the
    * heavy-tail report that sizes tokenizer vocabs. Binary-string
    * length, not the capped native floor_log2: a hot token at 100 TB
    * exceeds the cap.
    */
  val q167: Q = (s, dir) =>
    TextOps.zipfProfile(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("freq_bucket")
  val q167Sql: String =
    """WITH t AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
      |    AS tok FROM documents),
      |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY tok),
      |b AS (SELECT CAST(length(format('{:b}', c)) - 1 AS BIGINT)
      |      AS freq_bucket, c
      |  FROM f),
      |h AS (SELECT freq_bucket, CAST(count(*) AS BIGINT) AS n_types,
      |    CAST(sum(c) AS BIGINT) AS n_occurrences
      |  FROM b GROUP BY freq_bucket),
      |tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS occ_total,
      |    CAST(sum(n_types) AS BIGINT) AS types_total FROM h)
      |SELECT freq_bucket, n_types, n_occurrences,
      |  CAST((n_occurrences * 1000000) // occ_total AS BIGINT) AS occ_ppm,
      |  CAST((n_types * 1000000) // types_total AS BIGINT) AS types_ppm
      |FROM h CROSS JOIN tot ORDER BY freq_bucket""".stripMargin

  // --------------------------------------------------------------- q168
  /** Adjacent-bigram collocations ([[TextOps.collocations]]): top-20
    * bigrams by integer PMI-bits (sum-of-floor-log2s — the
    * overflow-safe form; see operator doc), min count 5 — the
    * multi-word-expression miner feeding tokenizer vocab decisions.
    * Bounded top-k via TakeOrdered, never a global sort.
    */
  val q168: Q = (s, dir) =>
    TextOps.collocations(Tables.documents(s, dir), "doc_id", "text",
      minCount = 5, k = 20)
  val q168Sql: String =
    """WITH t AS (SELECT string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |occ AS (SELECT w[i+1] AS w1, w[i+2] AS w2
      |  FROM (SELECT w, unnest(CASE WHEN len(w) >= 2 THEN range(len(w)-1)
      |        ELSE [] END) AS i FROM t)),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM occ
      |  GROUP BY 1, 2),
      |c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
      |n2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM c2)
      |SELECT c2.w1, c2.w2, c2.c2, a.c1 AS cx, b.c1 AS cy,
      |  CAST((length(format('{:b}', c2.c2)) - 1)
      |    + (length(format('{:b}', n2.n2)) - 1)
      |    - (length(format('{:b}', a.c1)) - 1)
      |    - (length(format('{:b}', b.c1)) - 1) AS BIGINT) AS pmi_bits
      |FROM c2
      |JOIN c1 a ON a.tok = c2.w1
      |JOIN c1 b ON b.tok = c2.w2
      |CROSS JOIN n2
      |WHERE c2.c2 >= 5
      |ORDER BY pmi_bits DESC, c2.c2 DESC, c2.w1, c2.w2
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------- q169
  /** Incremental LM-store merge ([[TextOps.LmStore.merge]]): the src0
    * train slice split into two disjoint half-stores (content-hash
    * parity — doc_id parity would leave one half empty on this corpus'
    * all-even src0 ids), trained independently, MERGED by count
    * addition, and the corpus scored from the merged artifact — the
    * ingest-batch retrain path that never re-touches old batches'
    * text. The oracle is q153's SQL VERBATIM (one-shot train over the
    * whole slice): any divergence between merge-of-parts and full
    * retrain fails the driver hash. All three stores are
    * fingerprint-gated, so steady-state runs score only.
    */
  val q169: Q = (s, dir) => {
    val store = graft.Tables.storeDir("lm_parts", dir)
    val docs = Tables.documents(s, dir)
    val isTrain = col("source") === "src0"
    val half = graft.functions.Portable.hash48(col("doc_id")) % 2
    TextOps.LmStore.ensure(docs, "doc_id", "text",
      isTrain && half === 0, s"$store/even")
    TextOps.LmStore.ensure(docs, "doc_id", "text",
      isTrain && half === 1, s"$store/odd")
    TextOps.LmStore.ensureMerged(s, Seq(s"$store/even", s"$store/odd"),
      s"$store/merged")
    TextOps.LmStore.scoreFrom(s, docs, "doc_id", "text", s"$store/merged")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  val q169Sql: String = PipelineQueries.q153Sql

  // --------------------------------------------------------------- q170
  /** Vocabulary growth across ordered ingest batches
    * ([[TextOps.vocabGrowth]], batches = sources): per source, the
    * first-seen token types, distinct types, occurrences, cumulative
    * vocabulary, and new-type ppm — the Heaps-curve crawl-saturation
    * report. The cumulative sum is a bounded |sources|² self-join, not
    * a partition-less window.
    */
  val q170: Q = (s, dir) =>
    TextOps.vocabGrowth(Tables.documents(s, dir), "doc_id", "text",
        col("source"))
      .withColumnRenamed("batch", "source")
      .orderBy("source")
  val q170Sql: String =
    """WITH occ AS (SELECT source AS batch,
      |    unnest(string_split_regex(lower(text), '\s+')) AS tok
      |  FROM documents),
      |pbt AS (SELECT batch, tok, CAST(count(*) AS BIGINT) AS c
      |  FROM occ GROUP BY 1, 2),
      |fb AS (SELECT tok, min(batch) AS batch FROM pbt GROUP BY tok),
      |np AS (SELECT batch, CAST(count(*) AS BIGINT) AS new_types
      |  FROM fb GROUP BY 1),
      |j AS (SELECT pbt.batch,
      |    CAST(coalesce(any_value(np.new_types), 0) AS BIGINT)
      |      AS new_types,
      |    CAST(count(*) AS BIGINT) AS seen_types,
      |    CAST(sum(pbt.c) AS BIGINT) AS n_occurrences
      |  FROM pbt LEFT JOIN np USING (batch) GROUP BY pbt.batch),
      |cm AS (SELECT a.batch, CAST(sum(b.new_types) AS BIGINT)
      |    AS cum_types
      |  FROM j a JOIN j b ON b.batch <= a.batch GROUP BY a.batch)
      |SELECT j.batch AS source, j.new_types, j.seen_types,
      |  j.n_occurrences, cm.cum_types,
      |  CAST((j.new_types * 1000000) // j.seen_types AS BIGINT)
      |    AS new_types_ppm
      |FROM j JOIN cm USING (batch) ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q171
  /** Store-backed incremental dedup ([[Dedup.SigStore]]): q104's fresh
    * batch deduped against the PERSISTED MinHash signature index of the
    * standing corpus (shingle-hash + band frames built once, parquet,
    * [[graft.operators.ContentGate]]-fingerprinted) — the production
    * steady state where the corpus is never re-shingled per batch. The
    * oracle is q104's SQL VERBATIM: the store-backed run must return
    * byte-identical pairs to the recompute-everything delta run.
    */
  val q171: Q = (s, dir) => {
    val store = graft.Tables.storeDir("sig_store", dir)
    val base = Tables.documents(s, dir).select("doc_id", "text")
    val fresh = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text"))
    Dedup.SigStore.ensure(base, "doc_id", "text", shingleN = 3,
      numHashes = 16, bands = 4, store)
    Dedup.SigStore.deltaPairs(s, fresh, "doc_id", "text", shingleN = 3,
        numHashes = 16, bands = 4, threshold = 0.5, store)
      .orderBy("id_a", "id_b")
  }
  val q171Sql: String = ExtensionQueries.q104Sql

  // --------------------------------------------------------------- q172
  /** Quantile-sketch error audit ([[graft.operators.Sketches
    * .logHistErrorAudit]]): q151's log-histogram p50/p90/p99 estimates
    * next to the EXACT quantiles (one sort-and-offset selection over
    * the shared value counts — one data scan total), relative error in
    * ppm, and the est ≤ exact ≤ est·17/16 band check — the
    * measured-error calibration report completing the q156 (LSH) /
    * q157 (PQ) family.
    */
  val q172: Q = (s, dir) =>
    graft.operators.Sketches.logHistErrorAudit(Tables.lineitem(s, dir),
        Seq("l_returnflag"), round(col("l_extendedprice") * 100)
          .cast("long"), Seq(50, 90, 99))
      .orderBy("l_returnflag", "p")
  val q172Sql: String = {
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
       |pp AS (SELECT unnest([50, 90, 99]) AS p),
       |q AS (SELECT g, p, min(lb) AS est FROM l CROSS JOIN pp
       |  WHERE cum*100 >= n*p GROUP BY 1, 2),
       |vc AS (SELECT g, v, count(*) AS cv FROM vv GROUP BY 1, 2),
       |cc AS (SELECT g, v,
       |    sum(cv) OVER (PARTITION BY g ORDER BY v) AS cum,
       |    sum(cv) OVER (PARTITION BY g) AS n FROM vc),
       |ex AS (SELECT g, p, min(v) AS exact FROM cc CROSS JOIN pp
       |  WHERE cum*100 >= n*p GROUP BY 1, 2)
       |SELECT q.g AS l_returnflag, CAST(q.p AS BIGINT) AS p,
       |  CAST(q.est AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact,
       |  CAST(((ex.exact - q.est) * 1000000) // ex.exact AS BIGINT)
       |    AS err_ppm,
       |  CAST(CASE WHEN q.est <= ex.exact AND ex.exact*16 <= q.est*17
       |    THEN 1 ELSE 0 END AS BIGINT) AS within_bound
       |FROM q JOIN ex ON q.g = ex.g AND q.p = ex.p
       |ORDER BY l_returnflag, p""".stripMargin
  }

  // --------------------------------------------------------------- q173
  /** Quality-threshold sweep ([[Curate.thresholdSweep]]): for every
    * gopher-score cutoff 0..5, the documents and tokens the corpus
    * retains and their ppm shares — the Pareto decision table read
    * before committing a gate to a full pass. One corpus scan; each
    * cutoff is a triangle join over the ≤ 6-row per-score frame.
    */
  val q173: Q = (s, dir) => {
    val docs = Spread.ensure(Tables.documents(s, dir), "doc_id")
    val scored = docs
      .select(TextOps.gopherRules(col("text")): _*)
      .select(col("gopher_score"), col("n_tokens"))
    Curate.thresholdSweep(scored, "gopher_score", "n_tokens",
        cutoffs = 0 to 5)
      .orderBy("cutoff")
  }
  val q173Sql: String =
    """WITH w AS (SELECT string_split_regex(lower(text), '\s+') AS w
      |  FROM documents),
      |f AS (SELECT CAST(len(w) AS BIGINT) AS n_tokens,
      |    (CASE WHEN len(w) BETWEEN 10 AND 5000 THEN 1 ELSE 0 END)
      |    + (CASE WHEN wc >= len(w)*3 AND wc <= len(w)*10 THEN 1 ELSE 0 END)
      |    + (CASE WHEN na*5 >= len(w)*4 THEN 1 ELSE 0 END)
      |    + (CASE WHEN ns >= 2 THEN 1 ELSE 0 END)
      |    + (CASE WHEN nd*10 <= len(w) THEN 1 ELSE 0 END) AS s
      |  FROM (SELECT w,
      |      list_reduce(list_transform(w, t -> length(t)), (a,b) -> a+b)
      |        AS wc,
      |      len(list_filter(w, t -> regexp_matches(t, '[a-z]'))) AS na,
      |      len(list_filter(w, t -> regexp_matches(t, '^[0-9]+$'))) AS nd,
      |      len(list_intersect(list_distinct(w),
      |        ['the','a','of','and','to','in'])) AS ns
      |    FROM w)),
      |per AS (SELECT s, CAST(count(*) AS BIGINT) AS nd2,
      |    CAST(sum(n_tokens) AS BIGINT) AS nw FROM f GROUP BY s),
      |tot AS (SELECT CAST(sum(nd2) AS BIGINT) AS td,
      |    CAST(sum(nw) AS BIGINT) AS tw FROM per),
      |cu AS (SELECT unnest(range(6)) AS cutoff)
      |SELECT CAST(cu.cutoff AS BIGINT) AS cutoff,
      |  CAST(sum(per.nd2) AS BIGINT) AS n_docs,
      |  CAST(sum(per.nw) AS BIGINT) AS total_weight,
      |  CAST((sum(per.nd2) * 1000000) // tot.td AS BIGINT) AS docs_ppm,
      |  CAST((sum(per.nw) * 1000000) // tot.tw AS BIGINT) AS weight_ppm
      |FROM per CROSS JOIN cu CROSS JOIN tot
      |WHERE per.s >= cu.cutoff
      |GROUP BY cu.cutoff, tot.td, tot.tw
      |ORDER BY cutoff""".stripMargin

  // --------------------------------------------------------------- q174
  /** Vocabulary-budget coverage sweep ([[TextOps.vocabCoverage]]): for
    * vocab sizes 10/100/1000, the frequency floor, retained types, and
    * stranded OOV types/occurrences/ppm — the tokenizer-size decision
    * table next to q167's Zipf profile. Both cumulative sums over the
    * distinct-frequency domain come from one sort-and-offset pass; no
    * window.
    */
  val q174: Q = (s, dir) =>
    TextOps.vocabCoverage(Tables.documents(s, dir), "doc_id", "text",
        budgets = Seq(10, 100, 1000))
      .orderBy("k")
  val q174Sql: String =
    """WITH tok AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
      |    AS tok FROM documents),
      |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok
      |  GROUP BY tok),
      |vc AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS nt,
      |    CAST(c * count(*) AS BIGINT) AS occ FROM f GROUP BY c),
      |cc AS (SELECT v, nt, occ,
      |    CAST(sum(nt) OVER (ORDER BY v) AS BIGINT) AS cumt,
      |    CAST(sum(occ) OVER (ORDER BY v) AS BIGINT) AS cumo,
      |    CAST(sum(nt) OVER () AS BIGINT) AS tt,
      |    CAST(sum(occ) OVER () AS BIGINT) AS toc
      |  FROM vc),
      |kk AS (SELECT unnest([10, 100, 1000]) AS k),
      |sel AS (SELECT k, min(v) AS f_min FROM cc CROSS JOIN kk
      |  WHERE cumt - nt >= tt - k GROUP BY k)
      |SELECT CAST(sel.k AS BIGINT) AS k,
      |  CAST(sel.f_min AS BIGINT) AS f_min,
      |  CAST(cc.tt - (cc.cumt - cc.nt) AS BIGINT) AS vocab_types,
      |  CAST(cc.cumt - cc.nt AS BIGINT) AS oov_types,
      |  CAST(cc.cumo - cc.occ AS BIGINT) AS oov_occurrences,
      |  CAST(((cc.cumo - cc.occ) * 1000000) // cc.toc AS BIGINT)
      |    AS oov_ppm
      |FROM sel JOIN cc ON cc.v = sel.f_min ORDER BY k""".stripMargin

  // --------------------------------------------------------------- q175
  /** Shard-assignment balance audit ([[Curate.shardBalance]]): docs
    * hash-assigned to 32 shards by doc_id, weighted by n_chars — each
    * shard's load as a per-mille multiple of the even share, the
    * pre-write check before a large export commits to a layout.
    */
  val q175: Q = (s, dir) =>
    Curate.shardBalance(Tables.documents(s, dir), col("doc_id"),
        col("n_chars"), nShards = 32)
      .orderBy("shard")
  val q175Sql: String =
    """WITH a AS (SELECT
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,12))::BIGINT % 32
      |      AS shard,
      |    n_chars AS w
      |  FROM documents),
      |per AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(w) AS BIGINT) AS weight FROM a GROUP BY shard),
      |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM per)
      |SELECT shard, n_docs, weight,
      |  CAST((weight * 32 * 1000) // tw AS BIGINT) AS load_x1000
      |FROM per CROSS JOIN tot ORDER BY shard""".stripMargin

  // --------------------------------------------------------------- q176
  /** Contamination depth profile ([[TextOps.contaminationDepth]]):
    * every 50th document plays the benchmark set (and leaves the
    * corpus); for n-gram widths 5/8/13, how many remaining documents a
    * width-n decontamination gate would flag and how many (doc, gram)
    * hits fire — the sweep that picks the published 8-gram-style gate's
    * width on THIS corpus before the real pass.
    */
  val q176: Q = (s, dir) => {
    val d = Tables.documents(s, dir).select("doc_id", "text")
    TextOps.contaminationDepth(d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        ns = Seq(5, 8, 13))
      .orderBy("n")
  }
  val q176Sql: String = {
    def block(n: Int): String =
      s"""SELECT CAST($n AS BIGINT) AS n,
         |  CAST(count(DISTINCT cg.doc_id) AS BIGINT) AS contaminated_docs,
         |  CAST(count(*) AS BIGINT) AS gram_hits
         |FROM (SELECT doc_id, unnest(CASE WHEN len(w) >= $n
         |    THEN list_distinct(list_transform(range(len(w)-${n - 1}),
         |      i -> array_to_string(w[i+1:i+$n], ' ')))
         |    ELSE []::VARCHAR[] END) AS g FROM cw) cg
         |WHERE cg.g IN (SELECT g FROM (
         |  SELECT unnest(CASE WHEN len(w) >= $n
         |    THEN list_distinct(list_transform(range(len(w)-${n - 1}),
         |      i -> array_to_string(w[i+1:i+$n], ' ')))
         |    ELSE []::VARCHAR[] END) AS g FROM bw))""".stripMargin
    s"""WITH cw AS (SELECT doc_id,
       |    string_split_regex(lower(text), '\\s+') AS w
       |  FROM documents WHERE doc_id % 50 <> 0),
       |bw AS (SELECT string_split_regex(lower(text), '\\s+') AS w
       |  FROM documents WHERE doc_id % 50 = 0),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM cw),
       |hits AS (${block(5)} UNION ALL ${block(8)} UNION ALL ${block(13)})
       |SELECT n, contaminated_docs, gram_hits,
       |  CAST((contaminated_docs * 1000000) // n_corpus AS BIGINT)
       |    AS docs_ppm
       |FROM hits CROSS JOIN tot ORDER BY n""".stripMargin
  }

  // --------------------------------------------------------------- q177
  /** Chunk-store dedup savings per source ([[TextOps
    * .chunkDedupSavings]]): content-defined chunks stored once
    * corpus-wide (min-(doc,chunk) ownership), per source the instances
    * and tokens that deduplicate away — the content-addressed-store
    * sizing estimate at sub-document granularity. The oracle replays
    * the q149 chunk chain over the single corpus version plus the
    * integer ownership key.
    */
  val q177: Q = (s, dir) =>
    TextOps.chunkDedupSavings(Tables.documents(s, dir), "doc_id",
        "text", col("source"))
      .withColumnRenamed("g", "source")
      .orderBy("source")
  val q177Sql: String =
    """WITH t AS (SELECT doc_id,
      |    string_split_regex(lower(text), '\s+') AS w FROM documents),
      |p AS (SELECT doc_id, w, unnest(range(len(w))) AS pos FROM t),
      |c AS (SELECT doc_id, pos, w[pos+1] AS tok,
      |    CASE WHEN pos > 0 AND pos + 3 <= len(w)
      |      AND ('0x'||substr(md5(array_to_string(w[pos+1:pos+3], ' ')),1,12))::BIGINT % 64 = 0
      |    THEN 1 ELSE 0 END AS cut FROM p),
      |k AS (SELECT doc_id, pos, tok, sum(cut) OVER (
      |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
      |    AS chunk_id FROM c),
      |h AS (SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tok,
      |    ('0x'||substr(md5(string_agg(tok, ' ' ORDER BY pos)),1,12))::BIGINT
      |      AS chunk_h,
      |    CAST(doc_id * 100000 + chunk_id AS BIGINT) AS ikey
      |  FROM k GROUP BY doc_id, chunk_id),
      |o AS (SELECT chunk_h, min(ikey) AS okey FROM h GROUP BY chunk_h),
      |j AS (SELECT d.source AS g, h.n_tok,
      |    CASE WHEN h.ikey <> o.okey THEN 1 ELSE 0 END AS dup
      |  FROM h JOIN o USING (chunk_h)
      |  JOIN documents d ON d.doc_id = h.doc_id)
      |SELECT g AS source, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(dup) AS BIGINT) AS n_dedup,
      |  CAST(coalesce(sum(CASE WHEN dup = 1 THEN n_tok END), 0) AS BIGINT)
      |    AS tok_dedup,
      |  CAST((coalesce(sum(CASE WHEN dup = 1 THEN n_tok END), 0) * 1000000)
      |    // sum(n_tok) AS BIGINT) AS savings_ppm
      |FROM j GROUP BY g ORDER BY source""".stripMargin

  // --------------------------------------------------------------- q178
  /** Persisted sketch-store rollup ([[graft.operators.Sketches
    * .SketchStore]]): q151's per-returnflag price quantiles, but the
    * corpus arrives as two order-parity shards each sketched into its
    * own fingerprint-gated store; the read path merges the stored
    * sketches by count addition — the per-day-roll-up-to-monthly
    * monitoring shape. Count merges are exact, so the oracle is q151's
    * SQL VERBATIM: any drift between merged part stores and the
    * full-scan sketch fails the driver hash.
    */
  val q178: Q = (s, dir) => {
    val store = graft.Tables.storeDir("sketch_store", dir)
    val li = Tables.lineitem(s, dir)
    val v = round(col("l_extendedprice") * 100).cast("long")
    graft.operators.Sketches.SketchStore.ensure(
      li.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), v,
      col("l_orderkey"), s"$store/even")
    graft.operators.Sketches.SketchStore.ensure(
      li.filter(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), v,
      col("l_orderkey"), s"$store/odd")
    graft.operators.Sketches.SketchStore.quantilesFrom(s,
        Seq(s"$store/even", s"$store/odd"), Seq("l_returnflag"),
        Seq(50, 90, 99))
      .orderBy("l_returnflag", "p")
  }
  val q178Sql: String = CorpusQueries.q151Sql

  def queries: Map[String, Q] = Map(
    "q178_sketch_store_rollup" -> q178,
    "q177_chunk_dedup_savings" -> q177,
    "q170_vocab_growth" -> q170,
    "q171_minhash_store" -> q171,
    "q172_sketch_error_audit" -> q172,
    "q173_threshold_sweep" -> q173,
    "q174_vocab_coverage" -> q174,
    "q175_shard_balance" -> q175,
    "q176_contamination_depth" -> q176,
    "q163_dup_cluster_sizes" -> q163,
    "q164_classifier_calibration" -> q164,
    "q165_centroid_matrix" -> q165,
    "q166_sentence_dedup_savings" -> q166,
    "q167_zipf_profile" -> q167,
    "q168_collocation_pmi" -> q168,
    "q169_lm_merge" -> q169)

  def oracle: Map[String, String] = Map(
    "q178_sketch_store_rollup" -> q178Sql,
    "q177_chunk_dedup_savings" -> q177Sql,
    "q170_vocab_growth" -> q170Sql,
    "q171_minhash_store" -> q171Sql,
    "q172_sketch_error_audit" -> q172Sql,
    "q173_threshold_sweep" -> q173Sql,
    "q174_vocab_coverage" -> q174Sql,
    "q175_shard_balance" -> q175Sql,
    "q176_contamination_depth" -> q176Sql,
    "q163_dup_cluster_sizes" -> q163Sql,
    "q164_classifier_calibration" -> q164Sql,
    "q165_centroid_matrix" -> q165Sql,
    "q166_sentence_dedup_savings" -> q166Sql,
    "q167_zipf_profile" -> q167Sql,
    "q168_collocation_pmi" -> q168Sql,
    "q169_lm_merge" -> q169Sql)
}
