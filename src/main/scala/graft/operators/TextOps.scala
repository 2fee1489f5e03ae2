package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All pure column
  * expressions (whole-stage codegen; no UDFs), embarrassingly parallel —
  * a map-only stage at any scale.
  */
object TextOps {

  /** Minimal English stopword set for the n-gram language heuristic. */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

  /** Language-ID heuristic: fraction of tokens that are English stopwords
    * (integer-ratio compare: stop_hits*5 >= n_tokens ⇔ ratio ≥ 0.2).
    * Emits (n_tokens, stop_hits, lang_pred).
    */
  def langId(text: Column): Seq[Column] = {
    val toks = Portable.tokens(text)
    val hits = size(filter(toks, t => array_contains(typedLit(EnStopwords), t)))
    Seq(
      size(toks).cast("long").as("n_tokens"),
      hits.cast("long").as("stop_hits"),
      when(hits * 5 >= size(toks), "en").otherwise("other").as("lang_pred"))
  }

  /** Quality metrics: char/token counts, mean token length, alpha and
    * space character counts, and a deterministic integer quality score.
    *
    * The character-class counts are computed by `translate` deletion
    * (length(text) − length(text minus the class)), not regex, and the
    * token-length sum is the non-whitespace character count — same values
    * as the regex/fold formulation, but no regex engine and no interpreted
    * per-token lambda in the hot loop (this is a map stage over every
    * document at 100 TB).
    */
  def quality(text: Column): Seq[Column] = {
    val toks = Portable.tokens(text)
    val nTokens = size(toks)
    val charLen = length(text)
    val alphabet = ('a' to 'z').mkString + ('A' to 'Z').mkString
    val alphaLen = charLen - length(translate(text, alphabet, ""))
    val spaceLen = charLen - length(translate(text, " ", ""))
    // Java \s = [ \t\n\x0B\f\r]: sum of whitespace-token lengths is
    // exactly the non-whitespace character count
    val tokLenSum =
      length(translate(text, " \t\n\u000B\f\r", "")).cast("long")
    Seq(
      charLen.cast("long").as("n_chars_m"),
      nTokens.cast("long").as("n_tokens"),
      round(tokLenSum.cast("double") / nTokens, 4).as("mean_tok_len"),
      alphaLen.cast("long").as("n_alpha"),
      spaceLen.cast("long").as("n_space"),
      // score: 1 point each for [50,2000] chars, >=10 tokens, alpha-dominant
      (when(charLen.between(50, 2000), 1).otherwise(0) +
        when(nTokens >= 10, 1).otherwise(0) +
        when(alphaLen * 2 >= charLen, 1).otherwise(0)).cast("long").as("quality_score"))
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021 §A1.1 class of
    * corpus filters), per document in ONE map-only pass — the standard
    * LLM-pretraining gate beyond the coarse [[quality]] score. Each rule
    * is an exact-integer predicate (cross-multiplied ratios, no float
    * thresholds), so every flag replays bit-for-bit in any engine:
    *
    *  - `r_tokens`:   10 ≤ token count ≤ 5000;
    *  - `r_mean_len`: mean word length in [3, 10] (3n ≤ Σ|w| ≤ 10n);
    *  - `r_alpha`:    ≥80% of words contain an alphabetic char
    *                  (5·n_alpha ≥ 4·n);
    *  - `r_stop`:     ≥2 distinct common stopwords present (the
    *                  "natural prose" signal);
    *  - `r_digit`:    ≤10% pure-digit words (10·n_digit ≤ n).
    *
    * Output: n_tokens, the five 0/1 flags, and their sum
    * `gopher_score` — filter at == 5 for the strict gate or threshold
    * lower for recall.
    */
  def gopherRules(text: Column): Seq[Column] = {
    val w = Portable.tokens(text)
    val n = size(w).cast("long")
    val wordChars = aggregate(w, lit(0L), (acc, t) => acc + length(t))
    val nAlpha = size(filter(w, t => t.rlike("[a-z]"))).cast("long")
    val nDigit = size(filter(w, t => t.rlike("^[0-9]+$"))).cast("long")
    val stops = array(Seq("the", "a", "of", "and", "to", "in").map(lit): _*)
    val nStop = size(array_intersect(array_distinct(w), stops)).cast("long")
    val rTokens = when(n.between(10L, 5000L), 1L).otherwise(0L)
    val rMeanLen = when(wordChars >= n * 3 && wordChars <= n * 10, 1L).otherwise(0L)
    val rAlpha = when(nAlpha * 5 >= n * 4, 1L).otherwise(0L)
    val rStop = when(nStop >= 2, 1L).otherwise(0L)
    val rDigit = when(nDigit * 10 <= n, 1L).otherwise(0L)
    Seq(n.as("n_tokens"), rTokens.as("r_tokens"), rMeanLen.as("r_mean_len"),
      rAlpha.as("r_alpha"), rStop.as("r_stop"), rDigit.as("r_digit"),
      (rTokens + rMeanLen + rAlpha + rStop + rDigit).as("gopher_score"))
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (letter runs / digit runs / single other non-space chars).
    */
  def tokenCounts(text: Column): Seq[Column] = Seq(
    size(Portable.tokens(text)).cast("long").as("ws_tokens"),
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .cast("long").as("bpe_tokens"))

  /** Document fingerprint: minimum md5 over distinct word n-gram shingles
    * (a 1-permutation MinHash — robust to token reordering at the edges;
    * the full-signature variant lives in [[Dedup]]). Falls back to
    * md5(text) for documents shorter than n words.
    */
  def fingerprint(text: Column, n: Int): Column = {
    val sh = Portable.shingles(Portable.tokens(text), n)
    coalesce(
      array_min(transform(sh, s => md5(s.cast("binary")))),
      md5(text.cast("binary"))).as("fingerprint")
  }

  /** Polynomial (Rabin–Karp-style) rolling hash of the whole document:
    * h = fold over character codes of (h·B + c) mod M — the classic
    * content-defined-chunking/fingerprint primitive. Exact modular
    * integer arithmetic left-to-right, so any engine reproduces it
    * bit-for-bit (DuckDB: list_reduce over unicode codes with the same
    * fold). B·M < 2⁶³ keeps the fold overflow-free in Long.
    */
  def rollingHash(text: Column, base: Long = 131L,
      mod: Long = 1000000007L): Column =
    graft.functions.RollingHash(text, base, mod)

  /** The higher-order-function form of [[rollingHash]] — kept as the
    * executable spec the native expression is checked against. Not for
    * hot paths: `split(text, "")` materializes a one-char-per-element
    * array and the fold lambda runs interpreted on every row.
    */
  def rollingHashHof(text: Column, base: Long = 131L,
      mod: Long = 1000000007L): Column =
    aggregate(split(text, ""), lit(0L),
      (acc, c) => (acc * base + ascii(c)) % mod)

  /** PII regexes shared with the oracle replay. RE2 (DuckDB) and
    * java.util.regex agree on this subset: character classes, bounded
    * repetition, and the ASCII word boundary `\b` — no backreferences,
    * no lookaround.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII redaction: emails → `<EMAIL>`, dotted-quad IPs → `<IP>`,
    * NNN-NNN-NNNN phones → `<PHONE>`, applied in that fixed order, plus
    * per-class match counts (measured on the ORIGINAL text, so the
    * counts are independent of replacement order). Pure regex column
    * expressions — map-only at any scale.
    */
  def redactPii(text: Column): Seq[Column] = {
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(text, EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>")
    Seq(
      redacted.as("redacted"),
      size(regexp_extract_all(text, lit(EmailRe), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(text, lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ip"),
      size(regexp_extract_all(text, lit(PhoneRe), lit(0)))
        .cast("long").as("n_phone"))
  }

  /** Overlapping token-window chunking — the context-window preparation
    * step of an LLM pipeline: each document becomes chunks of up to
    * `window` tokens starting every `stride` tokens (`stride < window` ⇒
    * overlap of `window − stride`). Chunk starts are 0, stride, 2·stride,
    * … while start < n_tokens, so every token lands in ≥1 chunk and a
    * short document still yields exactly one chunk. Explode + slice on
    * the token array — one map stage, fan-out ≈ n_tokens/stride per doc,
    * no shuffle at all.
    * Output: (id, chunk_id, n_tok_chunk, chunk_text).
    */
  def chunkTable(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"window=$window stride=$stride: need 0 < stride <= window")
    df.select(col(idCol).as("id"), Portable.tokens(col(textCol)).as("toks"))
      .select(col("id"), col("toks"),
        explode(sequence(lit(0L),
          expr(s"((size(toks) - 1) div $stride) * ${stride}L"),
          lit(stride.toLong))).as("start"))
      .select(col("id"),
        expr(s"start div $stride").cast("long").as("chunk_id"),
        size(slice(col("toks"), (col("start") + 1).cast("int"), lit(window)))
          .cast("long").as("n_tok_chunk"),
        array_join(
          slice(col("toks"), (col("start") + 1).cast("int"), lit(window)), " ")
          .as("chunk_text"))
  }

  /** Repeated word n-gram mining over a corpus — the memorization /
    * boilerplate detector: every n-gram OCCURRENCE (not distinct per doc)
    * is exploded and counted corpus-wide, keeping n-grams seen at least
    * `minCount` times, with the number of distinct documents alongside.
    * Output: (ngram, n_docs, n_occurrences).
    *
    * Shuffle shape — a MEASURED note on the hash-key alternative: the
    * dominant shuffle volume behind `countDistinct(id)` is the
    * corpus-wide distinct (ngram, doc) pair set carrying the raw
    * ~25-byte gram, and keying the stats aggregate on `xxhash64(ngram)`
    * (16-byte pair rows) with a second pruned pass to recover the
    * surviving grams' text was tried and measured SLOWER at the 10×
    * tile: warm 9-11 s (two-explode recovery; 7 s with the recovery min
    * hash-aggregated) vs 4 s for this single-pass shape. The
    * tokenize+shingle explode is the operator's dominant cost (~2-3 s
    * of the 4 s total), so any text-recovery pass that re-explodes pays
    * more CPU than the halved shuffle bytes save — and a string-min
    * recovery aggregate plans as a SortAggregate over the occurrence
    * stream, worse still. On a real cluster with network shuffle the
    * trade flips only when shuffle bandwidth, not CPU, is the
    * bottleneck; revisit there, not here. (Contrast q75_ngram_overlap,
    * where the gram text never reaches the output — hashing its join
    * keys needs NO recovery pass and measured ~20% faster.)
    */
  def repeatedNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long): DataFrame = {
    val toks = Portable.tokens(col(textCol))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    Spread.ensure(df.select(col(idCol).as("id"), col(textCol)), "id")
      .select(col("id"), explode(grams).as("ngram"))
      .groupBy("ngram")
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
  }

  /** Corpus-trained bigram language-model fluency score — the
    * statistical text-quality signal (low score ⇒ unusual word
    * transitions ⇒ boilerplate/garbled/generated text). For each bigram
    * occurrence (w1,w2) the conditional probability c(w1,w2)/c(w1) is
    * scored as the INTEGER `(10⁶·c2) div c1` — per-occurrence integer
    * scores sum order-free (a float sum's grouping order is
    * engine-chosen), and only the final mean divides in double. So the
    * whole model replays bit-for-bit in any engine — no log-probs, whose
    * transcendental evaluation differs across libms.
    *
    * Scale: two hash aggregates (unigram, bigram counts) + two equi-joins
    * keyed on words + one per-doc aggregate. Count frames are
    * vocabulary-sized, far smaller than the corpus; AQE broadcasts them
    * when they fit, and the shuffled join shape stays correct when a
    * web-scale vocabulary does not.
    * Output: (id, n_bigrams, lm_score) — docs with <2 tokens keep
    * n_bigrams=0 and a null score.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Portable.tokens(col(textCol))
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), toks.as("w")), "id")
    val occ = base.select(col("id"),
        explode(when(size(col("w")) >= 2,
          transform(sequence(lit(0), size(col("w")) - 2),
            i => struct(element_at(col("w"), i + 1).as("w1"),
              element_at(col("w"), i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c1 = base.select(explode(col("w")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    // join at the (doc, bigram)-distinct level with an occurrence-count
    // multiplier, not per occurrence: the join volume drops from
    // O(tokens) to O(distinct bigrams per doc), and the corpus counts c2
    // derive from the same frame instead of a second explode pass
    val docBg = occ.groupBy("id", "w1", "w2").agg(count(lit(1)).as("cnt"))
    val c2 = docBg.groupBy("w1", "w2").agg(sum(col("cnt")).as("c2"))
    val scored = docBg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("id"), col("cnt"),
        (col("cnt") * expr("(1000000 * c2) div c1")).as("s"))
      .groupBy("id").agg(sum(col("s")).as("ssum"), sum(col("cnt")).as("nb"))
    df.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"),
        (col("ssum").cast("double") / col("nb")).as("lm_score"))
  }

  /** BM25-style retrieval scoring of every document against the
    * corpus's `nTerms` most frequent tokens (tiebreak: token asc) — the
    * classic Robertson/Spärck-Jones ranking reshaped for cross-engine
    * exactness: the idf and tf-saturation factors are milli-scaled
    * integer ratios (`idf_milli = 1000·(N−df+1) div (df+1)`, the
    * rational surrogate of the log idf — same ordering, no libm `ln`
    * whose last-ulp rounding differs between engines), and the
    * per-term contributions multiply to exact micro integers that sum
    * order-free. k1/b arrive milli-scaled (1200/750 = the textbook
    * 1.2/0.75).
    *
    * Plan: a statistics pass (exploded tf → tiny term-set/df broadcast
    * agg; corpus totals map-only off the doc frame, no explode) and a
    * scoring pass whose (doc, term) tf carries the doc length — so no
    * separate doc-length join, and term screening rides the broadcast.
    * One doc-keyed shuffle finishes it. At scale the statistics pass is
    * the part you'd compute once and reuse across query batches.
    * Output: (id, n_hit_terms, bm25_micro) for docs hitting ≥1 query
    * term.
    */
  def bm25TopTerms(df: DataFrame, idCol: String, textCol: String,
      nTerms: Int = 8, k1Milli: Long = 1200L, bMilli: Long = 750L): DataFrame = {
    val toks = Portable.tokens(col(textCol))
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), toks.as("w")), "id")
    val tf = base
      .select(col("id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("t"))
      .groupBy("id", "t")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val terms = tf.groupBy("t").agg(sum(col("tf")).as("n"),
        countDistinct(col("id")).as("df"))
      .orderBy(col("n").desc, col("t").asc)
      .limit(nTerms)
      .select("t", "df")
    // corpus totals straight off the doc-level frame — a map-only
    // aggregate (no token explode, no shuffle), not a third pass over
    // the exploded tf
    val tot = base.select(size(col("w")).cast("long").as("dl"))
      .agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
    tf.join(broadcast(terms), Seq("t"))
      .crossJoin(broadcast(tot))
      .select(col("id"),
        expr(s"""(1000 * tf * ($k1Milli + 1000)) div
                 (1000 * tf + ($k1Milli * (1000 - $bMilli +
                    ($bMilli * ((1000 * dl * nd) div tt)) div 1000)) div 1000)""")
          .as("sat_milli"),
        expr("(1000 * (nd - df + 1)) div (df + 1)").as("idf_milli"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_hit_terms"),
        sum(col("sat_milli") * col("idf_milli")).as("bm25_micro"))
  }

  /** Content-defined chunking — the rsync/LBFS boundary rule lifted to
    * tokens: cut before position i whenever the hash of the 3-gram
    * starting at i is ≡ 0 mod `divisor` (expected chunk length ≈
    * divisor). Because boundaries depend only on LOCAL content, an
    * insertion or deletion re-chunks ONLY the edited neighborhood —
    * every other chunk keeps its identity (hash), which is what makes
    * chunk-level dedup/delta-sync survive edits where fixed-stride
    * chunking ([[chunkTable]]) shifts every downstream boundary.
    *
    * Plan: positional explode (map-only) → one per-doc cumulative
    * window over positions (state bounded by doc length) → one grouped
    * agg rebuilding chunks. Output: (id, chunk_id, start, n_tok,
    * chunk_h) with chunk_h = hash48 of the chunk text — the dedup key.
    */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 64): DataFrame = {
    require(divisor > 0, s"divisor=$divisor")
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), Portable.tokens(col(textCol)).as("w")), "id")
    val pos = base.select(col("id"), col("w"),
        posexplode(col("w")).as(Seq("pos", "t")))
      .select(col("id"), col("pos"), col("t"),
        when(col("pos") > 0 && col("pos") + 3 <= size(col("w")),
          (pmod(Portable.hash48(concat_ws(" ",
            element_at(col("w"), col("pos") + 1),
            element_at(col("w"), col("pos") + 2),
            element_at(col("w"), col("pos") + 3))), lit(divisor.toLong)) === 0)
            .cast("long"))
          .otherwise(lit(0L)).as("cut"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    pos.withColumn("chunk_id", sum(col("cut")).over(w))
      .groupBy("id", "chunk_id")
      .agg(min(col("pos")).cast("long").as("start"),
        count(lit(1)).as("n_tok"),
        Portable.hash48(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, t))), e -> e.t)")))
          .as("chunk_h"))
  }

  /** Exact phrase search over a positional inverted index — the
    * search-engine primitive: find every occurrence of every phrase
    * WITHOUT a per-phrase corpus scan. The classic positional-index
    * query generalizes to one relational step: explode phrases to
    * (phrase, j, token_j), join the corpus' (doc, pos, token) postings
    * on the token, normalize each hit to its implied start
    * `pos − j`, and a start is a true occurrence iff ALL `len` offsets
    * hit — one grouped count. Duplicate tokens inside a phrase are
    * handled for free (each offset j contributes exactly one row to
    * its own start).
    *
    * Scale: the phrase table is broadcast (queries are small); the
    * postings explode is map-only off the scan; the only shuffle is
    * the (phrase, doc, start) count — fan-out bounded by Σ per-token
    * postings of the phrase tokens, the same cost model as any
    * positional index. Output: (phrase_id, id, start).
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrases: DataFrame): DataFrame = {
    val idx = Spread.ensure(
        df.select(col(idCol).as("id"), Portable.tokens(col(textCol)).as("w")), "id")
      .select(col("id"), posexplode(col("w")).as(Seq("pos", "t")))
    val ptoks = phrases.select(col("phrase_id"),
      posexplode(Portable.tokens(col("phrase"))).as(Seq("j", "t")))
    val plen = phrases.select(col("phrase_id"),
      size(Portable.tokens(col("phrase"))).cast("long").as("len"))
    idx.join(broadcast(ptoks), Seq("t"))
      .select(col("phrase_id"), col("id"), (col("pos") - col("j")).as("start"))
      .filter(col("start") >= 0)
      .groupBy("phrase_id", "id", "start")
      .agg(count(lit(1)).as("nhit"))
      .join(broadcast(plen), Seq("phrase_id"))
      .filter(col("nhit") === col("len"))
      .select(col("phrase_id"), col("id"), col("start").cast("long").as("start"))
  }

  /** DSIR-style hashed-token importance score (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * documents are scored by how much their hashed-unigram distribution
    * resembles a target subset of the corpus (`targetPred` rows) versus
    * the rest — the standard importance-weighting signal for selecting
    * pre-training data that "looks like" a trusted reference set.
    *
    * Distributions live in a fixed `buckets`-wide hashed feature space
    * (hash48 mod buckets), so both are one tiny grouped aggregate —
    * map-side combined, `buckets` rows total regardless of corpus size —
    * and the per-bucket weight
    * `round(1e6 · p̂_target(b) / p̂_source(b))` (add-one smoothed) is an
    * exact integer after one-shot IEEE-double ops that every engine
    * rounds identically; no `ln`, whose libm rounding varies. Doubles
    * also can't overflow where a scaled-integer product would at
    * 100 TB token counts.
    *
    * Scoring is ONE shuffle: per-occurrence bucket rows join the
    * broadcast `buckets`-row weight table map-side, then a single
    * grouped sum per document (partials collapse per partition before
    * the exchange). Output: (id, n_tokens, dsir_micro), higher =
    * more target-like.
    */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 256): DataFrame = {
    require(buckets > 0, s"buckets=$buckets")
    val occ = Spread.ensure(
        df.select(col(idCol).as("id"), targetPred.as("is_t"), col(textCol)), "id")
      .select(col("id"), col("is_t"),
        explode(Portable.tokens(col(textCol))).as("t"))
      .select(col("id"), col("is_t"),
        pmod(Portable.hash48(col("t")), lit(buckets.toLong)).as("j"))
    val dist = occ.groupBy("j").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cs"))
    val tot = dist.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ts"))
    val weights = dist.crossJoin(broadcast(tot))
      .select(col("j"), floor(
          (col("ct") + 1).cast("double") * (col("ts") + buckets).cast("double") /
            ((col("cs") + 1).cast("double") * (col("tt") + buckets).cast("double")) *
            lit(1000000.0d) + lit(0.5d))
        .cast("long").as("w"))
    occ.join(broadcast(weights), Seq("j"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("dsir_micro"))
  }

  /** Feature-hashing (hashing-trick) document embedding: token counts
    * folded into a fixed `dim`-wide integer vector — dimension j =
    * hash48(token) mod dim, sign from an independent hash bit (the
    * signed construction that keeps collisions zero-mean). The
    * text→vector bridge into the ANN family ([[Similarity]]): exact
    * integers, so any engine reproduces the embedding bit-for-bit.
    *
    * Same proven plan shape as [[Dedup.simhashTable]]: explode tokens →
    * ONE grouped aggregation carrying `dim` codegen'd conditional sums —
    * a single shuffle on id, map-side combining, no per-doc state.
    * Output: (id, features: array<long>).
    */
  def featureHashTable(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim > 0 && dim <= 256, s"dim=$dim out of (0, 256]")
    val hashed = Spread.ensure(
        df.select(col(idCol).as("id"), col(textCol)), "id")
      .select(col("id"),
        explode(Portable.tokens(col(textCol))).as("t"))
      .select(col("id"),
        pmod(Portable.hash48(col("t")), lit(dim.toLong)).as("j"),
        (Portable.hash48(concat(col("t"), lit("#s"))) % 2 * 2 - 1).as("sgn"))
    val sums = (0 until dim).map(k =>
      coalesce(sum(when(col("j") === k, col("sgn"))), lit(0L)).as(s"f_$k"))
    hashed.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        array((0 until dim).map(k => col(s"f_$k")): _*).as("features"))
  }

  /** Per-document repetition profile — the Gopher-style "repetitive
    * content" quality signals: the fraction of word-bigram occurrences
    * taken by the document's MOST FREQUENT bigram (boilerplate loops
    * score high) and the fraction of 5-gram occurrences that are
    * repeats of an earlier 5-gram in the same document (near-verbatim
    * internal duplication). All counts are exact integers; the two
    * fractions are single double divisions mirrored in the oracle.
    *
    * Per n-gram size: explode → count per (doc, gram) → ONE per-doc
    * aggregate folding max/sum/count — two shuffles keyed on the doc,
    * map-side combined, no per-doc buffered state. Documents shorter
    * than the gram size keep zero counts and null fractions.
    * Output: (id, n_tokens, top_bigram_n, bigram_occ, top_bigram_frac,
    * gram5_occ, gram5_distinct, dup_gram5_frac).
    */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), Portable.tokens(col(textCol)).as("w")), "id")
    // n-gram OCCURRENCES (not Portable.shingles, which dedups) — the
    // repetition signal lives in the multiplicity.
    def grams(n: Int) = when(size(col("w")) >= n,
      transform(sequence(lit(0), size(col("w")) - n),
        i => array_join(slice(col("w"), i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    def gramStats(n: Int, prefix: String) =
      base.select(col("id"), explode(grams(n)).as("g"))
        .groupBy("id", "g").agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(max(col("c")).as(s"${prefix}_top"),
          sum(col("c")).as(s"${prefix}_occ"),
          count(lit(1)).as(s"${prefix}_distinct"))
    base.select(col("id"), size(col("w")).cast("long").as("n_tokens"))
      .join(gramStats(2, "g2"), Seq("id"), "left")
      .join(gramStats(5, "g5"), Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("g2_top"), lit(0L)).as("top_bigram_n"),
        coalesce(col("g2_occ"), lit(0L)).as("bigram_occ"),
        (col("g2_top").cast("double") / col("g2_occ")).as("top_bigram_frac"),
        coalesce(col("g5_occ"), lit(0L)).as("gram5_occ"),
        coalesce(col("g5_distinct"), lit(0L)).as("gram5_distinct"),
        ((col("g5_occ") - col("g5_distinct")).cast("double") / col("g5_occ"))
          .as("dup_gram5_frac"))
  }

  /** Cross-group vocabulary similarity: the Jaccard overlap between the
    * distinct-token sets of every pair of groups (sources, domains,
    * snapshots) — the corpus-composition diagnostic ("which sources are
    * near-copies of each other") one level above per-document dedup.
    *
    * Distinct (group, token) explode → self-join keyed ON THE TOKEN
    * (each token contributes its group-pair combinations — bounded by
    * G² per token, never corpus²) → one aggregate per group pair. Meant
    * for group counts far below the document count (sources/domains);
    * exact integer set sizes, one mirrored double division.
    * Output: (grp_a, grp_b, n_a, n_b, n_common, jaccard), a < b.
    */
  def vocabularyJaccard(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val vocab = Spread.ensure(
        df.select(col(groupCol).as("grp"), col(textCol)), "grp")
      .select(col("grp"), explode(Portable.tokens(col(textCol))).as("t"))
      .distinct()
    val sizes = vocab.groupBy("grp").agg(count(lit(1)).as("n"))
    val inter = vocab.as("a")
      .join(vocab.as("b"),
        col("a.t") === col("b.t") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("grp").as("grp_a"), col("n").as("n_a"))),
        "grp_a")
      .join(broadcast(sizes.select(col("grp").as("grp_b"), col("n").as("n_b"))),
        "grp_b")
      .select(col("grp_a"), col("grp_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Default sentence boundary: terminal-punctuation runs followed by
    * whitespace. RE2-safe (no lookbehind), so the oracle's
    * `string_split_regex` compiles the identical automaton.
    */
  val SentenceBoundary = "[.!?]+\\s+"

  /** Sentence segmentation: one row per non-empty sentence, in document
    * order, split on `boundary` (a regex valid in BOTH Java regex and
    * RE2 — stick to alternation/classes/quantifiers); `norm` strips
    * trailing punctuation and case for cross-document matching. Map-only.
    * Output: (id, sent_idx, sentence, norm).
    */
  def sentenceTable(df: DataFrame, idCol: String, textCol: String,
      boundary: String = SentenceBoundary): DataFrame =
    Spread.ensure(df.select(col(idCol).as("id"), col(textCol).as("t")), "id")
      .select(col("id"),
        posexplode(filter(
          transform(split(col("t"), boundary), s => trim(s)),
          s => s =!= "")).as(Seq("sent_idx", "sentence")))
      .select(col("id"), col("sent_idx").cast("long").as("sent_idx"),
        col("sentence"),
        lower(regexp_replace(col("sentence"), "[.!?]+$", "")).as("norm"))

  /** Per-document boilerplate profile: the fraction of a document's
    * sentences that also appear (normalized) in at least `minDocs`
    * distinct documents — the navigation-chrome / footer / disclaimer
    * signal that document-level dedup can't see (the documents differ;
    * their sentences repeat). The Spark-side shape: sentence explode →
    * ONE distinct-doc count per normalized sentence (hash agg, map-side
    * combined) → join occurrences back on the sentence key → one per-doc
    * aggregate. The sentence-frequency frame is corpus-vocabulary-sized;
    * the join is a plain equi-join on the sentence hash — no all-pairs
    * anywhere, so the shape survives 100 TB.
    * Output: (id, n_sents, n_boiler, boiler_frac); sentence-less
    * documents keep n_sents=0 and a null fraction.
    */
  def boilerplateProfile(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 3, boundary: String = SentenceBoundary): DataFrame = {
    val sents = sentenceTable(df, idCol, textCol, boundary)
      .select(col("id"), col("norm"))
    val freq = sents.distinct()
      .groupBy("norm").agg(count(lit(1)).as("n_docs"))
    val perDoc = sents.join(freq, Seq("norm"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_sents"),
        coalesce(sum(when(col("n_docs") >= minDocs, lit(1L))), lit(0L))
          .as("n_boiler"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        (col("n_boiler").cast("double") / col("n_sents")).as("boiler_frac"))
  }

  /** Document-level token co-occurrence with LIFT (the rational core of
    * PMI — `N·n_ab / (n_a·n_b)`, exactly PMI without the final log, whose
    * transcendental evaluation differs across libms): which token pairs
    * appear together far more often than independence predicts —
    * collocation mining / topic-signal discovery over a corpus.
    *
    * The scale control is the FRACTIONAL document-frequency band
    * [minDfPct, maxDfPct] percent of the corpus: the upper bound removes
    * stopword-grade tokens BEFORE the pair join (a token in d docs
    * contributes d pairs per partner; an unbanded "the" would dominate
    * the join), the lower bound drops the long hapax tail, and both
    * scale with the corpus instead of needing retuning per snapshot.
    * Band membership is the exact integer test `nd·100 ∈ [minPct·N,
    * maxPct·N]` — no float thresholds to disagree across engines.
    * Distinct (doc, token) → band filter → self-join per doc (a < b) →
    * pair counts; all counts exact integers, one double division. The
    * corpus size N rides along as a broadcast 1-row frame — the whole
    * operator is one declarative plan, no driver-side count().
    * Output: (tok_a, tok_b, n_a, n_b, n_ab, lift), n_ab ≥ minPairs.
    */
  def cooccurrenceLift(df: DataFrame, idCol: String, textCol: String,
      minDfPct: Int = 1, maxDfPct: Int = 95, minPairs: Int = 5): DataFrame = {
    val docToks = Spread.ensure(
        df.select(col(idCol).as("id"), col(textCol)), "id")
      .select(col("id"), explode(Portable.tokens(col(textCol))).as("t"))
      .distinct()
    val nDocs = df.select(col(idCol)).agg(count(lit(1)).as("n_corpus"))
    val banded = docToks.groupBy("t").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(nDocs))
      .filter(col("nd") * 100 >= col("n_corpus") * minDfPct &&
        col("nd") * 100 <= col("n_corpus") * maxDfPct)
      .join(docToks, Seq("t"))
    val pairs = banded.as("a")
      .join(banded.as("b"),
        col("a.id") === col("b.id") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("tok_a"), col("b.t").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"),
        max(col("a.nd")).as("n_a"), max(col("b.nd")).as("n_b"),
        max(col("a.n_corpus")).as("nc"))
      .filter(col("n_ab") >= minPairs)
    pairs.select(col("tok_a"), col("tok_b"), col("n_a"), col("n_b"),
      col("n_ab"),
      ((col("n_ab") * col("nc")).cast("double") /
        (col("n_a") * col("n_b"))).as("lift"))
  }

  /** [[fingerprint]] as explode → groupBy min: one md5 per (doc, shingle)
    * in codegen, one shuffle on id, instead of the per-row interpreted
    * transform+array_min lambda pipeline. Short documents (no shingles →
    * no exploded rows) fall back to md5(text) through the left join.
    * Output: (idCol, fingerprint).
    */
  def fingerprintTable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val mins = Dedup.shingleTable(df, idCol, textCol, n)
      .groupBy("id")
      .agg(min(md5(col("shingle").cast("binary"))).as("fp"))
    df.select(col(idCol), col(textCol).as("_text"))
      .join(mins.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("fp"), md5(col("_text").cast("binary"))).as("fingerprint"))
  }

  /** Cross-document duplicated text SPANS — the exact-substring dedup
    * pass of an LLM corpus pipeline (boilerplate headers, license
    * blocks, templated paragraphs recur verbatim across documents while
    * whole-document similarity stays low, so MinHash/SimHash never see
    * them). A token position is *duplicated* when its n-gram also occurs
    * in ≥ `minDocs`−1 other documents; overlapping duplicated positions
    * merge into maximal spans (gaps-and-islands over a running
    * covered-end watermark).
    *
    * Shape: posexplode n-grams (one md5 per gram occurrence) → one hash
    * aggregate for cross-doc gram frequency → LEFT SEMI join back (no
    * fan-out — a stopword-like hot gram contributes candidates linearly,
    * never quadratically) → per-document window merge. The only
    * per-document sequential step is the merge window, bounded by
    * document length; everything else is hash-partitioned on gram or id.
    *
    * Output: (doc_id, span_start, span_end, n_grams) — token-index
    * half-open [start, end), one row per maximal span.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Portable.tokens(col(textCol))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => struct(i.cast("long").as("pos"),
          array_join(slice(toks, i + 1, lit(n)), " ").as("gram"))))
      .otherwise(array().cast("array<struct<pos:long,gram:string>>"))
    val pg = Spread.ensure(df.select(col(idCol).as("id"), col(textCol)), "id")
      .select(col("id"), explode(grams).as("pg"))
      .select(col("id"), col("pg.pos").as("pos"),
        Portable.hash48(col("pg.gram")).as("gram"))
    val dup = pg.groupBy("gram")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")
    val w = Window.partitionBy("id").orderBy("pos")
    val prevEnd = max(col("pos") + n)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    pg.join(dup, Seq("gram"), "left_semi")
      .withColumn("fresh",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island", sum(col("fresh")).over(w))
      .groupBy(col("id").as("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
  }

  /** Hashed-feature LINEAR text classifier — the fastText-shape
    * model-based quality/toxicity/language gate of an LLM pipeline, as
    * pure column expressions: each token hashes into one of `dim`
    * feature buckets, the bucket's weight is looked up, and the
    * document's score is the weight sum. ZERO shuffles — scoring a
    * learned classifier over 100 TB runs at read bandwidth, exactly like
    * this, with the weight table swapped for the trained model's.
    *
    * Weights here are a deterministic md5-derived stand-in model
    * (integer in [-8, 8): `hash48("w_" ++ bucket) mod 16 − 8`) so the
    * DuckDB oracle replays scoring bit-for-bit; integer weight SUMS are
    * order-free (a float dot product's grouping order is engine-chosen).
    * The classification is the sign predicate — no integer division
    * whose floor/truncate semantics differ across engines on negatives.
    *
    * Output: (idCol, n_tokens, score, keep ∈ {0,1}).
    */
  /** The [[hashedLinearScore]] weight sum as a bare column, so callers
    * fusing it with other per-document signals (e.g. the calibration
    * report's gopher flags) keep everything in ONE corpus scan.
    */
  def hashedScore(text: Column, dim: Int = 4096): Column = {
    val toks = Portable.tokens(text)
    def weight(t: Column): Column =
      Portable.hash48(concat(lit("w_"),
        (Portable.hash48(t) % dim).cast("string"))) % 16 - 8
    aggregate(toks, lit(0L), (acc, t) => acc + weight(t))
  }

  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 4096): DataFrame =
    df.select(col(idCol),
      size(Portable.tokens(col(textCol))).cast("long").as("n_tokens"),
      hashedScore(col(textCol), dim).as("score"))
      .withColumn("keep", when(col("score") >= 0, 1L).otherwise(0L))

  /** Per-document n-gram NOVELTY — the inverse signal of
    * [[duplicateSpans]]: what fraction of a document's distinct n-grams
    * occur nowhere else in the corpus. Drives curation priority (keep
    * high-novelty documents when trimming to a token budget) and
    * measures how much a new crawl actually adds over the standing
    * corpus. Integer per-mille ratio — no float aggregate, replayable in
    * any engine.
    *
    * Shape: distinct (doc, gram-hash) pairs → one gram-frequency hash
    * aggregate → LEFT SEMI against the singleton grams → two map-side-
    * combining counts per doc; a final left join restores documents too
    * short to shingle (n_grams=0, null score).
    *
    * Output: (doc_id, n_grams, unique_grams, novelty_pm).
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = Dedup.hashedShingleTable(df, idCol, textCol, n)
    // a singleton gram's min(id) IS its only document, so the unique
    // count per doc falls out of the frequency aggregate directly — no
    // semi-join back onto the (token-sized) shingle table, which both
    // re-derived it a third time and re-shuffled it on the gram key
    val uniq = sh.groupBy("shingle")
      .agg(count(lit(1)).as("df"), min(col("id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("id"))
      .agg(count(lit(1)).as("unique_grams"))
    val per = sh.groupBy("id").agg(count(lit(1)).as("n_grams"))
      .join(uniq, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("unique_grams"), lit(0L)).as("unique_grams"))
      // n_grams >= 1 for every id present in sh, so the integer div is
      // total; shingle-less docs get a null score via the outer join below
      .withColumn("novelty_pm", expr("(unique_grams * 1000) div n_grams"))
    df.select(col(idCol).as("doc_id"))
      .join(per.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("unique_grams"), lit(0L)).as("unique_grams"),
        col("novelty_pm"))
  }

  /** INCREMENTAL novelty: what fraction of a fresh batch's distinct
    * n-grams the standing corpus has never seen — the marginal value of
    * a crawl before paying to ingest it, and the per-document priority
    * when trimming arrivals to a token budget. The incremental sibling
    * of [[ngramNovelty]] (which scores a corpus against itself), and the
    * measurement counterpart of Dedup.minhashLshPairsDelta's
    * fresh-vs-corpus dedup.
    *
    * Shape: fresh grams LEFT ANTI join the corpus' distinct gram set —
    * one shuffle keyed on the 48-bit gram hash; at 100 TB the corpus
    * side is the big one, and a Bloom screen of the fresh side (the q60
    * machinery) drops most probes before the shuffle when the fresh
    * batch is small. Output: (doc_id, n_grams, novel_grams, novelty_pm)
    * per fresh doc, null score for shingle-less docs.
    */
  /** One BPE merge candidate: the globally most frequent adjacent symbol
    * pair in the vocab (weighted by word count), tiebreak (count desc,
    * left asc, right asc). One vocab-sized shuffle + a 1-row collect.
    */
  private def bpeBestPair(vocab: DataFrame): Option[(String, String, Long)] =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(0, size(syms)-2), i -> " +
          "struct(element_at(syms, i+1) AS l, element_at(syms, i+2) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("cnt").as("c"))
      .orderBy(col("c").desc, col("l"), col("r"))
      .limit(1).collect()
      .headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  private def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Greedy leftmost non-overlapping merge of adjacent (l, r) symbol
    * pairs into l||r — the BPE apply step, as a codegen'd array fold.
    */
  private def bpeApplyMerge(symsCol: String, l: String, r: String): Column = {
    val (ls, rs) = (sqlStr(l), sqlStr(r))
    expr(s"""aggregate($symsCol, CAST(array() AS ARRAY<STRING>),
      (acc, x) -> IF(size(acc) > 0 AND element_at(acc, -1) = $ls AND x = $rs,
        concat(slice(acc, 1, size(acc) - 1), array(concat($ls, $rs))),
        concat(acc, array(x))))""")
  }

  /** Distributed BPE tokenizer training — the merge-pair loop of Sennrich
    * et al.'s subword units, the tokenizer-fitting step of every LLM data
    * pipeline. The corpus is touched ONCE (word-count aggregation); every
    * merge round after that runs on the VOCAB table — |distinct words|,
    * millions not billions of rows — so cost is merges × (one vocab-sized
    * pair-count shuffle + a 1-row collect + a map-only fold). Per-round
    * frames persist and the previous round unpersists once the next
    * round's argmax materializes (no cache accumulation across rounds).
    *
    * Determinism: exact-Long pair counts, (count desc, pair asc) argmax
    * tiebreak, greedy leftmost-nonoverlapping apply — any engine replays
    * the identical merge table. Returns (step, left_sym, right_sym,
    * pair_count), the learned merge rules in order.
    */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = df
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("syms", expr("split(word, '')"))
      .persist()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var prev: Option[DataFrame] = None
    var step = 1
    var continue = true
    while (step <= merges && continue) {
      bpeBestPair(vocab) match {
        case Some((l, r, c)) =>
          learned += ((step, l, r, c))
          prev.foreach(_.unpersist()) // round N-1, now that N's argmax ran
          prev = Some(vocab)
          vocab = vocab.withColumn("syms", bpeApplyMerge("syms", l, r)).persist()
          step += 1
        case None => continue = false // vocab fully merged
      }
    }
    prev.foreach(_.unpersist())
    vocab.unpersist()
    learned.toSeq.toDF("step", "left_sym", "right_sym", "pair_count")
  }

  /** Winnowing fingerprints (the MOSS local-fingerprint scheme,
    * Schleimer/Wilkerson/Aiken SIGMOD'03): hash every POSITIONAL word
    * k-gram, slide a w-hash window, and select each window's minimum —
    * rightmost on ties (robust winnowing). Guarantees: any shared run of
    * ≥ w+k−1 tokens between two documents shares at least one selected
    * fingerprint, and gaps between selections are ≤ w — the bounded-
    * coverage property [[fingerprint]] (global min) lacks, which is what
    * lets partial copies be LOCALIZED, not just detected.
    *
    * Map-only at any scale: nested higher-order expressions per row, no
    * shuffle, no state; O(m·w) per doc. Downstream, equal (fp) values
    * join copy candidates the same way shingle hashes do in [[Dedup]],
    * but at w-fold lower index volume. Output: (doc_id, pos, fp) — pos
    * is the 0-based k-gram offset, deterministic across engines (exact
    * integer hash compare; docs shorter than k+w−1 tokens emit nothing).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 2, "need k >= 1 and w >= 2")
    val spark = df.sparkSession
    import spark.implicits._
    // The k-gram hashes stay IN the plan (same Portable.hash48 the
    // oracle replays); only the per-window rightmost-min selection
    // moves to a per-document monotonic deque. The previous
    // formulation folded an O(w) higher-order `aggregate` per position
    // — HOF lambdas evaluate interpreted, so positions × w interpreted
    // steps dominated the 2.4 s warm entry. The deque is the classic
    // O(positions) sliding-minimum; selections are non-decreasing in
    // position (the window slides right), so consecutive-repeat
    // suppression equals the old array_distinct exactly. Ties keep the
    // RIGHTMOST minimum in both forms (the fold's `<=` overwrite ⟺
    // popping `>=` values before pushing).
    df.select(col(idCol).cast("long").as("doc_id"),
        Portable.tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= k + w - 1)
      .select(col("doc_id"), transform(
        expr(s"transform(sequence(0, size(_toks) - $k), " +
          s"i -> concat_ws(' ', slice(_toks, i + 1, $k)))"),
        g => Portable.hash48(g)).as("_hs"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, hs) =>
          val n = hs.length
          val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          val dq = new java.util.ArrayDeque[Int]()
          var lastPos = -1
          var j = 0
          var i = 0
          while (i <= n - w) {
            while (j < i + w) {
              while (!dq.isEmpty && hs(dq.peekLast) >= hs(j)) dq.pollLast()
              dq.addLast(j)
              j += 1
            }
            while (dq.peekFirst < i) dq.pollFirst()
            val p = dq.peekFirst
            if (p != lastPos) { res += ((id, p.toLong, hs(p))); lastPos = p }
            i += 1
          }
          res.iterator
        }
      }
      .toDF("doc_id", "pos", "fp")
  }

  /** Copy-candidate pairs from winnowed fingerprints: documents sharing
    * ≥ minShared selected fingerprints, after pruning fingerprints that
    * occur in more than maxDf documents (the boilerplate band — same
    * role as the hot-shingle prune in Dedup's inverted index, bounding
    * per-key join fan-out at corpus scale). Because winnowing selects
    * ~2/(w+1) of positions, the inverted index this joins on is w-fold
    * smaller than a full shingle table — the cheap first pass before
    * span-level verification ([[duplicateSpans]]).
    * Output: (id_a, id_b, n_shared), id_a < id_b.
    */
  def winnowCopyCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDf: Int, minShared: Int): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select("doc_id", "fp").distinct()
    val banded = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf).select("fp"),
      Seq("fp"), "left_semi")
    banded.as("a").join(banded.as("b"), "fp")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-document BPE token counts WITHOUT re-folding every document:
    * the corpus' distinct words get the merge rules applied once (vocab-
    * sized work), and documents join their exploded words against that
    * (word → n_tokens) table — segmentation at scale is a hash join, not
    * per-character work over 100 TB of text. `rules` from [[bpeTrain]].
    * Output: (id, n_words, n_tokens) per document.
    */
  def bpeTokenCounts(df: DataFrame, idCol: String, textCol: String,
      rules: Seq[(String, String)]): DataFrame = {
    val words = df.select(col(idCol).as("id"),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    val vocabSyms = rules.foldLeft(
      words.select("word").distinct()
        .withColumn("syms", expr("split(word, '')"))) {
      case (v, (l, r)) => v.withColumn("syms", bpeApplyMerge("syms", l, r))
    }
    val wordTokens = vocabSyms
      .select(col("word"), size(col("syms")).cast("long").as("w_tokens"))
    words.join(wordTokens, "word")
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"), sum("w_tokens").as("n_tokens"))
  }

  /** Tokenize text with a learned merge table: chars, then each merge
    * applied in rule order — map-only at any scale (rules broadcast as
    * literals inside the fold chain). `rules` in (left, right) step
    * order, e.g. from [[bpeTrain]]'s collected output.
    */
  def bpeSegment(text: Column, rules: Seq[(String, String)]): Column = {
    val chars = split(lower(text), "")
    rules.foldLeft(chars) { case (syms, (l, r)) =>
      val (ls, rs) = (sqlStr(l), sqlStr(r))
      aggregate(syms, expr("CAST(array() AS ARRAY<STRING>)"),
        (acc, x) =>
          when(size(acc) > 0 &&
              element_at(acc, -1) === expr(ls) && x === expr(rs),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(concat(expr(ls), expr(rs)))))
            .otherwise(concat(acc, array(x))))
    }
  }

  def ngramNoveltyVsCorpus(corpus: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    noveltyAgainst(
      Dedup.hashedShingleTable(corpus, idCol, textCol, n)
        .select("shingle").distinct(),
      fresh, idCol, textCol, n)

  /** Gram-store FORMAT version (tag component — see
    * [[graft.operators.AnnIndex.FormatVersion]] for the rationale).
    */
  val GramStoreVersion = 1

  /** Build (or refresh) the persisted DISTINCT corpus gram set that
    * [[ngramNoveltyVsCorpusStored]] probes — the incremental-novelty
    * deployment shape: the standing corpus' grams are derived ONCE and
    * every arrival batch pays only its own tokenize + one lookup join,
    * instead of re-tokenizing/re-hashing/re-distincting the full corpus
    * per arrival (at 100 TB the recompute IS the query cost; the store
    * makes the probe arrival-sized). Freshness is fingerprint-gated
    * ([[graft.operators.ContentGate]]): pass `freshnessTag` (e.g.
    * [[graft.operators.ContentGate.pathTag]] over an immutable parquet
    * layout — O(files)) or leave None for the O(data) content tag.
    */
  def gramStoreEnsure(corpus: DataFrame, idCol: String, textCol: String,
      n: Int, dir: String, freshnessTag: Option[String] = None): Unit = {
    val tag = freshnessTag.getOrElse(
      ContentGate.tag(corpus, col(idCol), col(textCol), lit(true))) +
      s";n=$n;v=$GramStoreVersion"
    ContentGate.ensure(dir, tag) {
      Dedup.hashedShingleTable(corpus, idCol, textCol, n)
        .select("shingle").distinct()
        .write.mode("overwrite").parquet(s"$dir/grams")
    }
  }

  /** [[ngramNoveltyVsCorpus]] against a [[gramStoreEnsure]] store:
    * identical output (the store IS the distinct corpus gram set), with
    * the corpus side read as a pruned long column instead of recomputed.
    *
    * (A size-gated broadcast of the gram set was tried and measured
    * SLOWER at both tiles — the per-run driver collect+build+ship of a
    * multi-million-long broadcast costs more than the exchange+sort it
    * saves — so the probe keeps the shuffled join at every size.)
    */
  def ngramNoveltyVsCorpusStored(fresh: DataFrame, idCol: String,
      textCol: String, n: Int, storeDir: String): DataFrame = {
    val spark = fresh.sparkSession
    val cg = spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "shingle BIGINT"))
      .parquet(s"$storeDir/grams")
    noveltyAgainst(cg, fresh, idCol, textCol, n)
  }

  private def noveltyAgainst(cg: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val fg = Dedup.hashedShingleTable(fresh, idCol, textCol, n)
    // ONE pass over the fresh grams: a left join against the distinct
    // corpus set (at most one match per gram, so no row duplication)
    // flags novelty, and a single per-doc aggregate derives both counts
    // — the former anti-join + separate n_grams branch tokenized and
    // shuffled the fresh side twice for the same answer
    val per = fg
      .join(cg.withColumn("_hit", lit(1)), Seq("shingle"), "left")
      .groupBy("id").agg(count(lit(1)).as("n_grams"),
        sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("novel_grams"))
      .withColumn("novelty_pm", expr("(novel_grams * 1000) div n_grams"))
    fresh.select(col(idCol).as("doc_id"))
      .join(per.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("novel_grams"), lit(0L)).as("novel_grams"),
        col("novelty_pm"))
  }

  /** CCNet-style perplexity quality buckets (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"): train a bigram LM on the `trainPred` reference
    * subset, score EVERY document by its average per-bigram surprise,
    * and assign each to the head / middle / tail corpus tertile —
    * "keep head" is the standard LM-quality pre-filter for
    * pre-training data.
    *
    * All-integer log-domain scoring, so any engine replays it exactly:
    * the add-one-smoothed conditional p = (c2+1)/(c1+V) is scaled to
    * p_micro = (1e6·(c2+1)) div (c1+V), clamped to ≥ 1 (events rarer
    * than 1e-6 saturate — the logprob floor every real pipeline has),
    * and surprise-in-bits is 21 − len(bin(p_micro)) ∈ [1, 20]:
    * floor-log2 of an integer via its binary-string length, bit-exact
    * everywhere, where a libm log() diverges in the last ulp right at
    * bucket boundaries. c1(w) = Σ_w2 c2(w, w2) (predecessor counts),
    * V = |{w1}| in the train set.
    *
    * Plan shape: bigram scoring joins at the (doc, bigram)-DISTINCT
    * level with an occurrence multiplier (the [[bigramLmScore]]
    * argument — join volume O(distinct bigrams), not O(tokens)); the
    * tertile thresholds come from one [[Stats.selectSorted]] over the
    * ≤ 20 001-value avg_millibits count frame and return to the plan
    * as two literals — no global sort of the documents, no per-group
    * row window, nothing about the threshold step grows with the
    * corpus. Documents with < 2 tokens
    * have no bigrams and are dropped (min-length gate, as in CCNet).
    * Output: (id, n_bigrams, doc_bits, avg_millibits, bucket).
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      trainPred: Column): DataFrame = {
    val docBg = bigramDocCounts(df, idCol, textCol, trainPred)
    val c2 = docBg.filter(col("is_t"))
      .groupBy("w1", "w2").agg(sum(col("cnt")).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("vv"))
    perplexityFromCounts(docBg, c2, c1, vocab)
  }

  /** (id, is_t, w1, w2, cnt): per-document DISTINCT bigram counts with
    * the train flag — the shared front end of [[perplexityBuckets]]
    * and the [[LmStore]] train/score paths.
    */
  private def bigramDocCounts(df: DataFrame, idCol: String,
      textCol: String, trainPred: Column): DataFrame = {
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), trainPred.as("is_t"),
        Portable.tokens(col(textCol)).as("w")), "id")
    base.select(col("id"), col("is_t"),
        explode(when(size(col("w")) >= 2,
          transform(sequence(lit(0), size(col("w")) - 2),
            i => struct(element_at(col("w"), i + 1).as("w1"),
              element_at(col("w"), i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("b"))
      .select(col("id"), col("is_t"), col("b.w1").as("w1"),
        col("b.w2").as("w2"))
      .groupBy("id", "is_t", "w1", "w2")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Score + tertile-bucket a (id, w1, w2, cnt) frame against LM count
    * frames c2 (w1, w2, c2), c1 (w1, c1), vocab (1-row vv) — the back
    * half shared by the one-shot and stored-LM paths.
    */
  private def perplexityFromCounts(docBg: DataFrame, c2: DataFrame,
      c1: DataFrame, vocab: DataFrame): DataFrame = {
    val scored = Lineage.persistOwned(docBg
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"), col("cnt"),
        greatest(
          // greatest(...,1): a no-op whenever the LM is non-empty
          // (vv ≥ 1), but an EMPTY store (legitimate before the first
          // ingest batch lands) would otherwise hit ANSI div-by-zero
          expr("(1000000 * (coalesce(c2, 0) + 1)) " +
            "div greatest(coalesce(c1, 0) + vv, 1)"),
          lit(1L)).as("pm"))
      .select(col("id"), col("cnt"),
        (lit(21L) - length(bin(col("pm")))).as("bits"))
      .groupBy("id")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("bits")).as("doc_bits"))
      .withColumn("avg_millibits", expr("(doc_bits * 1000) div n_bigrams")))
    // feeds the tertile selection AND the final bucket map
    graft.PendingRelease.defer(() => { scored.unpersist(); () })
    // tertile thresholds: the ceil(n/3)-th and ceil(2n/3)-th smallest
    // avg_millibits, over a ≤ 20 001-value domain (bits/bigram ≤ 20 →
    // millibits ≤ 20 000); no document scored, no threshold needed
    val counts = scored.groupBy(col("avg_millibits").as("v"))
      .agg(count(lit(1)).as("c"))
    val terts = Stats.selectSorted(counts, Seq(
        (n: Column) => ((n + 2) / 3).cast("long"),
        (n: Column) => ((n * 2 + 2) / 3).cast("long")))(
      (_, ts) => ts.headOption.fold(Seq(0L, 0L))(_._3))
    scored
      .select(col("id"), col("n_bigrams"), col("doc_bits"),
        col("avg_millibits"),
        when(col("avg_millibits") <= terts(0), "head")
          .when(col("avg_millibits") <= terts(1), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Per-group tokenizer fertility and token-share accounting — the
    * mixture report a multilingual pipeline prints before fixing
    * sampling weights: for each group (language, source, …), document
    * and token totals under BOTH tokenizations ([[tokenCounts]]'
    * whitespace and BPE-ish regex), the fertility ratio
    * `(bpe·1000) div ws` (how many subword tokens a "word" costs —
    * the classic per-language tokenizer-efficiency metric), and the
    * group's share of the corpus' BPE tokens in ppm. ONE map-side-
    * combined aggregate over the corpus plus a broadcast 1-row total —
    * nothing grows with the data but the group count.
    * Output: (g, n_docs, ws_tokens, bpe_tokens, fertility_milli,
    * share_ppm).
    */
  def tokenizerFertility(df: DataFrame, idCol: String, textCol: String,
      groupCol: Column): DataFrame = {
    val counted = Spread.ensure(
        df.select(col(idCol).as("id"), groupCol.as("g"), col(textCol)), "id")
      .select(col("id") +: col("g") +: tokenCounts(col(textCol)): _*)
    val per = counted.groupBy("g")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"))
    val tot = per.agg(sum(col("bpe_tokens")).as("bpe_total"))
    per.crossJoin(broadcast(tot))
      .select(col("g"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
        expr("(bpe_tokens * 1000) div ws_tokens").as("fertility_milli"),
        expr("(cast(bpe_tokens as decimal(38,0)) * 1000000) div bpe_total").as("share_ppm"))
  }

  /** Stupid-backoff trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — THE web-scale LM
    * recipe: no discounting to estimate, counts only, a fixed 0.4
    * back-off multiplier, which is exactly what makes it replayable as
    * integer arithmetic): every document's trigrams score
    * S(w3|w1w2) = c123/c12, backing off to 0.4·c23/c2• then to
    * 0.4²·c3/N, all in exact micro units — (1e6·c123) div c12,
    * (4e5·c23) div c2•, (1.6e5·c3) div N — with the count of trigrams
    * resolved at each back-off level reported alongside (the
    * model-coverage diagnostic: a corpus scoring mostly at the unigram
    * level isn't covered by the reference LM at all).
    *
    * Same plan scale-shape as [[perplexityBuckets]]: counting joins at
    * the (doc, trigram)-DISTINCT level with occurrence multipliers;
    * the count tables are train-slice aggregates broadcast or
    * shuffle-joined by Catalyst's choice; nothing is driver-side.
    * Documents with < 3 tokens have no trigrams and drop (min-length
    * gate). Output: (id, n_trigrams, n_tri, n_bi, n_uni,
    * sb_micro_sum) — higher sum = more reference-like.
    */
  def stupidBackoffScore(df: DataFrame, idCol: String, textCol: String,
      trainPred: Column): DataFrame = {
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), trainPred.as("is_t"),
        Portable.tokens(col(textCol)).as("w")), "id")
    def grams(n: Int): DataFrame = {
      val names = (1 to n).map(i => s"w$i")
      base.select(col("id"), col("is_t"),
          explode(when(size(col("w")) >= n,
            transform(sequence(lit(0), size(col("w")) - n),
              i => struct(names.zipWithIndex.map { case (nm, j) =>
                element_at(col("w"), i + j + 1).as(nm)
              }: _*)))
            .otherwise(array().cast(
              s"array<struct<${names.map(_ + ":string").mkString(",")}>>")))
            .as("g"))
        .select(col("id") +: col("is_t") +:
          names.map(nm => col(s"g.$nm").as(nm)): _*)
        .groupBy((Seq("id", "is_t") ++ names).map(col): _*)
        .agg(count(lit(1)).as("cnt"))
    }
    val doc3 = grams(3)
    val tri = doc3.filter(col("is_t"))
      .groupBy("w1", "w2", "w3").agg(sum(col("cnt")).as("c123"))
    val tri12 = tri.groupBy("w1", "w2").agg(sum(col("c123")).as("c12"))
    val bi = grams(2).filter(col("is_t"))
      .groupBy(col("w1").as("w2"), col("w2").as("w3"))
      .agg(sum(col("cnt")).as("c23"))
    val bi2 = bi.groupBy("w2").agg(sum(col("c23")).as("c2s"))
    val uni = base.filter(col("is_t"))
      .select(explode(col("w")).as("w3"))
      .groupBy("w3").agg(count(lit(1)).as("c3"))
    val n = uni.agg(sum(col("c3")).as("nn"))
    doc3
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(tri12, Seq("w1", "w2"), "left")
      .join(bi, Seq("w2", "w3"), "left")
      .join(bi2, Seq("w2"), "left")
      .join(uni, Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .select(col("id"), col("cnt"),
        when(coalesce(col("c123"), lit(0L)) > 0, lit(3))
          .when(coalesce(col("c23"), lit(0L)) > 0, lit(2))
          .when(coalesce(col("c3"), lit(0L)) > 0, lit(1))
          .otherwise(lit(0)).as("lvl"),
        when(coalesce(col("c123"), lit(0L)) > 0,
            expr("(1000000 * c123) div c12"))
          .when(coalesce(col("c23"), lit(0L)) > 0,
            expr("(400000 * c23) div c2s"))
          .when(coalesce(col("c3"), lit(0L)) > 0,
            expr("(160000 * c3) div nn"))
          .otherwise(lit(0L)).as("s"))
      .groupBy("id")
      .agg(sum(col("cnt")).as("n_trigrams"),
        coalesce(sum(when(col("lvl") === 3, col("cnt"))), lit(0L))
          .as("n_tri"),
        coalesce(sum(when(col("lvl") === 2, col("cnt"))), lit(0L))
          .as("n_bi"),
        coalesce(sum(when(col("lvl") === 1, col("cnt"))), lit(0L))
          .as("n_uni"),
        sum(col("cnt") * col("s")).as("sb_micro_sum"))
  }

  /** Persisted bigram-LM artifact — the [[AnnIndex]] pattern applied to
    * the text-quality pipeline: train the [[perplexityBuckets]] LM once
    * (offline, on the reference slice), store its count frames as
    * parquet, and score any later batch from the stored artifact alone.
    * `scoreFrom(corpus)` over the training corpus is IDENTICAL to the
    * one-shot `perplexityBuckets` (q161's oracle is q153's SQL
    * verbatim), so drift between the stored and in-line paths fails the
    * driver hash, exactly like the q56/q107 index pair.
    *
    * Layout: `dir/c2` (w1, w2, c2), `dir/c1` (w1, c1), `dir/meta`
    * (1-row vv). The stored frames are count tables — mergeable by
    * addition, so incremental re-training is a groupBy-sum union away.
    */
  object LmStore {
    /** Write the store layout (c2 → derived c1 → derived meta) from a
      * (w1, w2, c2) count frame — shared by [[save]] (counts from a
      * train slice) and [[merge]] (counts summed across part stores).
      */
    private def writeCounts(c2: DataFrame, dir: String): Unit = {
      import org.apache.spark.sql.SaveMode
      c2.write.mode(SaveMode.Overwrite).parquet(s"$dir/c2")
      val spark = c2.sparkSession
      val c2s = spark.read.parquet(s"$dir/c2")
      c2s.groupBy("w1").agg(sum(col("c2")).as("c1"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/c1")
      spark.read.parquet(s"$dir/c1").agg(count(lit(1)).as("vv"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/meta")
    }

    def save(df: DataFrame, idCol: String, textCol: String,
        trainPred: Column, dir: String): Unit = {
      val docBg = bigramDocCounts(df, idCol, textCol, trainPred)
      writeCounts(docBg.filter(col("is_t"))
        .groupBy("w1", "w2").agg(sum(col("cnt")).as("c2")), dir)
    }

    /** Merge part stores by ADDING their bigram counts — the
      * incremental-retrain path: train each ingest batch's counts once,
      * merge into the serving store, never re-touch old batches' text.
      * Counts are additive over disjoint document sets, so a merge of
      * slice stores is bit-identical to one train over the union
      * (spec-pinned); c1/meta re-derive from the merged c2 exactly as
      * [[save]] derives them.
      */
    def merge(spark: org.apache.spark.sql.SparkSession,
        parts: Seq[String], outDir: String): Unit = {
      require(parts.nonEmpty, "merge needs at least one part store")
      writeCounts(parts.map(p => spark.read.parquet(s"$p/c2"))
        .reduce(_.unionByName(_))
        .groupBy("w1", "w2").agg(sum(col("c2")).as("c2")), outDir)
    }

    /** [[merge]] only when the merged artifact's fingerprint (the
      * concatenation of the part stores' FINGERPRINT tags, which
      * [[ensure]] wrote) does not already match — the same gate as
      * [[ensure]], lifted to the merge: steady-state pipelines re-merge
      * only when some part store retrained.
      */
    def ensureMerged(spark: org.apache.spark.sql.SparkSession,
        parts: Seq[String], outDir: String): Unit =
      ContentGate.ensure(outDir,
        parts.map(ContentGate.recordedTag).mkString("|")) {
        merge(spark, parts, outDir)
      }

    def scoreFrom(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
        idCol: String, textCol: String, dir: String): DataFrame = {
      val docBg = bigramDocCounts(df, idCol, textCol, lit(false))
      perplexityFromCounts(docBg,
        spark.read.parquet(s"$dir/c2"),
        spark.read.parquet(s"$dir/c1"),
        spark.read.parquet(s"$dir/meta"))
    }

    /** [[save]] only when the stored artifact does not already match
      * the TRAIN SLICE's content fingerprint ([[ContentGate]]), the
      * [[graft.engine.BucketedSync.ensureSnapshot]] contract: repeated
      * pipelines pay the train+write once, re-scores hit the store,
      * and a regenerated corpus forces a retrain instead of silently
      * scoring against a stale LM.
      */
    def ensure(df: DataFrame, idCol: String, textCol: String,
        trainPred: Column, dir: String): Unit =
      ContentGate.ensure(dir, ContentGate.tag(df, idCol, textCol,
        trainPred)) {
        save(df, idCol, textCol, trainPred, dir)
      }
  }

  /** Token-level Aho–Corasick multi-pattern matcher — the blocklist /
    * policy-filter primitive (Aho & Corasick 1975, "Efficient string
    * matching: an aid to bibliographic search"): count every
    * occurrence (all start positions) of every pattern phrase in every
    * document, in ONE pass over each token stream.
    *
    * The scale argument versus [[phraseSearch]]'s positional-index
    * join: postings fan out by Σ per-token posting lists of the
    * pattern tokens — a blocklist of thousands of phrases touching hot
    * tokens explodes the join. Here the patterns compile into one
    * automaton BROADCAST to every executor and matching is map-only
    * O(tokens · fail-chain) per document, independent of the pattern
    * count — zero shuffle until the caller aggregates. The driver
    * collect is bounded by the BLOCKLIST size (same class as the
    * catalog/centroid collects), never by the corpus.
    *
    * Patterns are tokenized IN THE PLAN with the same
    * [[Portable.tokens]] the documents use, so matcher and corpus
    * agree on token boundaries by construction. Matches may overlap
    * (automaton outputs fire at every match END state — the all-start-
    * positions count). `patterns` must have (pattern_id, phrase).
    * Output: (id, pattern_id, n_hits), hit rows only.
    */
  def blocklistCounts(df: DataFrame, idCol: String, textCol: String,
      patterns: DataFrame): DataFrame =
    blocklistCountsOn(Spread.ensure(
      df.select(col(idCol).cast("long").as("id"),
        Portable.tokens(col(textCol)).as("w")), "id"), patterns)

  /** [[blocklistCounts]] over an unbounded STREAM: the automaton is
    * compiled from the (batch) pattern frame at plan time and the
    * matching stage is STATELESS (per-document, no watermark, no
    * store), so the same map-only pass runs under Structured Streaming
    * unchanged — policy filtering at ingest. Only the
    * [[Spread.ensure]] spreading step is dropped (it inspects the
    * planned RDD, which an unbounded plan does not have; a stream's
    * parallelism comes from its source partitions).
    */
  def blocklistCountsStream(stream: DataFrame, idCol: String,
      textCol: String, patterns: DataFrame): DataFrame =
    blocklistCountsOn(
      stream.select(col(idCol).cast("long").as("id"),
        Portable.tokens(col(textCol)).as("w")), patterns)

  private def blocklistCountsOn(docs0: DataFrame,
      patterns: DataFrame): DataFrame = {
    val spark = docs0.sparkSession
    import spark.implicits._
    val pats: Array[(Long, Seq[String])] = patterns
      .select(col("pattern_id").cast("long"),
        Portable.tokens(col("phrase")))
      .as[(Long, Seq[String])].collect()
    require(pats.nonEmpty && pats.forall(_._2.nonEmpty),
      "patterns must be non-empty phrases")
    // goto trie over token strings + BFS fail links + per-state merged
    // output lists (own pattern ends ++ fail state's outputs)
    val goto = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.HashMap.empty[String, Int])
    val ends = scala.collection.mutable.ArrayBuffer(List.empty[Long])
    for ((pid, toks) <- pats) {
      var st = 0
      for (t <- toks) {
        st = goto(st).getOrElseUpdate(t, {
          goto += scala.collection.mutable.HashMap.empty[String, Int]
          ends += Nil
          goto.size - 1
        })
      }
      ends(st) = pid :: ends(st)
    }
    val n = goto.size
    val fail = Array.fill(n)(0)
    val emit = Array.fill(n)(List.empty[Long])
    emit(0) = ends(0)
    val bfs = scala.collection.mutable.Queue.empty[Int]
    for ((_, s) <- goto(0)) { fail(s) = 0; emit(s) = ends(s); bfs += s }
    while (bfs.nonEmpty) {
      val u = bfs.dequeue()
      for ((t, s) <- goto(u)) {
        var f = fail(u)
        while (f != 0 && !goto(f).contains(t)) f = fail(f)
        fail(s) = goto(f).get(t).filter(_ != s).getOrElse(0)
        emit(s) = ends(s) ++ emit(fail(s))
        bfs += s
      }
    }
    val gotoArr: Array[Map[String, Int]] = goto.map(_.toMap).toArray
    val bc = spark.sparkContext.broadcast((gotoArr, fail, emit))
    val docs = docs0.as[(Long, Seq[String])]
    docs.mapPartitions { it =>
      val (g, f, e) = bc.value
      it.flatMap { case (id, toks) =>
        val counts = scala.collection.mutable.HashMap.empty[Long, Long]
        var st = 0
        for (t <- toks) {
          while (st != 0 && !g(st).contains(t)) st = f(st)
          st = g(st).getOrElse(t, 0)
          for (pid <- e(st))
            counts(pid) = counts.getOrElse(pid, 0L) + 1L
        }
        counts.iterator.map { case (pid, c) => (id, pid, c) }
      }
    }.toDF("id", "pattern_id", "n_hits")
  }

  /** Zipf / heavy-tail profile of the corpus vocabulary: token types and
    * occurrences histogrammed by floor-log2 of the type's corpus
    * frequency — the rank-frequency report that sizes tokenizer vocabs
    * and predicts how much of the token mass a top-k vocabulary covers.
    *
    * The bucket is `length(bin(c)) - 1` (binary-string length), NOT the
    * capped native floor_log2: a hot token's corpus frequency at 100 TB
    * can exceed 2³⁹ and the cap would silently merge the hottest
    * buckets. The string allocation runs once per TYPE post-aggregate,
    * never per occurrence. Shape: one explode → one map-side-combined
    * frequency aggregate → one ≤ 64-row bucket aggregate + a broadcast
    * 1-row total; output is bounded by 64 buckets at any corpus size.
    * Output: (freq_bucket, n_types, n_occurrences, occ_ppm, types_ppm).
    */
  def zipfProfile(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), col(textCol).as("t")), "id")
    // session-cache + eager count: the ≤ 64-bucket frame feeds the
    // broadcast total AND the final projection — uncached, the
    // broadcast subjob would re-run the corpus frequency aggregate
    val bucketed = base
      .select(explode(Portable.tokens(col("t"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .select((length(bin(col("c"))) - 1).cast("long").as("freq_bucket"),
        col("c"))
      .groupBy("freq_bucket")
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_occurrences"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.PendingRelease.defer(() => { bucketed.unpersist(); () })
    bucketed.count()
    val tot = bucketed.agg(sum(col("n_occurrences")).as("occ_total"),
      sum(col("n_types")).as("types_total"))
    bucketed.crossJoin(broadcast(tot))
      .select(col("freq_bucket"), col("n_types"), col("n_occurrences"),
        expr("(cast(n_occurrences as decimal(38,0)) * 1000000) div occ_total").as("occ_ppm"),
        expr("(cast(n_types as decimal(38,0)) * 1000000) div types_total").as("types_ppm"))
  }

  /** Adjacent-bigram collocations ranked by integer PMI-bits — the
    * multi-word-expression miner that feeds tokenizer vocab and phrase
    * lists ("new york" deserves one token; "of the" does not). The
    * document-level sibling [[cooccurrenceLift]] asks "which tokens
    * share documents"; this asks "which tokens ABUT".
    *
    * PMI = log2(N·c2/(cx·cy)) is approximated in integer bits as
    * fl2(c2) + fl2(N) − fl2(cx) − fl2(cy) (fl2 = binary-string length
    * − 1). The sum-of-logs form — NOT fl2(c2·N) − fl2(cx·cy) — is
    * deliberate: c2·N at 100 TB (N ~ 10¹³) overflows Long; four
    * per-factor fl2s never can, and the ±1-bit error vs the true
    * quotient is irrelevant to a ranking gate. Everything is exact
    * integers, so ties break deterministically on (c2, w1, w2).
    *
    * Shape: one bigram explode → frequency aggregate, one token explode
    * → frequency aggregate, two key-hash joins of the GATED (c2 ≥
    * minCount) bigram frame against the unigram counts, one bounded
    * top-k (TakeOrdered — per-partition heads + driver merge of k rows,
    * never a global sort shuffle).
    * Output: top-k (w1, w2, c2, cx, cy, pmi_bits).
    */
  def collocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Int = 5, k: Int = 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), col(textCol).as("t")), "id")
    val toks = Portable.tokens(col("t"))
    // session-cache contract: c2 feeds the broadcast total AND the
    // gated main path (eager count — broadcast subjobs race an
    // uncached parent); c1 feeds two shuffle joins
    val c2 = base
      .select(explode(when(size(toks) >= 2,
          transform(sequence(lit(0), size(toks) - 2),
            i => struct(element_at(toks, i + 1).as("w1"),
              element_at(toks, i + 2).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { c2.unpersist(); () })
    c2.count()
    val c1 = base.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { c1.unpersist(); () })
    val n2 = c2.agg(sum(col("c2")).as("n2"))
    def fl2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    c2.filter(col("c2") >= minCount)
      .join(c1.select(col("tok").as("w1"), col("c1").as("cx")), Seq("w1"))
      .join(c1.select(col("tok").as("w2"), col("c1").as("cy")), Seq("w2"))
      .crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c2"), col("cx"), col("cy"),
        (fl2(col("c2")) + fl2(col("n2")) - fl2(col("cx")) - fl2(col("cy")))
          .as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("c2").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Cross-document chunk-store dedup savings: every content-defined
    * chunk ([[contentDefinedChunks]]) is STORED once corpus-wide (the
    * first instance by (doc, chunk) order owns it); per group (source,
    * partition, …), the instances and tokens that deduplicate away —
    * the chunk-level storage/transfer savings estimate that decides
    * whether a content-addressed chunk store pays for a corpus (the
    * cross-DOCUMENT sibling of the cross-VERSION reuse report, and the
    * sub-document complement of exact doc dedup: shared boilerplate
    * runs dedup at chunk granularity even when no two docs are equal).
    *
    * Ownership is min(id·100000 + chunk_id) per chunk hash — one
    * integer key so Spark and the oracle order identically (requires
    * per-document chunk counts < 100000, i.e. docs under 100k tokens —
    * an a-priori corpus bound, not data-tuned). Shape: chunk explode →
    * one hash-keyed min aggregate → one hash-keyed join back → one
    * id-keyed group join → one bounded per-group aggregate.
    * Output: (g, n_chunks, n_tokens, n_dedup, tok_dedup, savings_ppm).
    */
  def chunkDedupSavings(df: DataFrame, idCol: String, textCol: String,
      groupCol: Column): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // session-cache: the chunk frame feeds the ownership aggregate AND
    // the join back (both shuffle-side — no broadcast race)
    // assert_true yields NULL when the bound holds (coalesced to +0,
    // value unchanged) and THROWS on a >100k-chunk document — the
    // a-priori key bound fails loudly instead of silently corrupting
    // first-instance ownership (the oracle replays the same key, so a
    // silent wrap would pass the cross-engine gate undetected).
    val ch = contentDefinedChunks(df, idCol, textCol)
      .select(col("id"), col("chunk_id"), col("n_tok"), col("chunk_h"),
        (col("id") * 100000L + col("chunk_id") +
          coalesce(assert_true(col("chunk_id") < 100000L,
            lit("chunkDedupSavings: per-document chunk count exceeded " +
              "the 100000 ownership-key bound")).cast("long"), lit(0L)))
          .as("ikey"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { ch.unpersist(); () })
    val owner = ch.groupBy("chunk_h").agg(min(col("ikey")).as("okey"))
    ch.join(owner, Seq("chunk_h"))
      .select(col("id"), col("n_tok"),
        (col("ikey") =!= col("okey")).cast("long").as("dup"))
      .join(df.select(col(idCol).as("id"), groupCol.as("g")), Seq("id"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_chunks"), sum(col("n_tok")).as("n_tokens"),
        sum(col("dup")).as("n_dedup"),
        coalesce(sum(when(col("dup") === 1, col("n_tok"))), lit(0L))
          .as("tok_dedup"))
      .select(col("g"), col("n_chunks"), col("n_tokens"), col("n_dedup"),
        col("tok_dedup"),
        expr("(cast(tok_dedup as decimal(38,0)) * 1000000) div n_tokens").as("savings_ppm"))
  }

  /** Vocabulary-budget coverage sweep: for each candidate vocab size k,
    * the frequency floor `f_min` (the smallest corpus frequency whose
    * at-or-above types fit the budget: min f with |{types: freq ≥ f}|
    * ≤ k), the types the vocab actually holds, and the out-of-vocab
    * types/occurrences/ppm that budget strands — the "what does a 4k
    * vs 16k vocab cost in OOV mass" decision table read next to the
    * [[zipfProfile]] before fixing tokenizer size. A budget smaller
    * than the type count tied at the top frequency is infeasible under
    * the frequency-floor rule and yields no row.
    *
    * Shape: one corpus explode → one type-frequency aggregate → one
    * (frequency value → type count) aggregate bounded by the distinct-
    * frequency domain → ONE [[Stats.runningSums]] over that domain with
    * the weight as a 2-way-exploded group column (the q151 trick: the
    * type- and occurrence-weighted sums ride one range sort and its
    * two passes; no window) → per-budget min-crossing selection over
    * the bounded frame.
    * Output: (k, f_min, vocab_types, oov_types, oov_occurrences,
    * oov_ppm).
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      budgets: Seq[Int]): DataFrame = {
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), col(textCol).as("t")), "id")
    val counts = base.select(explode(Portable.tokens(col("t"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .groupBy(col("c").as("v")).agg(count(lit(1)).as("nt"))
      .withColumn("occ", col("v") * col("nt"))
    // both weightings through one running-sum pass: the weight tag is a
    // group column, so each tag's sums and total equal those of a
    // separate pass
    val both = counts.select(explode(array(
        struct(lit("t").as("w"), col("v"), col("nt").as("c")),
        struct(lit("o").as("w"), col("v"), col("occ").as("c")))).as("e"))
      .select(col("e.w").as("w"), col("e.v").as("v"), col("e.c").as("c"))
    val cum = Stats.runningSums(both, 1).groupBy("v").agg(
        max(when(col("w") === "t", col("c"))).as("nt"),
        max(when(col("w") === "t", col("cum"))).as("cumt"),
        max(when(col("w") === "t", col("n"))).as("tt"),
        max(when(col("w") === "o", col("c"))).as("occ"),
        max(when(col("w") === "o", col("cum"))).as("cumo"),
        max(when(col("w") === "o", col("n"))).as("toc"))
    // f_k = min v with types-strictly-below(v) ≥ T − k; min(struct)
    // carries the crossing row's cum columns along
    cum.select(explode(array(budgets.map(k => lit(k.toLong)): _*))
        .as("k"), col("v"), col("nt"), col("cumt"), col("occ"),
        col("cumo"), col("tt"), col("toc"))
      .filter(col("cumt") - col("nt") >= col("tt") - col("k"))
      .groupBy("k")
      .agg(min(struct(col("v"), col("nt"), col("cumt"), col("occ"),
        col("cumo"), col("tt"), col("toc"))).as("s"))
      .select(col("k"), col("s.v").as("f_min"),
        (col("s.tt") - (col("s.cumt") - col("s.nt"))).as("vocab_types"),
        (col("s.cumt") - col("s.nt")).as("oov_types"),
        (col("s.cumo") - col("s.occ")).as("oov_occurrences"),
        expr("(cast(s.cumo - s.occ as decimal(38,0)) * 1000000) div s.toc").as("oov_ppm"))
  }

  /** Benchmark-contamination depth profile: for each n-gram width n,
    * how many corpus documents share at least one verbatim n-gram with
    * the benchmark set, and how many (doc, gram) hits there are — the
    * sweep that decides how aggressive decontamination must be (8-gram
    * overlap is the common published gate; this measures what 5 vs 8
    * vs 13 would each flag on THIS corpus before running the real
    * pass). Corpus docs are tokenized ONCE (the array frame persists
    * across widths); per width: benchmark grams distinct → one
    * gram-keyed LEFT SEMI-shaped join (hot grams stay linear) → one
    * bounded aggregate. Output: (n, contaminated_docs, gram_hits,
    * docs_ppm).
    */
  def contaminationDepth(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, ns: Seq[Int]): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = Spread.ensure(
        corpus.select(col(idCol).as("id"), col(textCol).as("t")), "id")
      .select(col("id"), Portable.tokens(col("t")).as("w"))
      .persist(lvl)
    val bw = bench.select(Portable.tokens(col(textCol)).as("w"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { base.unpersist(); bw.unpersist(); () })
    val total = base.agg(count(lit(1)).as("n_corpus"))
    val perN = ns.map { n =>
      val bg = bw.select(explode(Portable.shingles(col("w"), n)).as("g"))
        .distinct()
      base.select(col("id"),
          explode(Portable.shingles(col("w"), n)).as("g"))
        .join(bg, Seq("g"), "left_semi")
        .agg(countDistinct(col("id")).as("contaminated_docs"),
          count(lit(1)).as("gram_hits"))
        .select(lit(n.toLong).as("n"), col("contaminated_docs"),
          col("gram_hits"))
    }.reduce(_.unionByName(_))
    perN.crossJoin(broadcast(total))
      .select(col("n"), col("contaminated_docs"), col("gram_hits"),
        expr("(cast(contaminated_docs as decimal(38,0)) * 1000000) div n_corpus").as("docs_ppm"))
  }

  /** Inter-document sentence dedup savings: every normalized sentence
    * belongs to its first document (min id); later documents count each
    * repeated-sentence instance and its characters as REMOVABLE — the
    * per-document transfer/storage savings estimate for sentence-level
    * dedup, and the accounting complement of [[boilerplateProfile]]
    * (which flags recurrence but prices nothing).
    *
    * Shape: [[sentenceTable]] explode → one norm-keyed min aggregate →
    * one norm-keyed join back → one per-doc aggregate; a final left
    * join restores sentence-less documents. Hot norms stay linear (the
    * ownership frame has one row per norm), never pair-quadratic.
    * Documents with zero sentence characters get a NULL savings_ppm.
    * Output: (id, n_sents, n_removed, chars_total, chars_removed,
    * savings_ppm).
    */
  /** Vocabulary growth (Heaps-curve) profile across ordered ingest
    * batches: per batch, how many token TYPES appear for the first time
    * (min-batch ownership), how many distinct types and occurrences the
    * batch contains, and the cumulative vocabulary after it — the
    * crawl-saturation report ("is source k still adding vocabulary, or
    * only mass?") that decides when further ingestion stops paying.
    *
    * Shape: one explode → one (batch, token) aggregate → one token-keyed
    * min → two batch-keyed aggregates. The cumulative sum runs as a
    * bounded |batches|² self-join on the ≤ |batches|-row report frame —
    * NOT a window: a partition-less running sum is banned engine-wide,
    * and at ≤ tens of batches the triangle join is free.
    * Output: (batch, new_types, seen_types, n_occurrences, cum_types,
    * new_types_ppm).
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      batchCol: Column): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val base = Spread.ensure(
      df.select(col(idCol).as("id"), batchCol.as("batch"),
        col(textCol).as("t")), "id")
    // session-cache contract: the (batch, token) counts feed TWO
    // aggregates (first-seen min, per-batch totals) — uncached, each
    // would re-tokenize the corpus; the tiny report frame feeds three
    // consumers incl. broadcasts, and concurrent broadcast subjobs RACE
    // on an uncached parent, hence the eager counts
    val perBatchTok = base
      .select(col("batch"), explode(Portable.tokens(col("t"))).as("tok"))
      .groupBy("batch", "tok").agg(count(lit(1)).as("c"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { perBatchTok.unpersist(); () })
    perBatchTok.count()
    val newPer = perBatchTok.groupBy("tok").agg(min(col("batch")).as("batch"))
      .groupBy("batch").agg(count(lit(1)).as("new_types"))
    val joined = perBatchTok.groupBy("batch")
      .agg(count(lit(1)).as("seen_types"), sum(col("c")).as("n_occurrences"))
      .join(newPer, Seq("batch"), "left")
      .select(col("batch"), coalesce(col("new_types"), lit(0L)).as("new_types"),
        col("seen_types"), col("n_occurrences"))
      .persist(lvl)
    graft.PendingRelease.defer(() => { joined.unpersist(); () })
    joined.count()
    val cum = joined.as("a")
      .join(broadcast(joined.as("b")), col("b.batch") <= col("a.batch"))
      .groupBy(col("a.batch").as("batch"))
      .agg(sum(col("b.new_types")).as("cum_types"))
    joined.join(broadcast(cum), Seq("batch"))
      .select(col("batch"), col("new_types"), col("seen_types"),
        col("n_occurrences"), col("cum_types"),
        expr("(cast(new_types as decimal(38,0)) * 1000000) div seen_types").as("new_types_ppm"))
  }

  def sentenceDedupSavings(df: DataFrame, idCol: String, textCol: String,
      boundary: String = SentenceBoundary): DataFrame = {
    // session-cache: the corpus-scale sentence frame feeds the
    // ownership aggregate AND the join back — uncached, the corpus is
    // split twice (both consumers are shuffle-side, no broadcast race,
    // so no eager count needed)
    val sents = sentenceTable(df, idCol, textCol, boundary)
      .select(col("id"), col("norm"),
        length(col("sentence")).cast("long").as("chars"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.PendingRelease.defer(() => { sents.unpersist(); () })
    val owner = sents.groupBy("norm").agg(min(col("id")).as("owner"))
    val perDoc = sents.join(owner, Seq("norm"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_sents"),
        coalesce(sum(when(col("owner") < col("id"), lit(1L))), lit(0L))
          .as("n_removed"),
        sum(col("chars")).as("chars_total"),
        coalesce(sum(when(col("owner") < col("id"), col("chars"))),
          lit(0L)).as("chars_removed"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_sents"), lit(0L)).as("n_sents"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("chars_total"), lit(0L)).as("chars_total"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
        expr("(cast(chars_removed as decimal(38,0)) * 1000000) div nullif(chars_total, 0)")
          .as("savings_ppm"))
  }

  /** Token-distribution drift between two corpus slices — the 2×2
    * chi-square statistic per token, the audit run when a new crawl
    * snapshot (or a re-filtered corpus) replaces the slice a model was
    * tuned on: which words' frequencies moved, and by how much beyond
    * sampling noise. For token t with counts o1/o2 in slices of n1/n2
    * total tokens,
    *
    *   χ² = (o1·n2 − o2·n1)² · (n1+n2) / ((o1+o2)·(n1−o1+n2−o2)·n1·n2)
    *
    * (the standard 2×2 form with marginals (o1+o2) and its complement).
    * Every count is cast to double BEFORE any multiply (exact while the
    * counts are < 2⁵³; no ANSI Long-overflow cliff at extreme scale,
    * where the statistic degrades gracefully instead of throwing), and
    * the multiplies/divides run in a FIXED order mirrored verbatim by
    * the oracle, so the rounded statistic is engine-independent.
    *
    * Scale: one token-count aggregate keyed on (term, slice), pivoted
    * by a conditional sum — a single shuffle on the term; totals are a
    * broadcast single row. `minCount` drops the long tail where χ² is
    * meaningless (and keeps the report bounded).
    *
    * Output: (term, o1, o2, chi2_6dp) for tokens with o1+o2 ≥ minCount.
    */
  def tokenDrift(docs: DataFrame, sliceCol: Column, textCol: String,
      minCount: Long): DataFrame = {
    val toks = docs.select(sliceCol.cast("long").as("half"),
        explode(graft.functions.Portable.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val per = toks.groupBy("term")
      .agg(coalesce(sum(when(col("half") === 0, 1L)), lit(0L)).as("o1"),
        coalesce(sum(when(col("half") =!= 0, 1L)), lit(0L)).as("o2"))
    val tot = per.agg(sum("o1").as("n1"), sum("o2").as("n2"))
    per.filter(col("o1") + col("o2") >= minCount)
      .crossJoin(broadcast(tot))
      .withColumn("chi2_6dp", expr(
        """round((((cast(o1 as double) * cast(n2 as double)
          |     - cast(o2 as double) * cast(n1 as double))
          |   * (cast(o1 as double) * cast(n2 as double)
          |     - cast(o2 as double) * cast(n1 as double)))
          |  * cast(n1 + n2 as double))
          |  / cast(o1 + o2 as double)
          |  / cast((n1 - o1) + (n2 - o2) as double)
          |  / cast(n1 as double) / cast(n2 as double), 6)""".stripMargin))
      .select("term", "o1", "o2", "chi2_6dp")
  }
  /** Per-group unigram cross-entropy against the WHOLE corpus, in
    * exact integer floor-bits — the "which source doesn't belong in
    * this mix" monitor: a slice whose tokens are corpus-rare scores
    * high, one drawn from the corpus distribution sits near the corpus
    * self-entropy. Complements [[tokenDrift]] (per-token χ² on the top
    * terms) with ONE bounded number per slice, and reuses q153's
    * integer log idiom so any engine replays it bit-for-bit: token
    * probability is p_micro = max(1, (10⁶·c(w)) div N) (the rarer-than
    * -1e-6 floor every real scorer has) and surprise-in-bits is
    * 21 − len(bin(p_micro)) ∈ [1, 20] — floor-log2 via binary-string
    * length, no libm log anywhere.
    *
    * Shape: one explode → one (group, token) count aggregate (map-side
    * combined); corpus counts derive from THAT frame (vocab-bounded,
    * never a second corpus scan); one vocab-keyed join; one
    * group-domain aggregate. Σ cnt·bits ≤ 20·tokens stays in int64 to
    * ~4·10¹⁷ tokens; the ×1000 milli-scaling runs in decimal(38,0).
    *
    * Output: (g, n_tokens, n_types, xent_bits, avg_millibits).
    */
  def sourceCrossEntropy(docs: DataFrame, groupCol: Column,
      textCol: String): DataFrame = {
    val toks = docs.select(groupCol.as("g"),
        explode(Portable.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
    val perGw = toks.groupBy("g", "w").agg(count(lit(1)).as("cnt"))
    val perW = perGw.groupBy("w").agg(sum("cnt").as("c"))
    val tot = perW.agg(sum("c").as("nn"))
    val bits = perW.crossJoin(broadcast(tot))
      .select(col("w"),
        (lit(21L) - length(bin(greatest(
          expr("(1000000 * c) div nn"), lit(1L))))).as("bits"))
    perGw.join(bits, "w")
      .groupBy("g")
      .agg(sum("cnt").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("cnt") * col("bits")).as("xent_bits"))
      .select(col("g"), col("n_tokens"), col("n_types"),
        col("xent_bits"),
        expr("cast((cast(xent_bits as decimal(38,0)) * 1000)" +
          " div n_tokens as bigint)").as("avg_millibits"))
  }

  /** Distinct-n n-gram diversity per group — the generation-quality /
    * template-detection metric (Li et al.'s distinct-1/distinct-2
    * applied corpus-side): for each group and each n in `ns`, the total
    * word n-gram occurrences, the distinct n-gram types, and
    * distinct_ppm = 10⁶·types div occurrences. Low distinct-2 flags
    * boilerplate-heavy or machine-templated sources before they skew a
    * training mix; the complement of [[zipfProfile]] (which shapes the
    * FREQUENCY distribution, while this counts the SUPPORT).
    *
    * N-grams are positional (NOT deduped per doc — occurrences price
    * storage, types price novelty); one explode per n, one exact
    * two-phase distinct aggregate per (group, n) — the type domain is
    * corpus-bounded, the shuffle key is the n-gram itself, so the
    * count-distinct partials shrink map-side like any frequency table.
    *
    * Output: (g, n, total_ngrams, distinct_ngrams, distinct_ppm).
    */
  def ngramDiversity(df: DataFrame, groupCol: Column, textCol: Column,
      ns: Seq[Int]): DataFrame = {
    val base = df.select(groupCol.as("g"),
      Portable.tokens(textCol).as("w"))
    ns.map { n =>
      base.select(col("g"), explode(when(size(col("w")) >= n,
          transform(sequence(lit(0), size(col("w")) - n),
            i => concat_ws(" ", slice(col("w"), i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("ng"))
        .groupBy("g")
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("ng")).as("distinct_ngrams"))
        .select(col("g"), lit(n.toLong).as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          expr("(cast(distinct_ngrams as decimal(38,0)) * 1000000)" +
            " div total_ngrams").cast("long").as("distinct_ppm"))
    }.reduce(_ unionByName _)
  }
  /** PII census — the data-governance inventory run BEFORE q64's
    * redaction: per group and PII pattern class, the total match count
    * and the number of documents hit. Patterns are deliberately simple
    * character-class regexes (emails, dashed phone/SSN shapes) that
    * mean the same thing in Java regex and RE2 — the portability
    * contract that lets the oracle replay them; counts are
    * non-overlapping matches in both engines.
    *
    * Map-only per pattern (one codegen'd regexp_count pass) into one
    * (group × pattern) domain-bounded aggregate each, unioned.
    * Output: (g, pii_type, n_matches, n_docs_hit).
    */
  def piiCensus(df: DataFrame, groupCol: Column, textCol: Column,
      patterns: Seq[(String, String)]): DataFrame =
    patterns.map { case (name, pat) =>
      df.select(groupCol.as("g"),
          regexp_count(textCol, lit(pat)).cast("long").as("m"))
        .groupBy("g")
        .agg(sum("m").as("n_matches"),
          sum(when(col("m") > 0L, 1L).otherwise(0L)).as("n_docs_hit"))
        .select(col("g"), lit(name).as("pii_type"), col("n_matches"),
          col("n_docs_hit"))
    }.reduce(_ unionByName _)

  /** Number-masked template clusters — the structured-boilerplate
    * detector beside [[sentenceBoilerplate]]'s sentence counting:
    * documents whose texts are IDENTICAL once digit runs collapse to
    * `#` (order confirmations, log lines, generated listings) cluster
    * under one 48-bit template key. Reports every template with at
    * least `minDocs` members, its membership, how many distinct
    * ORIGINAL texts it absorbs (= how much the numbers vary), and the
    * smallest member id as the exemplar.
    *
    * One map-side mask+hash, one key-domain aggregate; the hash keys
    * the shuffle on a long instead of the full text ([[graft.operators
    * .Dedup.hashedShingleTable]]'s trick at document granularity).
    * Output: (template_h, n_docs, n_variants, exemplar_id).
    */
  def templateClusters(df: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 2L): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.Portable.hash48(
          regexp_replace(lower(col(textCol)), "[0-9]+", "#"))
          .as("template_h"),
        graft.functions.Portable.hash48(col(textCol)).as("text_h"))
      .groupBy("template_h")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text_h")).as("n_variants"),
        min(col("id")).as("exemplar_id"))
      .filter(col("n_docs") >= minDocs)

  /** Flesch-style readability profile per group — the quality-scoring
    * family's classic surface-statistics member beside the Gopher
    * rules: per document, whitespace words, sentence marks ([.!?]
    * runs, floored at 1 so unpunctuated docs stay defined), and the
    * vowel-group syllable proxy; per group, the document count, mean
    * words-per-doc, and the mean Flesch reading-ease ×1000 computed
    * with the integer formula
    * 206835 − (1015·words) div sentences − (84600·vgroups) div words
    * per doc — no float, so any engine agrees exactly. (The classic
    * coefficients ×1000; the vowel-run syllable count is the standard
    * cheap proxy — scores are comparable BETWEEN groups, which is what
    * a corpus gate uses, not absolute grade levels.)
    *
    * Map-only per doc (three codegen'd regexp/size passes) into one
    * group-domain aggregate. Output: (g, n_docs, avg_words,
    * avg_flesch_milli).
    */
  def readability(df: DataFrame, groupCol: Column,
      textCol: Column): DataFrame =
    df.select(groupCol.as("g"),
        size(Portable.tokens(textCol)).cast("long").as("w"),
        greatest(regexp_count(textCol, lit("[.!?]+")).cast("long"),
          lit(1L)).as("s"),
        greatest(regexp_count(lower(textCol), lit("[aeiouy]+"))
          .cast("long"), lit(1L)).as("v"))
      .filter(col("w") > 0L)
      .withColumn("flesch_milli", expr(
        "206835 - (1015 * w) div s - (84600 * v) div w"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("ws"),
        sum("flesch_milli").as("fs"))
      .select(col("g"), col("n_docs"),
        expr("ws div n_docs").as("avg_words"),
        // fs can be NEGATIVE (dense text) — a signed integral div here
        // would floor in DuckDB but truncate in Spark, so the mean is
        // the one fixed-order 6dp double division of exact sums
        expr("round(cast(fs as double) / cast(n_docs as double), 6)")
          .as("avg_flesch_milli_6dp"))
}
