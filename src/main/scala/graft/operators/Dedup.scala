package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Portable

/** Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup is one hash aggregation on the content key;
  *  - n-gram Jaccard uses the inverted-index candidate join — pairs are
  *    generated per shared shingle, never all-pairs. At 100 TB, prune hot
  *    shingles by document frequency (a stopword-shingle appearing in k
  *    docs contributes k² candidate pairs) before the self-join; AQE's
  *    skew-join splitting handles residual hot keys;
  *  - MinHash+LSH replaces the candidate join's shingle key with banded
  *    signature keys: candidates are pairs agreeing on ≥1 band, so the
  *    join fan-out is controlled by banding parameters (b bands of r rows
  *    ⇒ collision prob ≈ 1-(1-s^r)^b), independent of shingle frequency;
  *  - signatures/simhash are per-row column expressions (codegen, no
  *    shuffle); only the candidate join and the verify join shuffle.
  */
object Dedup {

  /** Exact dedup on a key expression: one representative (min id) per
    * distinct key + group size.
    */
  def exact(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .drop("dedup_key")

  /** Cross-group duplication matrix: for every unordered group pair
    * (sources, crawl snapshots, pipeline stages), the number of exact
    * duplicate document pairs whose members land one in each group —
    * the provenance-overlap report that decides which source to drop
    * when corpora share content. Diagonal cells (`grp_a == grp_b`)
    * count within-group pairs.
    *
    * Computed WITHOUT materializing pairs: one (key, group) count
    * aggregate, then per-key cross-group products `c_a·c_b` and
    * within-group `c·(c−1)/2` — fan-out is distinct groups per key
    * (bounded by the group cardinality), never the k² pair blow-up an
    * inverted-index self-join pays on a hot key. A million-way
    * duplicate contributes one row per group it appears in. An oracle
    * can replay the O(k²) pair-join formulation — agreement then checks
    * the combinatorics, not a shared plan.
    */
  def crossGroupDupMatrix(df: DataFrame, idCol: String, groupCol: String,
      key: Column): DataFrame = {
    val cnt = df.select(col(idCol), col(groupCol).as("grp"),
        key.as("dedup_key"))
      .groupBy("dedup_key", "grp").agg(count(lit(1)).as("c"))
    val cross = cnt.as("a").join(cnt.as("b"),
        col("a.dedup_key") === col("b.dedup_key") &&
          col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        (col("a.c") * col("b.c")).as("np"))
    val within = cnt.filter(col("c") > 1)
      .select(col("grp").as("grp_a"), col("grp").as("grp_b"),
        expr("c * (c - 1) div 2").as("np"))
    cross.unionByName(within)
      .groupBy("grp_a", "grp_b").agg(sum(col("np")).as("n_dup_pairs"))
  }

  /** Ensure the per-document heavy compute (tokenize→shingle→hash) has at
    * least `defaultParallelism` partitions — see [[Spread.ensure]].
    */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    Spread.ensure(df, idCol)

  /** Distinct (id, shingle) inverted-index table. Rows are unique by
    * construction — Portable.shingles array_distincts within the doc
    * before the explode — so no dedup shuffle is needed.
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(df, idCol).select(col(idCol).as("id"),
        explode(Portable.shingles(Portable.tokens(col(textCol)), n)).as("shingle"))

  /** [[shingleTable]] with the shingle replaced by its 48-bit portable
    * hash: one md5 per (doc, shingle) at build time, and every downstream
    * shuffle/join keys on a long instead of an n-word string — ~3× less
    * shuffle volume and cheaper equality at 100 TB. Hash collisions can
    * only merge shingles (2⁻⁴⁸ per pair, deterministic), and the DuckDB
    * oracle hashes identically, so results stay exactly checkable.
    */
  def hashedShingleTable(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleTable(df, idCol, textCol, n)
      .select(col("id"), Portable.hash48(col("shingle")).as("shingle"))

  /** Exact Jaccard pairs ≥ threshold from a PREFIX-FILTERED inverted-
    * index candidate join (the same AllPairs/PPJoin machinery as
    * [[prefixFilterPairs]], which proved lossless against the
    * all-pairs oracle): only each doc's rarest prefix shingles enter
    * the self-join, candidates pass the length + positional-bound
    * filters, and survivors are verified per-row against per-doc sorted
    * token arrays. The OUTPUT is bit-identical to the historical
    * all-pairs formulation — same (id_a, id_b, jac) rows, same rounding
    * — only the candidate set shrinks (round 11 measured 4.26 → 1.42 at
    * the 10× tile for the exact-join variant; this port is the round-12
    * verdict's item 3).
    *
    * The shingle table is consumed several times (prefix sides, sizes,
    * verify arrays); `persist=true` (default) caches it MEMORY_AND_DISK
    * so the corpus is tokenized/hashed once instead of once per
    * consumer.
    *
    * `maxDocFreq`: when set, shingles appearing in more than that many
    * documents are dropped from the inverted index before the self-join
    * (a stopword shingle in k docs contributes k² candidate pairs — the
    * 100 TB scale-killer). Intersections are then counted over the
    * *pruned* shingle sets while union sizes stay exact, so a pair's
    * score can only shrink — by at most (hot shingles shared)/(union).
    * Pick the cap well above the corpus' p99 document frequency and the
    * distortion is negligible; the driver oracle replays the identical
    * rule, so the spec is deterministic and exactly checkable. Prefix
    * lengths compose with the pruning: a doc's prefix is its PRUNED set
    * size minus ⌈t'·full size⌉ + 1 (t' = threshold minus the rounding
    * half-ulp), still lossless because a passing pair's pruned
    * intersection is ≥ ⌈t'·sz⌉ on both sides.
    *
    * The internal caches (shingle table + ranked pruned index) are
    * released at the calling thread's next [[graft.PendingRelease.drain]],
    * after the result has materialized.
    */
  def jaccardPairs(sh: DataFrame, threshold: Double, digits: Int = 4,
      maxDocFreq: Option[Long] = None, persist: Boolean = true): DataFrame = {
    val s = if (persist) sh.persist(StorageLevel.MEMORY_AND_DISK) else sh
    // the ranked index feeds THREE consumers (both self-join sides +
    // the verify arrays); uncached each would recompute the df join +
    // window — measured 2.5× end-to-end at sf0.1. Eagerly materialized
    // so concurrent stages never race the first fill.
    val ri0 = rankedPrunedIndex(s, maxDocFreq)
    val ri = if (persist) {
      val p = ri0.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    } else ri0
    if (persist)
      graft.PendingRelease.defer(() => { s.unpersist(); ri.unpersist(); () })
    val tq = candidateThresholdPpm(threshold, digits)
    val pre = prefixRows(ri, tq)
    // α = ⌈t'·(sz_a+sz_b)/(1+t')⌉: the minimum PRUNED intersection any
    // pair that can still round up to the threshold must reach
    val alpha = expr(s"($tq * (sz_a + sz_b)" +
      s" + ${1000000L + tq} - 1) div ${1000000L + tq}")
    val cand = pre.select(col("id").as("id_a"), col("shingle"),
        col("sz").as("sz_a"), col("szp").as("szp_a"), col("rn").as("rn_a"))
      .join(pre.select(col("id").as("id_b"), col("shingle"),
        col("sz").as("sz_b"), col("szp").as("szp_b"), col("rn").as("rn_b")),
        "shingle")
      // length filter on FULL sizes: J ≥ t' forces t'·max ≤ 10⁶·min
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") * lit(tq) <= col("sz_b") * lit(1000000L) &&
        col("sz_b") * lit(tq) <= col("sz_a") * lit(1000000L))
      .groupBy("id_a", "id_b", "sz_a", "sz_b", "szp_a", "szp_b")
      .agg(count(lit(1)).as("c"),
        max("rn_a").as("ma"), max("rn_b").as("mb"))
      // positional bound over the PRUNED sets (see
      // prefixFilterPairs for the proof; ranks here are pruned-
      // set ranks under the same global (df, shingle) order)
      .filter(col("c") +
        least(col("szp_a") - col("ma"), col("szp_b") - col("mb")) >= alpha)
      .select("id_a", "id_b", "sz_a", "sz_b")
    val docArr = ri.groupBy("id").agg(collect_list(col("shingle")).as("toks"))
    cand
      .join(docArr.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(docArr.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("jac", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), digits))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Candidate-generation threshold in ppm: the final filter is
    * `round(score, digits) >= threshold`, which a score as low as
    * threshold − 0.5·10^(−digits) still passes (HALF_UP), so candidate
    * pruning must run at that looser bar — minus one extra ppm to
    * swallow double-quotient representation noise. Never negative.
    */
  private def candidateThresholdPpm(threshold: Double, digits: Int): Long = {
    val tppm = math.round(threshold * 1000000L)
    val halfUlpPpm = math.ceil(0.5 * math.pow(10.0, 6 - digits)).toLong
    math.max(tppm - halfUlpPpm - 1L, 0L)
  }

  /** The df-annotated, optionally df-pruned inverted index with per-doc
    * prefix ranks — the shared candidate substrate of
    * [[jaccardPairs]] and [[containmentPairs]]:
    * (id, shingle, sz, szp, rn) where `sz` is the doc's FULL distinct-
    * shingle count, `szp` its count surviving the df cap, and `rn` the
    * shingle's 1-based rank within the doc's pruned set under the
    * global (doc-frequency, shingle) order (rarest first). One df
    * aggregate + one id-partitioned window + one colocated size join.
    */
  private def rankedPrunedIndex(s: DataFrame,
      maxDocFreq: Option[Long]): DataFrame = {
    val dfq = s.groupBy("shingle").agg(count(lit(1)).as("dfq"))
    val joined = s.join(dfq, "shingle")
    val idx = maxDocFreq.fold(joined)(cap => joined.filter(col("dfq") <= cap))
    val idw = Window.partitionBy("id")
    val sizes = s.groupBy("id").agg(count(lit(1)).as("sz"))
    idx.withColumn("rn", row_number().over(idw.orderBy("dfq", "shingle")))
      .withColumn("szp", count(lit(1)).over(idw))
      .join(sizes, "id")
      .select("id", "shingle", "sz", "szp", "rn")
  }

  /** Prefix rows of a [[rankedPrunedIndex]]: a doc's rarest
    * szp − ⌈t'·sz⌉ + 1 pruned shingles — the only rows that need to
    * enter the candidate self-join. Lossless for both measures: any
    * pair still able to round up to the threshold has pruned
    * intersection ≥ ⌈t'·sz⌉ against its own FULL size on the side(s)
    * the prefix is applied to (both for Jaccard, the smaller for
    * containment), and skipping the prefix caps the intersection at
    * ⌈t'·sz⌉ − 1.
    */
  private def prefixRows(ri: DataFrame, tq: Long): DataFrame =
    ri.filter(col("rn") <=
      col("szp") - expr(s"($tq * sz + 999999) div 1000000") + lit(1))

  /** Jaccard CONTAINMENT pairs: C = |A∩B| / min(|A|,|B|) ≥ threshold.
    * Containment catches the asymmetric duplicates Jaccard structurally
    * cannot — a short document quoted whole inside a much longer one has
    * C = 1 while J = |A|/|B| ≈ 0, so no Jaccard/MinHash threshold finds
    * it without drowning in false positives. The standard companion pass
    * (Broder's containment sketches) in a corpus dedup stack.
    *
    * Same df-pruning contract as [[jaccardPairs]] (pruning shrinks
    * `inter`, so scores only ever drop); same (id_a, id_b) orientation
    * — the direction of containment is whichever side is smaller,
    * exposed via sz_a/sz_b-free output by design (consumers keep the
    * smaller id's doc or the longer text).
    * Output: (id_a, id_b, containment), id_a < id_b.
    *
    * Candidate generation is the ASYMMETRIC prefix filter: containment
    * bounds C ≥ t' only by the SMALLER side's size (inter ≥ t'·min),
    * so the smaller-by-full-size doc contributes its prefix while the
    * larger side stays fully indexed — every passing pair must share
    * one of the smaller side's rarest szp − ⌈t'·sz⌉ + 1 shingles.
    * There is no length filter (an excerpt inside a 100× longer doc is
    * exactly what this measure exists to find), and only the
    * smaller-side positional bound c + (szp_small − m_small) is valid
    * (a shared token inside the larger side's low ranks need not be a
    * collision, so the symmetric bound of the Jaccard path would be
    * unsound here).
    *
    * Internal caches are released as [[jaccardPairs]]' are.
    */
  def containmentPairs(sh: DataFrame, threshold: Double, digits: Int = 4,
      maxDocFreq: Option[Long] = None, persist: Boolean = true): DataFrame = {
    val s = if (persist) sh.persist(StorageLevel.MEMORY_AND_DISK) else sh
    // same three-consumer caching rationale as jaccardPairs
    val ri0 = rankedPrunedIndex(s, maxDocFreq)
    val ri = if (persist) {
      val p = ri0.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    } else ri0
    if (persist)
      graft.PendingRelease.defer(() => { s.unpersist(); ri.unpersist(); () })
    val tq = candidateThresholdPpm(threshold, digits)
    // smaller side: prefix rows only; larger side: the full pruned index
    val cand = prefixRows(ri, tq).select(col("id").as("id_x"),
        col("shingle"), col("sz").as("sz_x"), col("szp").as("szp_x"),
        col("rn").as("rn_x"))
      .join(ri.select(col("id").as("id_y"), col("shingle"),
        col("sz").as("sz_y")), "shingle")
      // x is the smaller side (full sizes; ties by id) — each unordered
      // pair is generated from exactly one direction
      .filter(col("sz_x") < col("sz_y") ||
        (col("sz_x") === col("sz_y") && col("id_x") < col("id_y")))
      .groupBy("id_x", "id_y", "sz_x", "sz_y", "szp_x")
      .agg(count(lit(1)).as("c"), max("rn_x").as("mx"))
      // smaller-side positional bound vs α = ⌈t'·sz_x⌉ (min = sz_x here)
      .filter(col("c") + (col("szp_x") - col("mx")) >=
        expr(s"($tq * sz_x + 999999) div 1000000"))
      .select("id_x", "id_y", "sz_x", "sz_y")
    val docArr = ri.groupBy("id").agg(collect_list(col("shingle")).as("toks"))
    cand
      .join(docArr.select(col("id").as("id_x"), col("toks").as("tx")), "id_x")
      .join(docArr.select(col("id").as("id_y"), col("toks").as("ty")), "id_y")
      .withColumn("inter",
        size(array_intersect(col("tx"), col("ty"))).cast("long"))
      .withColumn("containment", round(col("inter").cast("double") /
        least(col("sz_x"), col("sz_y")), digits))
      .filter(col("containment") >= threshold)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("containment"))
  }

  /** EXACT Jaccard-threshold pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin candidate rule — Bayardo et al. WWW'07, Xiao et
    * al. WWW'08): only each document's rarest
    * p = |s| − ⌈t·|s|⌉ + 1 shingles (under the global
    * (doc-frequency, shingle) order) enter the inverted-index
    * self-join. The prefix principle guarantees every pair with
    * J ≥ t shares a prefix shingle on BOTH sides, so the candidate set
    * is lossless — unlike MinHash LSH this path misses NOTHING — while
    * the join fans out on the rarest tokens instead of all of them:
    * hot boilerplate shingles land in long documents' suffixes and
    * never generate candidates, the structural fix for the k² hot-key
    * blowup that [[jaccardPairs]] handles with the lossy maxDocFreq
    * cap.
    *
    * Shape: one df aggregate, one per-DOC window for the prefix rank
    * (PARTITIONED by id — never partition-less), the prefix-only
    * self-join with the t·|a| ≤ |b| ≤ |a|/t length filter AND PPJoin's
    * POSITIONAL filter (Xiao et al. WWW'08 §3.2), then the exact
    * intersection count over the candidates' FULL shingle sets and the
    * integral jac_ppm ≥ thresholdPpm verify — floor(10⁶·J) ≥
    * t_ppm ⇔ J ≥ t, so integer division loses no borderline pair.
    *
    * Positional filter (grouped form): both token sets are sorted by
    * the SAME global (df, shingle) order, so every shared token that
    * precedes a pair's LAST prefix collision (ranks i_c, j_c) is
    * itself a prefix collision — giving the exact decomposition
    * overlap ≤ c + min(|a|−i_c, |b|−j_c) with c the collision count.
    * This accumulated bound is provably ≤ every per-collision bound
    * min(i−1,j−1)+1+min(|a|−i,|b|−j) of the streaming PPJoin, and the
    * candidate group-by computes it for free (count + two maxes on
    * the shuffle the plain `distinct()` already paid). A pair needs
    * overlap ≥ α = ⌈t·(|a|+|b|)/(1+t)⌉ to reach J ≥ t; bound < α
    * prunes it before verification. Lossless: the bound is a true
    * upper bound on |A∩B|.
    *
    * Verification joins the surviving pairs against per-doc SORTED
    * TOKEN ARRAYS (one bounded-size array per document — doc-length
    * bounded, never corpus-bounded) and counts the intersection
    * per-row, instead of re-exploding both full shingle sets through
    * a join + count aggregate: candidates × avg-set-size exploded
    * rows (the former dominant stage) collapse to one row per
    * candidate.
    *
    * @param sh        distinct (id, shingle) table
    *                  ([[hashedShingleTable]] — joins key on longs)
    * The shingle cache is released at the calling thread's next
    * [[graft.PendingRelease.drain]].
    *
    * @param thresholdPpm Jaccard threshold × 10⁶
    * @return (id_a, id_b, inter, sz_a, sz_b, jac_ppm), id_a < id_b
    */
  def prefixFilterPairs(sh: DataFrame, thresholdPpm: Long,
      persist: Boolean = true): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm out of (0, 1e6]: $thresholdPpm")
    val s = if (persist) sh.persist(StorageLevel.MEMORY_AND_DISK) else sh
    if (persist) graft.PendingRelease.defer(() => { s.unpersist(); () })
    val dfq = s.groupBy("shingle").agg(count(lit(1)).as("dfq"))
    // sz rides the SAME id-partitioned window as the prefix rank — one
    // exchange instead of a separate groupBy(id) + join back
    val idw = Window.partitionBy("id")
    val pre = s.join(dfq, "shingle")
      .withColumn("rn", row_number().over(idw.orderBy("dfq", "shingle")))
      .withColumn("sz", count(lit(1)).over(idw))
      .filter(col("rn") <=
        col("sz") - expr(s"($thresholdPpm * sz + 999999) div 1000000")
          + lit(1))
      .select("id", "shingle", "sz", "rn")
    // α = ⌈t·(sz_a+sz_b)/(1+t)⌉ in ppm integers — the minimum
    // intersection size any J ≥ t pair must reach
    val alpha = expr(s"($thresholdPpm * (sz_a + sz_b)" +
      s" + ${1000000L + thresholdPpm} - 1) div ${1000000L + thresholdPpm}")
    val cand = pre.select(col("id").as("id_a"), col("shingle"),
        col("sz").as("sz_a"), col("rn").as("rn_a"))
      .join(pre.select(col("id").as("id_b"), col("shingle"),
        col("sz").as("sz_b"), col("rn").as("rn_b")), "shingle")
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") * lit(thresholdPpm) <= col("sz_b") * lit(1000000L) &&
        col("sz_b") * lit(thresholdPpm) <= col("sz_a") * lit(1000000L))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("c"),
        max("rn_a").as("ma"), max("rn_b").as("mb"))
      .filter(col("c") +
        least(col("sz_a") - col("ma"), col("sz_b") - col("mb")) >= alpha)
      .select("id_a", "id_b", "sz_a", "sz_b")
    // per-doc token arrays: doc-length bounded (a document's distinct
    // shingle count), never corpus-bounded — safe row width at any SF
    val docArr = s.groupBy("id").agg(collect_list(col("shingle")).as("toks"))
    cand
      .join(docArr.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(docArr.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("jac_ppm",
        expr("(cast(inter as decimal(38,0)) * 1000000)" +
          " div (sz_a + sz_b - inter)").cast("long"))
      .filter(col("jac_ppm") >= thresholdPpm)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jac_ppm")
  }

  /** EXACT Jaccard DELTA join via prefix filtering — the arrival-time
    * counterpart of [[prefixFilterPairs]], the way
    * [[minhashLshPairsDelta]] is q22's: a FRESH batch probes the
    * standing corpus, and candidates fan out only from the fresh side's
    * prefixes (fresh×corpus ∪ fresh×fresh, never corpus×corpus) — the
    * 1 TB-arrival-vs-100 TB-corpus shape, with the LSH delta's recall
    * risk replaced by a losslessness GUARANTEE.
    *
    * The prefix principle needs both sides ranked under ONE fixed total
    * order, so the (document-frequency, shingle) order is computed over
    * the UNION — any fixed order is valid for correctness (df is only
    * the selectivity heuristic), and the union df is the same O(data)
    * aggregate the batch operator pays. Each unordered pair is
    * generated once: fresh prefixes join ALL prefixes, and a fresh
    * right side additionally requires id_left < id_right (corpus right
    * sides are kept unconditionally — the corpus side never initiates).
    * Length filter, grouped positional bound, and per-doc-array
    * verification are [[prefixFilterPairs]]'s verbatim; the
    * output is that operator's restricted to pairs with ≥ 1 fresh
    * member (the q232 oracle replays the ALL-pairs SQL with exactly
    * that restriction, so a hash match proves the one-sided candidate
    * join loses nothing).
    *
    * `shCorpus` / `shFresh`: distinct (id, shingle) tables
    * ([[hashedShingleTable]]) with disjoint id domains.
    * Output: (id_a, id_b, inter, sz_a, sz_b, jac_ppm), id_a < id_b.
    * Internal caches are released as [[prefixFilterPairs]]' are.
    */
  def prefixFilterPairsDelta(shCorpus: DataFrame, shFresh: DataFrame,
      thresholdPpm: Long, persist: Boolean = true): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm out of (0, 1e6]: $thresholdPpm")
    val s0 = shCorpus.withColumn("_f", lit(false))
      .unionByName(shFresh.withColumn("_f", lit(true)))
    val s = if (persist) s0.persist(StorageLevel.MEMORY_AND_DISK) else s0
    val dfq = s.groupBy("shingle").agg(count(lit(1)).as("dfq"))
    val idw = Window.partitionBy("id")
    val pre0 = s.join(dfq, "shingle")
      .withColumn("rn", row_number().over(idw.orderBy("dfq", "shingle")))
      .withColumn("sz", count(lit(1)).over(idw))
      .filter(col("rn") <=
        col("sz") - expr(s"($thresholdPpm * sz + 999999) div 1000000")
          + lit(1))
      .select("id", "shingle", "sz", "rn", "_f")
    // the prefix frame feeds both candidate sides; cached so the window
    // pipeline runs once (same rationale as rankedPrunedIndex)
    val pre = if (persist) {
      val p = pre0.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    } else pre0
    if (persist)
      graft.PendingRelease.defer(() => { s.unpersist(); pre.unpersist(); () })
    val docArr = s.groupBy("id").agg(collect_list(col("shingle")).as("toks"))
    oneSidedPrefixPairs(pre.filter(col("_f")),
      pre.filter(!col("_f")), docArr, thresholdPpm)
  }

  /** Prefix-store FORMAT version (ContentGate tag component — see
    * [[graft.operators.AnnIndex.FormatVersion]] for the rationale).
    */
  val PrefixStoreVersion = 1

  /** Build (or refresh) the BUCKETED persisted prefix index that
    * [[prefixStoreProbeDelta]] probes — the standing-corpus half of the
    * q232 delta join, derived ONCE behind a fingerprint gate instead of
    * recomputed per arrival (round 12 measured the recompute at 12 s vs
    * 7.3 s for an UNbucketed store probe at the 10× tile; the unbucketed
    * layout was corpus-scan-bound and reverted — this is its pruned
    * successor).
    *
    * Layout under `dir` (all parquet, all hive-partitioned for static
    * pruning):
    *   df/b=K/   (shingle, dfq)      corpus document frequencies,
    *                                 K = pmod(shingle, buckets)
    *   pre/b=K/  (id, shingle, sz, rn)  prefix rows ranked under the
    *                                 CORPUS (dfq, shingle) order
    *   arr/ab=K/ (id, toks, sz)      per-doc sorted-set arrays,
    *                                 K = pmod(id, buckets)
    *   META      "shingleN,thresholdPpm,buckets"
    *
    * A probe touches only the df/pre buckets its own shingles hash to —
    * at 1 TB-arrival-vs-100 TB-corpus scale most buckets stay cold, and
    * within touched buckets parquet min/max skipping prunes further.
    * The stored ranks are valid for any arrival because the prefix
    * principle only needs ONE shared total order: g → (dfq_corpus(g), g)
    * with dfq_corpus = 0 for unseen grams ranks both sides consistently
    * (df is the selectivity heuristic, not a correctness input — see
    * [[prefixFilterPairsDelta]]).
    */
  def prefixStoreEnsure(corpus: DataFrame, idCol: String, textCol: String,
      shingleN: Int, thresholdPpm: Long, dir: String, buckets: Int = 32,
      freshnessTag: Option[String] = None): Unit = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm out of (0, 1e6]: $thresholdPpm")
    require(buckets > 0, s"buckets: $buckets")
    val tag = freshnessTag.getOrElse(
      ContentGate.tag(corpus, col(idCol), col(textCol), lit(true))) +
      s";n=$shingleN;t=$thresholdPpm;b=$buckets;v=$PrefixStoreVersion"
    ContentGate.ensure(dir, tag) {
      val sh = hashedShingleTable(corpus, idCol, textCol, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // repartition by the partition column before every write: a
        // partitionBy write from T tasks otherwise fans out to T files
        // PER bucket dir (buckets × tasks tiny files), and the probe
        // pays the listing + open of every one — measured 2× SLOWER
        // than the recompute path before this
        val bkt = pmod(col("shingle"), lit(buckets.toLong))
        val dfq = sh.groupBy("shingle").agg(count(lit(1)).as("dfq"))
        dfq.withColumn("b", bkt).repartition(col("b"))
          .write.mode("overwrite").partitionBy("b").parquet(s"$dir/df")
        val idw = Window.partitionBy("id")
        sh.join(dfq, "shingle")
          .withColumn("rn", row_number().over(idw.orderBy("dfq", "shingle")))
          .withColumn("sz", count(lit(1)).over(idw))
          .filter(col("rn") <=
            col("sz") - expr(s"($thresholdPpm * sz + 999999) div 1000000")
              + lit(1))
          .select(col("id"), col("shingle"), col("sz"), col("rn"), bkt.as("b"))
          .repartition(col("b"))
          .write.mode("overwrite").partitionBy("b").parquet(s"$dir/pre")
        sh.groupBy("id")
          .agg(collect_list(col("shingle")).as("toks"),
            count(lit(1)).as("sz"))
          .withColumn("ab", pmod(col("id"), lit(buckets.toLong)))
          .repartition(col("ab"))
          .write.mode("overwrite").partitionBy("ab").parquet(s"$dir/arr")
        ContentGate.writeSmall(dir, "META",
          s"$shingleN,$thresholdPpm,$buckets")
      } finally { sh.unpersist(); () }
    }
  }

  /** Exact-Jaccard DELTA pairs of a fresh batch against a
    * [[prefixStoreEnsure]] store — output identical to
    * [[prefixFilterPairsDelta]] over (stored corpus, fresh):
    * candidate sets may differ by ranking order, but the prefix
    * principle holds under any shared total order and the exact verify
    * makes the final pairs order-independent. Fresh ids must be
    * disjoint from the stored corpus ids (the delta contract).
    *
    * The only driver-side collects are two bounded touched-bucket lists
    * (each ≤ `buckets` longs): the fresh shingles' hash buckets prune
    * the df/pre reads statically, and the surviving candidate pairs'
    * id-buckets prune the arr/ verify read — the probe never scans
    * untouched buckets on either side and never recomputes corpus
    * shingles, ranks, or arrays.
    */
  def prefixStoreProbeDelta(fresh: DataFrame, idCol: String,
      textCol: String, dir: String): (DataFrame, () => Unit) = {
    val spark = fresh.sparkSession
    val meta = ContentGate.readSmall(dir, "META").getOrElse(
      throw new IllegalArgumentException(s"prefix store $dir has no META"))
      .trim.split(",")
    val (shingleN, thresholdPpm, buckets) =
      (meta(0).toInt, meta(1).toLong, meta(2).toInt)
    val shF = hashedShingleTable(fresh, idCol, textCol, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cleanup = () => { shF.unpersist(); () }
    val touched = shF
      .select(pmod(col("shingle"), lit(buckets.toLong)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val dfC = spark.read.parquet(s"$dir/df")
      .filter(col("b").isin(touched: _*)).select("shingle", "dfq")
    val idw = Window.partitionBy("id")
    // Unseen grams rank LAST, not first: the shared order is
    // g → (dfq_corpus(g), g) with dfq_corpus(g) = +∞ when g is absent
    // from the corpus — corpus rows never sample the unseen branch, so
    // the stored ranks stay valid, and the lemma holds under any total
    // order. Ranking unseen FIRST (df=0) is catastrophically degenerate
    // for real arrivals: a novel gram shared across the batch (a new
    // boilerplate suffix, a crawl stamp) would enter EVERY fresh
    // prefix and blow the fresh×fresh candidate join quadratic —
    // measured 5.9M candidates vs ~20k for the same fixture.
    val preF = shF.join(dfC, Seq("shingle"), "left")
      .withColumn("dfq", coalesce(col("dfq"), lit(Long.MaxValue)))
      .withColumn("rn", row_number().over(idw.orderBy("dfq", "shingle")))
      .withColumn("sz", count(lit(1)).over(idw))
      .filter(col("rn") <=
        col("sz") - expr(s"($thresholdPpm * sz + 999999) div 1000000")
          + lit(1))
      .select("id", "shingle", "sz", "rn")
    val preC = spark.read.parquet(s"$dir/pre")
      .filter(col("b").isin(touched: _*))
      .select("id", "shingle", "sz", "rn")
    // verify-side pruning: candidate PAIRS are materialized first
    // (arrival-sized — the prefix filter's whole point), then the arr/
    // store is read only in the id-buckets the candidates' ids hash to
    // (second bounded collect, ≤ buckets longs) — the verify side never
    // scans untouched ab= buckets. Fresh ids resolve from the cached
    // shingle frame, not the store (delta ids are disjoint by contract).
    val cand = oneSidedPrefixCandidates(preF, preC, thresholdPpm)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cleanupAll = () => { cleanup(); cand.unpersist(); () }
    val touchedAb = cand.select(explode(array(
        pmod(col("id_a"), lit(buckets.toLong)),
        pmod(col("id_b"), lit(buckets.toLong)))).as("ab"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val arrs = spark.read.parquet(s"$dir/arr")
      .filter(col("ab").isin(touchedAb: _*)).select("id", "toks")
      .unionByName(
        shF.groupBy("id").agg(collect_list(col("shingle")).as("toks")))
    (verifyCandidatePairs(cand, arrs, thresholdPpm), cleanupAll)
  }

  /** Fresh-initiated candidate join + positional prune + array verify —
    * the core of [[prefixFilterPairsDelta]]. `preF`/`preC` are
    * prefix rows
    * (id, shingle, sz, rn) with ranks under ONE shared total order;
    * `arrs` holds every doc's full token array (id, toks). Generates
    * each fresh-involving unordered pair once: fresh prefixes join all
    * prefixes, a fresh right side additionally requires
    * id_left < id_right.
    */
  private def oneSidedPrefixPairs(preF: DataFrame, preC: DataFrame,
      arrs: DataFrame, thresholdPpm: Long): DataFrame =
    verifyCandidatePairs(
      oneSidedPrefixCandidates(preF, preC, thresholdPpm), arrs, thresholdPpm)

  /** The candidate half of [[oneSidedPrefixPairs]]: survivor pairs
    * (id_a, id_b, sz_a, sz_b) of the prefix + positional filters, before
    * the array verify.
    */
  private def oneSidedPrefixCandidates(preF: DataFrame, preC: DataFrame,
      thresholdPpm: Long): DataFrame = {
    val alpha = expr(s"($thresholdPpm * (sz_a + sz_b)" +
      s" + ${1000000L + thresholdPpm} - 1) div ${1000000L + thresholdPpm}")
    val right = preC.withColumn("_fr", lit(false))
      .unionByName(preF.withColumn("_fr", lit(true)))
    val cand = preF
      .select(col("id").as("id_l"), col("shingle"),
        col("sz").as("sz_l"), col("rn").as("rn_l"))
      .join(right.select(col("id").as("id_r"), col("shingle"),
        col("sz").as("sz_r"), col("rn").as("rn_r"), col("_fr")),
        "shingle")
      .filter(col("id_l") =!= col("id_r") &&
        (!col("_fr") || col("id_l") < col("id_r")) &&
        col("sz_l") * lit(thresholdPpm) <= col("sz_r") * lit(1000000L) &&
        col("sz_r") * lit(thresholdPpm) <= col("sz_l") * lit(1000000L))
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        when(col("id_l") < col("id_r"), col("sz_l")).otherwise(col("sz_r"))
          .as("sz_a"),
        when(col("id_l") < col("id_r"), col("sz_r")).otherwise(col("sz_l"))
          .as("sz_b"),
        when(col("id_l") < col("id_r"), col("rn_l")).otherwise(col("rn_r"))
          .as("rn_a"),
        when(col("id_l") < col("id_r"), col("rn_r")).otherwise(col("rn_l"))
          .as("rn_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("c"),
        max("rn_a").as("ma"), max("rn_b").as("mb"))
      .filter(col("c") +
        least(col("sz_a") - col("ma"), col("sz_b") - col("mb")) >= alpha)
      .select("id_a", "id_b", "sz_a", "sz_b")
    cand
  }

  /** The exact-Jaccard verify half: join each candidate pair to both
    * docs' full token arrays and keep pairs at/above the threshold.
    */
  private def verifyCandidatePairs(cand: DataFrame, arrs: DataFrame,
      thresholdPpm: Long): DataFrame =
    cand
      .join(arrs.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("jac_ppm",
        expr("(cast(inter as decimal(38,0)) * 1000000)" +
          " div (sz_a + sz_b - inter)").cast("long"))
      .filter(col("jac_ppm") >= thresholdPpm)
      .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jac_ppm")

  /** MinHash signatures via grouped aggregation: sig[i] = min over
    * shingles of ((2i+1)·h + 12289·i) mod P, h = hash48(shingle) mod P.
    * Documents shorter than the shingle width hash the whole text.
    *
    * Formulated as explode → one md5 per (doc, shingle) → a single
    * hash-aggregate computing all `numHashes` mins at once (one shuffle
    * on id). The tempting per-row nested-higher-order-function version
    * re-evaluates the tokenize→shingle→md5 pipeline once per hash
    * function and per downstream consumer (CollapseProject inlines it) —
    * measured ~20× slower at bench scale.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame =
    minhashSignaturesFrom(
      shingleTable(df, idCol, textCol, shingleN), df, idCol, textCol, numHashes)

  /** MinHash signatures derived from a prebuilt (id, shingle) table, so
    * one persisted shingle frame feeds both signature and verify paths
    * (one corpus scan, not two). With `alreadyHashed` the shingle column
    * holds hash48 values ([[hashedShingleTable]]) and is only reduced
    * mod P. Documents absent from `sh` (shorter than the shingle width)
    * fall back to hashing the whole lowercased text — the same
    * single-element semantics as hashing a one-shingle set.
    */
  def minhashSignaturesFrom(sh: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, numHashes: Int,
      alreadyHashed: Boolean = false): DataFrame = {
    def minCols(h: Column) = (0 until numHashes).map { i =>
      (h * (i * 2 + 1) + lit(12289L) * i) % Portable.P
    }
    val hashExpr =
      if (alreadyHashed) col("shingle") % Portable.P
      else Portable.hash48p(col("shingle"))
    val aggCols = minCols(col("h")).zipWithIndex.map { case (c, i) => min(c).as(s"s_$i") }
    val sigs = sh.select(col("id"), hashExpr.as("h"))
      .groupBy("id").agg(aggCols.head, aggCols.tail: _*)
    val fallback = docs
      .select(col(idCol).as("id"), Portable.hash48p(lower(col(textCol))).as("h"))
      .join(sh.select("id").distinct(), Seq("id"), "left_anti")
    val fallbackSigs = fallback.select(
      col("id") +: minCols(col("h")).zipWithIndex.map { case (c, i) => c.as(s"s_$i") }: _*)
    sigs.unionByName(fallbackSigs)
  }

  /** (id, band, band_key) frame: the LSH bucketing of a signature. */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame =
    lshBandsFrom(
      minhashSignatures(df, idCol, textCol, shingleN, numHashes), numHashes, bands)

  /** LSH band bucketing of a prebuilt signature frame. */
  def lshBandsFrom(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rpb = numHashes / bands
    val bandEntries = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (b * rpb until (b + 1) * rpb).map(i => col(s"s_$i")): _*)
          .as("band_key"))
    }
    sigs.select(col("id"), explode(array(bandEntries: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Full MinHash-LSH near-dup pipeline: band-collision candidates,
    * verified with exact shingle Jaccard ≥ threshold.
    *
    * `persist=true` (default) caches the shingle table MEMORY_AND_DISK —
    * it feeds the signature aggregation, both verify sides, and the size
    * counts, so the corpus is tokenized/hashed once — plus the small band
    * table (both sides of the candidate join). The caches are released
    * as [[jaccardPairs]]' are.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, digits: Int = 4,
      persist: Boolean = true,
      maxBucket: Option[Long] = None): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val sh0 = hashedShingleTable(df, idCol, textCol, shingleN)
    val sh = if (persist) sh0.persist(lvl) else sh0
    val sigs = minhashSignaturesFrom(sh, df, idCol, textCol, numHashes,
      alreadyHashed = true)
    val bands0 = lshBandsFrom(sigs, numHashes, bands)
    val bandsAll = if (persist) bands0.persist(lvl) else bands0
    // Hot-bucket cap: a band bucket of n docs contributes C(n,2)
    // candidates, so one pathologically shared band key (boilerplate
    // suffix, template page, degenerate signature) turns the candidate
    // join quadratic in that bucket's size — the round-10 scale run
    // measured exactly this mode on a hot shared 3-gram. With
    // `maxBucket`, buckets past the cap are SKIPPED (one bounded
    // aggregate + a broadcast-able anti-join): a true near-dup pair is
    // lost only if EVERY one of its band buckets is hot, the standard
    // recall trade every production LSH dedup makes. None = off
    // (bit-identical to the uncapped operator).
    val bandsDf = maxBucket match {
      case Some(cap) =>
        val hot = bandsAll.groupBy("band", "band_key")
          .agg(count(lit(1)).as("n")).filter(col("n") > cap)
          .select("band", "band_key")
        val capped = bandsAll
          .join(broadcast(hot), Seq("band", "band_key"), "left_anti")
        // cache the CAPPED frame: the candidate self-join consumes it
        // twice, and without this the hot-bucket aggregate (a full
        // shuffle of every band row) and the anti-join replay once per
        // side — the cap screen was the scale artifact's worst ratio
        // (4.49 at the 10× tile) precisely because its bounding
        // machinery ran double
        if (persist) capped.persist(lvl) else capped
      case None => bandsAll
    }
    if (persist) graft.PendingRelease.defer(() => {
      sh.unpersist(); bandsAll.unpersist()
      if (maxBucket.isDefined) bandsDf.unpersist()
      ()
    })
    val cand = bandsDf.as("a").join(bandsDf.as("b"), Seq("band", "band_key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    arrayVerify(cand, sh, threshold, digits)
  }

  /** Exact-Jaccard verification of banded candidates against per-doc
    * shingle ARRAYS: one aggregate of the shingle table feeds two
    * candidate-keyed joins, instead of re-exchanging the full
    * (id, shingle) table through the candidate join twice — the r11
    * prefix-family win ([[prefixFilterPairs]]), ported to the
    * LSH cores (measured: the verify stage was ~40% of q180's wall at
    * the 10× tile). Values are identical: the collected lists ARE the
    * per-doc distinct shingle sets the join+count counted.
    */
  private def arrayVerify(cand: DataFrame, sh: DataFrame,
      threshold: Double, digits: Int): DataFrame = {
    val docArr = sh.groupBy("id").agg(
      collect_list(col("shingle")).as("toks"), count(lit(1)).as("sz"))
    cand
      .join(docArr.select(col("id").as("id_a"),
        col("toks").as("ta"), col("sz").as("sz_a")), "id_a")
      .join(docArr.select(col("id").as("id_b"),
        col("toks").as("tb"), col("sz").as("sz_b")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("jac", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), digits))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Incremental MinHash-LSH: near-dup pairs INTRODUCED by a batch of
    * freshly-arriving documents — fresh×corpus and fresh×fresh, never
    * corpus×corpus. The streaming-ingest dedup shape: when 1 TB arrives
    * against a 100 TB corpus, the candidate join fans out only over the
    * fresh documents' band buckets; the corpus side contributes its
    * (persistable) shingle + band frames but is never self-joined. The
    * corpus-side frames are recomputed here from `corpus` — a deployment
    * keeps them as a persisted index and unions in each batch's
    * signatures, which is exactly the two-sided structure this method
    * has (each side's shingles/signatures/bands are derived
    * independently, so swapping the corpus side for stored frames is a
    * drop-in).
    *
    * Pair set == [[minhashLshPairs]] over (corpus ∪ fresh) restricted to
    * pairs with ≥1 fresh side (band-collision criterion and exact-
    * Jaccard verify are identical; ExtensionOpsSpec pins the equality).
    * Output: (id_a, id_b, jac) with id_a < id_b. Internal caches are
    * released as [[minhashLshPairs]]' are.
    */
  def minhashLshPairsDelta(corpus: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, threshold: Double = 0.5, digits: Int = 4,
      persist: Boolean = true): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val shC0 = hashedShingleTable(corpus, idCol, textCol, shingleN)
    val shF0 = hashedShingleTable(fresh, idCol, textCol, shingleN)
    val shC = if (persist) shC0.persist(lvl) else shC0
    val shF = if (persist) shF0.persist(lvl) else shF0
    val bandsC0 = lshBandsFrom(
      minhashSignaturesFrom(shC, corpus, idCol, textCol, numHashes,
        alreadyHashed = true), numHashes, bands)
    val bandsF0 = lshBandsFrom(
      minhashSignaturesFrom(shF, fresh, idCol, textCol, numHashes,
        alreadyHashed = true), numHashes, bands)
    val bandsC = if (persist) bandsC0.persist(lvl) else bandsC0
    val bandsF = if (persist) bandsF0.persist(lvl) else bandsF0
    if (persist) graft.PendingRelease.defer(() => {
      shC.unpersist(); shF.unpersist(); bandsC.unpersist(); bandsF.unpersist()
      ()
    })
    minhashLshPairsFromFrames(shC, bandsC, shF, bandsF, threshold, digits)
  }

  /** Delta near-dup pairs from PRE-BUILT index frames — the deployment
    * form of [[minhashLshPairsDelta]]: `shC`/`bandsC` are the
    * standing corpus index ((id, shingle) and (id, band, band_key), e.g.
    * parquet maintained by [[graft.streaming.StreamingDedup]]); `shF`/
    * `bandsF` are the arriving batch's frames. One-sided candidate join:
    * fresh bands probe ALL bands — a pair (old, new) or (new, new) is
    * found iff it collides in ≥1 band, the identical criterion to the
    * batch operator; least/greatest normalizes orientation and the
    * distinct collapses multi-band hits. Verification is the exact
    * shingle Jaccard over both sides. Callers own the persistence of all
    * four frames.
    */
  def minhashLshPairsFromFrames(shC: DataFrame, bandsC: DataFrame,
      shF: DataFrame, bandsF: DataFrame, threshold: Double,
      digits: Int = 4): DataFrame = {
    val allBands = bandsC.unionByName(bandsF)
    val cand = bandsF.as("a").join(allBands.as("b"), Seq("band", "band_key"))
      .filter(col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    arrayVerify(cand, shC.unionByName(shF), threshold, digits)
  }

  /** SimHash near-dup pairs at scale: split each 32-bit simhash into 4
    * bytes and generate candidates from pairs agreeing on ≥1 byte — by
    * pigeonhole, every pair within Hamming distance 3 shares at least
    * one intact byte, so the candidate set is COMPLETE for
    * `maxHamming ≤ 3` (the useful simhash near-dup radius) while the
    * join fans out per byte bucket, never all-pairs. Verification is the
    * exact popcount of the XOR — one codegen'd expression. Output:
    * (id_a, id_b, hamming).
    *
    * Scale note: 4 bands × 256 keys is only 1024 buckets — corpora whose
    * token statistics cluster (templated text) produce hot byte values
    * and the bucket join degrades toward k² on those buckets. At 100 TB
    * use a wider simhash (64-bit, 8 bands — same pigeonhole bound at
    * radius 7) so buckets stay selective, and let AQE's skew-join
    * splitting absorb residual hot keys.
    *
    * The internal simhash table feeds BOTH sides of the band self-join,
    * so it is cached (without the cache the tokenize→hash→32-majority-
    * agg pipeline, the expensive part, executes twice) and released at
    * the calling thread's next [[graft.PendingRelease.drain]].
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, persist: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming=$maxHamming: 4-byte banding is only candidate-complete " +
        "for Hamming distance <= 3 (pigeonhole); larger radii would return " +
        "a silently incomplete pair set")
    val sims0 = simhashTable(df, idCol, textCol, 32)
    val sims = if (persist) sims0.persist(StorageLevel.MEMORY_AND_DISK) else sims0
    if (persist) graft.PendingRelease.defer(() => { sims.unpersist(); () })
    val bandArr = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), b * 8) % 256).as("key"))
    }: _*)
    val bands = sims.select(col("id"), col("simhash"), explode(bandArr).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-dup pair list — the dedup endgame:
    * pairs say "these two are duplicates", components say "keep ONE
    * representative per duplicate CLUSTER" (transitively: a~b, b~c ⇒
    * {a,b,c} even if a~c was never emitted). Iterative min-label
    * propagation: every vertex repeatedly takes the minimum label among
    * itself and its neighbors until a fixpoint — each round is one
    * hash-join + aggregation (fully distributed), and the round count is
    * the cluster diameter, which for dup clusters is small. Each round's
    * labels are localCheckpoint-ed — iterative self-referencing plans
    * otherwise grow a lineage the optimizer re-analyzes exponentially —
    * and the per-round convergence check is one count, the only
    * driver-side step. Round N−1's checkpoint blocks are released as
    * soon as round N's convergence count has consumed them
    * ([[Lineage.checkpointTracked]]), so live checkpoint storage stays
    * O(nodes) regardless of the round count. The two checkpoint frames
    * the result still reads from (the symmetrized edge list and the
    * final labels) are released at the calling thread's next
    * [[graft.PendingRelease.drain]]; the result cannot be recomputed
    * afterwards (checkpoints truncate lineage).
    * Output: (id, comp) with comp = min id reachable.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val (edges, releaseEdges) = Lineage.checkpointTracked(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var (labels, releaseLabels) = Lineage.checkpointTracked(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("nb_comp")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nb_comp")).as("nb_min"))
      val (next, releaseNext) = Lineage.checkpointTracked(
        labels.join(nbMin, Seq("id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nb_min"), col("comp"))).as("comp")))
      changed = next.join(labels.withColumnRenamed("comp", "prev"), "id")
        .filter(col("comp") =!= col("prev")).count()
      // the convergence count was round N−1's last consumer
      releaseLabels()
      labels = next
      releaseLabels = releaseNext
      iter += 1
    }
    if (changed > 0) {
      releaseLabels(); releaseEdges()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — the pair graph has a " +
          "cluster with diameter > maxIter; rerun with a larger maxIter " +
          "rather than consuming non-converged (wrong) labels")
    }
    val releaseFinal = releaseLabels
    graft.PendingRelease.defer(() => { releaseFinal(); releaseEdges() })
    labels
  }

  /** SimHash over distinct tokens: bit b of the result is set iff the
    * majority of token hashes have bit b set. Pure column expression —
    * fine for a handful of rows, but the `bits` filter lambdas re-inline
    * the token-hash pipeline per bit (interpreted, ~bits× recompute); for
    * table-scale use [[simhashTable]].
    */
  def simhash(textCol: Column, bits: Int = 32): Column = {
    val ht = transform(array_distinct(Portable.tokens(textCol)),
      t => Portable.hash48(t))
    val n = size(ht)
    (0 until bits).map { b =>
      val cnt = size(filter(ht, h => (shiftright(h, b) % 2) === 1))
      when(cnt * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash as explode → ONE grouped aggregation: each distinct token is
    * hashed once, the per-bit majority counts are codegen'd sum
    * aggregates sharing a single shuffle on id. Same results as
    * [[simhash]]; the scalable formulation (cf. minhashSignatures).
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val hashed = spread(df, idCol)
      .select(col(idCol).as("id"),
        explode(array_distinct(Portable.tokens(col(textCol)))).as("t"))
      .select(col("id"), Portable.hash48(col("t")).as("h"))
    val aggs = count(lit(1)).as("n") +:
      (0 until bits).map(b => sum(shiftright(col("h"), b) % 2).as(s"c_$b"))
    hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until bits).map { b =>
          when(col(s"c_$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** 64-bit SimHash as TWO independent 32-bit words (`sim_hi`, `sim_lo`):
    * the low word votes over bits of hash48(t), the high word over bits
    * of hash48(t || "#w1") — an independent member of the same md5 hash
    * family. Two longs instead of one 64-bit value because bit 63 is the
    * Long sign bit, whose literal (2⁶³) parses as HUGEINT in engines with
    * 128-bit integers and silently changes the arithmetic — two 32-bit
    * words sidestep the portability trap and band just as well.
    *
    * Same plan shape as [[simhashTable]] (the formulation the 32-bit
    * operator settled on): explode distinct tokens → ONE grouped
    * aggregation carrying 64 codegen'd majority counters, single shuffle
    * on id. Use for template-heavy corpora where 32-bit buckets go hot
    * (see the scale note on [[simhashPairs]]).
    */
  def simhash64Table(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = spread(df, idCol)
      .select(col(idCol).as("id"),
        explode(array_distinct(Portable.tokens(col(textCol)))).as("t"))
      .select(col("id"), Portable.hash48(col("t")).as("h0"),
        Portable.hash48(concat(col("t"), lit("#w1"))).as("h1"))
    val aggs = count(lit(1)).as("n") +:
      ((0 until 32).map(b => sum(shiftright(col("h0"), b) % 2).as(s"lo_$b")) ++
        (0 until 32).map(b => sum(shiftright(col("h1"), b) % 2).as(s"hi_$b")))
    def word(prefix: String) = (0 until 32).map { b =>
      when(col(s"${prefix}_$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), word("hi").as("sim_hi"), word("lo").as("sim_lo"))
  }

  /** 64-bit SimHash near-dup pairs: 8 bands of 8 bits (4 bytes per word)
    * — by pigeonhole, candidate-complete up to Hamming distance 7 over
    * the full 64 bits, twice the radius of the 32-bit [[simhashPairs]]
    * with the same per-band selectivity. Verification is the exact
    * two-word popcount sum. Output: (id_a, id_b, hamming).
    */
  def simhashPairs64(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, persist: Boolean = true)
      : (DataFrame, () => Unit) =
    hammingPairs64(
      simhash64Table(df, idCol, textCol)
        .select(col("id"), col("sim_hi").as("hi"), col("sim_lo").as("lo")),
      maxHamming, persist)

  /** Banded Hamming near-dup pairs over ANY 64-bit signature frame
    * (`id`, `hi`, `lo` — two 32-bit words): 8 bands of 8 bits, by
    * pigeonhole candidate-complete up to Hamming distance 7, exact
    * two-word popcount verify, never all-pairs. The shared backend of
    * [[simhashPairs64]] (text signatures) and
    * [[Multimodal.perceptualHashes]] (image aHash signatures) — any
    * fixed-width fingerprint dedups through the same plan. Output:
    * (id_a, id_b, hamming).
    */
  def hammingPairs64(sims0: DataFrame, maxHamming: Int = 7,
      persist: Boolean = true): (DataFrame, () => Unit) = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming=$maxHamming: 8-band/8-bit banding is only " +
        "candidate-complete for Hamming distance <= 7 (pigeonhole)")
    val sims = if (persist) sims0.persist(StorageLevel.MEMORY_AND_DISK) else sims0
    val cleanup = () => if (persist) { sims.unpersist(); () }
    val bandArr = array((0 until 8).map { b =>
      val w = if (b < 4) col("lo") else col("hi")
      struct(lit(b).as("band"),
        (shiftright(w, (b % 4) * 8) % 256).as("key"))
    }: _*)
    val banded = sims.select(col("id"), col("hi"), col("lo"),
      explode(bandArr).as("bk"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.hi").as("ha"), col("a.lo").as("la"),
        col("b.hi").as("hb"), col("b.lo").as("lb"))
      .distinct()
    val pairs = cand
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    (pairs, cleanup)
  }

  /** LSH banding calibration report — the tuning surface for
    * [[minhashLshPairs]]'s (numHashes, bands) choice: per exact-Jaccard
    * DECILE of the candidate pairs the banding actually surfaced, the
    * observed pair count next to the S-curve catch probability
    * 1 − (1 − s^r)^b at the decile midpoint. Read it before committing
    * a parameter pair to a 100 TB run: a fat low-decile tail means the
    * bands are too loose (wasted verify work), a theoretical catch
    * probability ≪ 1 at the target threshold means they are too tight
    * (missed near-dups).
    *
    * Everything observed is computed ONLY over band-collision
    * candidates — the report never needs the all-pairs ground truth,
    * so it scales exactly as far as the dedup pass itself. The decile
    * is the exact integer `(inter·10) div union` (never the rounded
    * double); the S-curve value is a one-shot IEEE chain of literal
    * multiplications (no pow(), whose libm rounding varies across
    * engines), micro-scaled to an exact Long.
    * Output: (decile, n_pairs, catch_p_micro), observed deciles only.
    */
  def lshCalibration(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      persist: Boolean = true): (DataFrame, () => Unit) = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val rpb = numHashes / bands
    require(rpb * bands == numHashes, s"bands=$bands must divide $numHashes")
    val sh0 = hashedShingleTable(df, idCol, textCol, shingleN)
    val sh = if (persist) sh0.persist(lvl) else sh0
    val sigs = minhashSignaturesFrom(sh, df, idCol, textCol, numHashes,
      alreadyHashed = true)
    val bands0 = lshBandsFrom(sigs, numHashes, bands)
    val bandsDf = if (persist) bands0.persist(lvl) else bands0
    val cleanup = () => if (persist) { sh.unpersist(); bandsDf.unpersist(); () }
    val cand = bandsDf.as("a").join(bandsDf.as("b"), Seq("band", "band_key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // IEEE chain with the same association order as the oracle SQL:
    // s^r and (1-s^r)^b as left-assoc literal products
    def powChain(base: Column, n: Int): Column =
      (1 to n).map(_ => base).reduce(_ * _)
    val mid = (col("decile") * 2 + 1).cast("double") / lit(20.0)
    val sr = powChain(mid, rpb)
    val qb = powChain(lit(1.0) - sr, bands)
    val out = cand
      .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("decile", least(lit(9L),
        expr("(inter * 10) div (sz_a + sz_b - inter)")))
      .groupBy("decile").agg(count(lit(1)).as("n_pairs"))
      .withColumn("catch_p_micro",
        floor((lit(1.0) - qb) * lit(1000000.0) + lit(0.5)).cast("long"))
      .select("decile", "n_pairs", "catch_p_micro")
    (out, cleanup)
  }

  /** Duplicate-cluster size distribution: component sizes from a
    * [[connectedComponents]] labeling histogrammed into (size,
    * n_components, n_docs, docs_ppm), with the UNclustered remainder of
    * the corpus reported as size-1 "components" — the how-duplicated-
    * is-my-corpus report that decides whether dedup is worth a full
    * pass and whether one pathological cluster (a boilerplate template,
    * a mirror site) dominates the duplicate mass.
    *
    * Shape: one comp-keyed count, one size-keyed count, two 1-row
    * scalar aggregates broadcast for the singleton row and the ppm
    * denominator. Output rows are bounded by the number of DISTINCT
    * cluster sizes — a heavy-tail handful at any corpus scale.
    * `corpusIds`' first column is the document id; `comps` is the
    * (id, comp) labeling (clustered docs only, as
    * [[connectedComponents]] emits).
    */
  /** Persisted MinHash signature index — the [[graft.operators.AnnIndex]]
    * / [[TextOps.LmStore]] artifact contract applied to near-dup
    * detection: build the standing corpus' (id, shingle-hash) and
    * (id, band, band_key) frames ONCE, write them as parquet, and run
    * every later ingest batch's delta dedup against the stored index
    * alone — the production steady state at 100 TB, where re-shingling
    * the corpus per batch is the dominant (and avoidable) cost.
    * [[ContentGate]]-fingerprinted: a regenerated corpus forces a
    * rebuild instead of silently deduping against a stale index.
    *
    * [[deltaPairs]] computes the FRESH side's frames in-plan and feeds
    * [[minhashLshPairsFromFrames]] — identical candidate/verify
    * semantics to [[minhashLshPairsDelta]], so a store-backed
    * run returns byte-identical pairs to the recompute-everything run
    * (q171's oracle is q104's SQL verbatim for exactly this reason).
    * Short (un-shingle-able) corpus docs follow the same convention as
    * the batch path: absent from the shingle frame, they band via the
    * whole-text fallback at BUILD time and drop out at verify.
    */
  object SigStore {
    def save(df: DataFrame, idCol: String, textCol: String,
        shingleN: Int, numHashes: Int, bands: Int, dir: String): Unit = {
      import org.apache.spark.sql.SaveMode
      hashedShingleTable(df, idCol, textCol, shingleN)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/sh")
      val spark = df.sparkSession
      lshBandsFrom(
        minhashSignaturesFrom(spark.read.parquet(s"$dir/sh"), df, idCol,
          textCol, numHashes, alreadyHashed = true), numHashes, bands)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/bands")
    }

    def ensure(df: DataFrame, idCol: String, textCol: String,
        shingleN: Int, numHashes: Int, bands: Int, dir: String): Unit =
      ContentGate.ensure(dir,
        s"$shingleN,$numHashes,$bands;" +
          ContentGate.tag(df, idCol, textCol, lit(true))) {
        save(df, idCol, textCol, shingleN, numHashes, bands, dir)
      }

    /** Near-dup pairs of a fresh batch against the stored index (plus
      * fresh×fresh) — the fresh shingle frame is persisted for its
      * multiple verify-side uses; its release rides the harness drain
      * (r17 release-audit sweep).
      */
    def deltaPairs(spark: org.apache.spark.sql.SparkSession,
        fresh: DataFrame, idCol: String, textCol: String, shingleN: Int,
        numHashes: Int, bands: Int, threshold: Double, dir: String)
        : DataFrame = {
      val lvl = StorageLevel.MEMORY_AND_DISK
      val shF = hashedShingleTable(fresh, idCol, textCol, shingleN)
        .persist(lvl)
      graft.PendingRelease.defer(() => { shF.unpersist(); () })
      val bandsF = lshBandsFrom(
        minhashSignaturesFrom(shF, fresh, idCol, textCol, numHashes,
          alreadyHashed = true), numHashes, bands)
      minhashLshPairsFromFrames(spark.read.parquet(s"$dir/sh"),
        spark.read.parquet(s"$dir/bands"), shF, bandsF, threshold)
    }
  }

  def componentSizeProfile(corpusIds: DataFrame, comps: DataFrame)
      : DataFrame = {
    val total = corpusIds.agg(count(lit(1)).as("n_total"))
    val clustered = comps.agg(count(lit(1)).as("n_clustered"))
    val hist = comps.groupBy("comp").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))
      .unionByName(total.crossJoin(broadcast(clustered))
        .select(lit(1L).as("csize"),
          (col("n_total") - col("n_clustered")).as("n_components")))
      .groupBy("csize").agg(sum(col("n_components")).as("n_components"))
    hist.crossJoin(broadcast(total))
      .select(col("csize"), col("n_components"),
        (col("csize") * col("n_components")).as("n_docs"),
        expr("(csize * n_components * 1000000) div n_total")
          .as("docs_ppm"))
  }
}
