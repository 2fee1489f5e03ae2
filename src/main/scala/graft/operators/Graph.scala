package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph analytics expressed as join/aggregate rounds — the
  * Pregel-style workload class (reference scope: link-graph scoring over
  * a curated corpus; no counterpart in sync.py — a north-star extension).
  *
  * PageRank here is EXACT-INTEGER: scores are scaled fixed-point Longs
  * and every per-iteration transfer is an integer floor division
  * (`score div degree`), so the result replays bit-for-bit in any engine
  * that has 64-bit integer division — including the DuckDB oracle with
  * the iterations unrolled as CTEs. Floating-point PageRank is
  * order-sensitive (float sums across in-edges); the integer form is
  * commutative, hence partitioning-independent — the property that makes
  * it checkable at any cluster size.
  */
object Graph {

  /** Fixed-iteration PageRank over an undirected graph.
    *
    * `edges` must have Long columns `src`/`dst`; the graph is
    * symmetrized (both directions added) and deduplicated, so every
    * node present in `edges` has degree ≥ 1 — no dangling-node mass
    * term. Per iteration:
    *
    *   score'(v) = (15 · (scale div n)) div 100
    *             + (85 · Σ_{u→v} (score(u) div deg(u))) div 100
    *
    * i.e. damping 0.85 in integer arithmetic over scores scaled by
    * `scale`. One shuffle per iteration (the in-edge aggregate keyed on
    * the node), plus the initial degree aggregate — the classic
    * iterate-until-budget shape; `iters` is a fixed unroll so the oracle
    * can replay it as a CTE chain.
    *
    * The symmetrized edge frame is persisted (it feeds every iteration)
    * and the last iteration's checkpoint stays live (the result's plan
    * reads from it); both are released at the calling thread's next
    * [[graft.PendingRelease.drain]], after the consuming action.
    */
  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, persist: Boolean = true): DataFrame = {
    val (und, undRelease) = symmetrized(edges, persist)
    graft.PendingRelease.defer(undRelease)
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("n"))
    // All nodes carry (deg, tele) through the loop: deg for the
    // outbound split, tele = the constant uniform teleport term
    // (15·(scale div n)) div 100. n is one broadcast row, deg is
    // O(nodes).
    val init = deg.select(col("src").as("node"), col("deg"))
      .crossJoin(broadcast(n))
      .withColumn("tele",
        expr(s"(15 * (CAST($scale AS BIGINT) div n)) div 100"))
      .withColumn("score", expr(s"CAST($scale AS BIGINT) div n"))
      .select("node", "deg", "tele", "score")
    prRounds(und, init, iters)
  }

  /** Personalized PageRank: the teleport mass lands on a SEED set
    * instead of uniformly — random walks restart at the seeds, so the
    * score is proximity/trust relative to them. This is the quality-
    * propagation primitive (trusted-domain seeds → crawl-frontier
    * scores) and the same exact-integer arithmetic as [[pageRank]]:
    * seed teleport `(15·(scale div |S|)) div 100`, non-seeds 0, initial
    * mass `scale div |S|` at the seeds. Seeds absent from the graph are
    * dropped before |S| is counted. Identical per-iteration plan shape
    * — one node-keyed shuffle per round — and the same release.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int,
      scale: Long = 1000000000000L, persist: Boolean = true): DataFrame = {
    val (und, undRelease) = symmetrized(edges, persist)
    graft.PendingRelease.defer(undRelease)
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val seedSet = seeds.select(col("node").cast("long").as("node")).distinct()
      .join(deg.select(col("src").as("node")), Seq("node"))
    val ns = seedSet.agg(count(lit(1)).as("ns"))
    val init = deg.select(col("src").as("node"), col("deg"))
      .join(seedSet.withColumn("is_seed", lit(1L)), Seq("node"), "left")
      .crossJoin(broadcast(ns))
      .withColumn("tele", when(col("is_seed").isNotNull,
          expr(s"(15 * (CAST($scale AS BIGINT) div ns)) div 100"))
        .otherwise(lit(0L)))
      .withColumn("score", when(col("is_seed").isNotNull,
          expr(s"CAST($scale AS BIGINT) div ns")).otherwise(lit(0L)))
      .select("node", "deg", "tele", "score")
    prRounds(und, init, iters)
  }

  /** Symmetrize + dedup an edge frame; optionally persist (it feeds
    * every iteration). Returns the frame and its release thunk.
    */
  private def symmetrized(edges: DataFrame,
      persist: Boolean): (DataFrame, () => Unit) = {
    // ONE shuffle, keyed on src: repartition(src) then dedup in place —
    // HashPartitioning(src) satisfies the (src, dst) clustering the
    // dedup aggregate needs (subset rule), so no second exchange. The
    // cached frame then carries src-partitioning into EVERY iteration's
    // edge⋈score join, which would otherwise re-shuffle the (largest)
    // edge frame once per round.
    val und0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .unionByName(edges.select(col("dst").cast("long").as("src"),
        col("src").cast("long").as("dst")))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
    val und = if (persist) Lineage.persistOwned(und0) else und0
    (und, () => { if (persist) { und.unpersist(); () } })
  }

  /** The shared power-iteration loop: score'(v) = tele(v) +
    * (85 · Σ_{u→v} (score(u) div deg(u))) div 100, for a fixed `iters`
    * unroll over a per-node constant `tele` column. Defers the release
    * of the last round's checkpoint.
    */
  private def prRounds(und: DataFrame, init: DataFrame,
      iters: Int): DataFrame = {
    var release: () => Unit = () => ()
    var sc = init
    for (i <- 1 to iters) {
      val contrib = und
        .join(sc.select(col("node").as("src"),
          expr("score div deg").as("c")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("inflow"))
      sc = sc.select("node", "deg", "tele")
        .join(contrib, Seq("node"), "left")
        .withColumn("score", col("tele") +
          expr("(85 * coalesce(inflow, CAST(0 AS BIGINT))) div 100"))
        .drop("inflow")
      // each iteration feeds the next one TWICE (contrib + carry-through);
      // without cutting lineage the duplicated subtree doubles per level
      // (2^iters evaluations of iteration 1). localCheckpoint each round
      // — the connectedComponents pattern — makes every round compute
      // exactly once; exact-integer scores are unaffected. Round i's
      // checkpoint is the only thing referencing round i−1's, so the
      // older blocks are released the moment the newer ones materialize.
      // checkpoint every SECOND round: a non-checkpointed round is
      // referenced twice by the next one, but its shuffle subtrees
      // collapse via ReuseExchange inside the consuming job, while each
      // eager checkpoint costs a full extra job — at 2 rounds of
      // lineage the dedup wins, beyond that plan growth would compound
      if (i < iters && i % 2 == 0) {
        val (cp, rel) = Lineage.checkpointTracked(sc)
        release()
        release = rel
        sc = cp
      }
    }
    graft.PendingRelease.defer(release)
    sc.select(col("node"), col("deg"), col("score"))
  }

  /** Seeded multi-class label propagation over an undirected graph —
    * the semi-supervised label-spreading primitive: a small human- (or
    * model-) labeled seed set pushes labels out to the whole corpus
    * along similarity/interaction edges (quality ratings → crawl,
    * topic tags → document graph, trust → link graph). Classic LPA is
    * run-order-dependent (async updates, random tie-breaks); this form
    * is SYNCHRONOUS with a total tie order, so any engine at any
    * partitioning produces the identical labeling — the determinism the
    * oracle needs and production reruns want.
    *
    * Per round, every non-seed node takes the label with the greatest
    * neighbor mass (edge count; ties → smallest label); nodes whose
    * neighborhood is still unlabeled keep their current assignment;
    * seeds are CLAMPED to their given label. `iters` bounds the spread
    * radius. One node-keyed shuffle per round (the mass aggregate) —
    * the [[pageRank]] plan shape — with per-round checkpoint release via
    * [[Lineage.checkpointTracked]] and the edge cache and last
    * checkpoint released as [[pageRank]]'s are.
    *
    * `edges`: Long `src`/`dst` (symmetrized + deduplicated here).
    * `seeds`: (`node`, `label`) — duplicate seed nodes collapse to
    * their smallest label. Output: (node, label, is_seed); `label` is
    * null only for nodes ≥ `iters` hops from every seed.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, iters: Int,
      persist: Boolean = true): DataFrame = {
    val (und, undRelease) = symmetrized(edges, persist)
    graft.PendingRelease.defer(undRelease)
    val seedLabels = seeds
      .select(col("node").cast("long").as("node"),
        col("label").cast("long").as("label"))
      .groupBy("node").agg(min(col("label")).as("label"))
      .withColumn("is_seed", lit(1L))
    val init = und.select(col("src").as("node")).distinct()
      .join(seedLabels, Seq("node"), "left")
      .select(col("node"), col("label"),
        coalesce(col("is_seed"), lit(0L)).as("is_seed"))
    var release: () => Unit = () => ()
    var cur = init
    for (i <- 1 to iters) {
      val mass = und
        .join(cur.filter(col("label").isNotNull)
          .select(col("node").as("src"), col("label")), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("mass"))
      // argmax(mass) with smallest-label tiebreak, as ONE aggregate:
      // max(struct(mass, -label)) — no per-node window sort
      val best = mass.groupBy("node")
        .agg(max(struct(col("mass"), (-col("label")).as("nl"))).as("b"))
        .select(col("node"), (-col("b.nl")).as("best_label"))
      cur = cur.join(best, Seq("node"), "left")
        .withColumn("label", when(col("is_seed") === 1L, col("label"))
          .otherwise(coalesce(col("best_label"), col("label"))))
        .drop("best_label")
      // every-second-round checkpoint: see prRounds
      if (i < iters && i % 2 == 0) {
        val (cp, rel) = Lineage.checkpointTracked(cur)
        release()
        release = rel
        cur = cp
      }
    }
    graft.PendingRelease.defer(release)
    cur.select("node", "label", "is_seed")
  }

  /** Per-node triangle participation counts — the clustering/community
    * signal (and the classic "does your join strategy survive a dense
    * node" graph benchmark). `edges` (Long `src`/`dst`) is treated as
    * undirected; self-loops and duplicate/reversed pairs are collapsed.
    *
    * Algorithm: orient every edge from the (degree, id)-SMALLER endpoint
    * to the larger, then count wedge–edge matches: oriented wedges
    * a→b, a→c (b before c in the same total order) joined against the
    * oriented edge b→c. Degree orientation bounds each node's oriented
    * out-degree by O(√m) on any graph — the wedge fan-out stays bounded
    * even when a celebrity node has millions of neighbors, which is
    * exactly what id-ordered orientation gets wrong at 100 TB. Three
    * joins + one aggregate, all keyed on node ids; no iteration.
    *
    * The triangle SET is orientation-independent, so an oracle may
    * replay it with plain id-orientation — agreement then checks the
    * algorithm, not a shared formulation.
    * Output: (node, n_triangles) for nodes in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val canon = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = canon.select(col("a").as("v"))
      .unionByName(canon.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // total order (deg, id): orient each edge toward its larger endpoint
    val oriented = canon
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
          .as("e"))
      .select(col("e.lo").as("src"), col("e.hi").as("dst"))
    // wedge pairs {b, c} out of the same pivot, picked once by id order;
    // the closure join below matches the closing edge in either
    // orientation, so the (deg, id) order never reorders the pair
    val wedges = oriented.as("x")
      .join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tris = wedges.join(
      oriented.select(col("src").as("b2"), col("dst").as("c2"))
        .unionByName(oriented.select(col("dst").as("b2"), col("src").as("c2"))),
      col("b") === col("b2") && col("c") === col("c2"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Bounded-round k-core peel: `rounds` synchronous rounds of "drop
    * every node with degree < k (and its edges)" over the symmetrized
    * graph — the dense-subgraph filter that strips crawl-graph fringe
    * (leaf pages, one-off citers) before expensive per-node analytics.
    * The true k-core is this peel run to fixpoint; a fixed unroll is
    * (a) the budgeted form an iterate-until-converged cluster job uses
    * per checkpoint window and (b) exactly replayable as a CTE chain by
    * the oracle. Synchronous rounds are partitioning-independent: each
    * round's degrees come from the previous round's edge set only.
    *
    * Per round: the removed fringe (alive nodes with deg < k, usually
    * tiny) joins the IMMUTABLE cached edge frame once to count each
    * surviving neighbor's lost edges, and the node-degree frame is
    * decremented — a delta iteration whose per-round shuffle is
    * proportional to the fringe's incident edges, never the graph. (A
    * first implementation rebuilt + re-persisted the full edge frame
    * every round: 5.4 s warm vs ~2 s for the delta form on the q184
    * fixture, and O(edges) per-round I/O at any scale.) Rounds stop
    * early at the fixpoint — the remaining fixed rounds are no-ops by
    * definition.
    *
    * Output: (node, deg) for nodes alive after `rounds` peels, with deg
    * measured in the surviving subgraph (deg may sit below k again —
    * that residue is what the NEXT round would peel; deg ≥ k for all
    * rows iff the peel has converged). The last round's degree cache is
    * released at the calling thread's next [[graft.PendingRelease.drain]].
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k ≥ 1 and rounds ≥ 1, got ($k, $rounds)")
    val (und, releaseUnd) = symmetrized(edges, persist = true)
    // DELTA peel on the NODE frame: the edge cache is immutable (the
    // pageRank lifecycle) and each round shuffles only the removed
    // fringe's incident edges — NOT a rebuilt edge frame. deg(v) in the
    // alive-induced subgraph is maintained exactly: an edge (v, u) is
    // subtracted from v precisely once, in the round u is removed
    // (removed nodes leave the frame, so no double subtraction), and
    // alive-alive edges are never touched — so the maintained degree
    // equals a recount on the filtered edge set at every round.
    var deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    deg.count() // materialize before the first round's two consumers
    var releaseDeg = () => { deg.unpersist(); () }
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      r += 1
      val removed = deg.filter(col("deg") < k).select("node")
      if (removed.isEmpty) {
        // fixpoint: the remaining fixed rounds are no-ops by definition
        converged = true
      } else {
        val hits = und
          .join(removed.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(count(lit(1)).as("lost"))
        val next = deg.filter(col("deg") >= k)
          .join(hits, Seq("node"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        next.count() // materialize before releasing the parent
        releaseDeg()
        deg = next
        val d = next
        releaseDeg = () => { d.unpersist(); () }
      }
    }
    releaseUnd() // every round has executed eagerly; out reads only deg
    // deg 0 = all neighbors peeled: absent from the induced edge set,
    // so (matching a recount on that edge set) it does not output
    graft.PendingRelease.defer(releaseDeg)
    deg.filter(col("deg") > 0)
  }

  /** Fixed-iteration HITS (Kleinberg's hubs and authorities) over a
    * DIRECTED edge set — the bipartite-role complement of
    * [[pageRank]]: on customer→supplier or crawler→host graphs, a good
    * HUB points at many good authorities and a good AUTHORITY is
    * pointed at by many good hubs; PageRank's single score cannot
    * separate the two roles. Per round, in EXACT integer arithmetic:
    *
    *   auth'(v) = Σ_{u→v} hub(u);   auth(v) = (auth'(v)·scale) div Σauth'
    *   hub'(u)  = Σ_{u→v} auth(v);  hub(u)  = (hub'(u)·scale) div Σhub'
    *
    * — L1 normalization via one scalar total per half-round (collected
    * to the driver as a single decimal, never row data) instead of the
    * float L2 of the textbook (any engine reproduces integral div
    * bit-for-bit; the RANKING is unchanged by the norm choice).
    * Sums and products run in decimal(38,0): raw·scale stays under
    * 10³⁸ up to ~10¹⁴ edges at the default scale.
    *
    * Two node-keyed shuffles per round (one per direction) against the
    * src-partitioned cached edge frame; `iters` is a fixed unroll so
    * the oracle replays it as a CTE chain.
    *
    * Edges are deduplicated, NOT symmetrized (direction is the whole
    * point). Output: (node, kind ∈ {'auth','hub'}, score) — a node
    * appearing on both sides carries both rows.
    *
    * The edge cache and the last round's raw frames, which the result
    * plan reads, are released at the calling thread's next
    * [[graft.PendingRelease.drain]]. `persist` keeps its historical
    * false default (the caches are then released before returning and
    * the result re-runs its lineage); callers wanting the cached
    * iteration speed opt in, as q205 does.
    */
  def hits(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, persist: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    val e0 = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
    val e = e0.persist(StorageLevel.MEMORY_AND_DISK)
    val releases = scala.collection.mutable.ArrayBuffer[() => Unit](
      () => { e.unpersist(); () })
    // every half-round's raw frame feeds TWO consumers — its L1 total
    // and the next half-round's join. Uncached, the total's subjob
    // re-runs the whole prior lineage once per consumer, i.e.
    // exponentially in the round count (measured 47 s vs 2 s at sf0.1
    // with iters=2) — so each raw frame is persisted, and the ONE job
    // that fills its cache also returns the L1 total as a 1-row scalar
    // collect (bounded: one decimal per half-round, never row data).
    // Normalizing by the scalar LITERAL instead of a broadcast total
    // halves the per-half-round job count (no separate count() to
    // materialize, no broadcast subjob in the consumer's plan) —
    // measured 5.1 → 3.4 s warm end-to-end at sf0.1. The PREVIOUS
    // round's caches release as soon as the next raw frame is solid
    // (same lifecycle as pageRank's checkpoint rotation).
    var roundCaches = List.empty[DataFrame]
    def materializedWithTotal(df: DataFrame): (DataFrame, String) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val row = p.agg(sum("raw"), count(lit(1))).head
      val tot = row.getDecimal(0)
      // empty half-round → sum is null over zero rows and any divisor
      // works; but null over NON-zero rows is decimal(38,0) overflow
      // under non-ANSI eval — silently unnormalized scores, so raise
      // (same raise-not-null contract as joinExplosionAudit)
      if (tot == null && row.getLong(1) > 0)
        throw new ArithmeticException(
          "HITS half-round L1 total overflowed decimal(38,0); " +
            "lower `scale` or pre-aggregate the edge multiplicity")
      (p, if (tot == null) "1" else tot.toPlainString)
    }
    var hub = e.select(col("src").as("node")).distinct()
      .withColumn("h", lit(scale).cast("decimal(38,0)"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // div on decimals returns LONG in Spark — re-widen each
      // normalized score to decimal(38,0) so the NEXT half-round's
      // sum·scale product never multiplies long×long (score·deg·scale
      // crosses int64 at ~10⁹-degree nodes)
      val (aRaw, aTot) = materializedWithTotal(
        e.join(hub, e("src") === hub("node"))
          .groupBy(col("dst").as("anode")).agg(sum("h").as("raw")))
      auth = aRaw.select(col("anode").as("node"),
        expr(s"cast((cast(raw as decimal(38,0)) * $scale) div " +
          s"cast('$aTot' as decimal(38,0)) as decimal(38,0))").as("a"))
      val (hRaw, hTot) = materializedWithTotal(
        e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src").as("hnode")).agg(sum("a").as("raw")))
      hub = hRaw.select(col("hnode").as("node"),
        expr(s"cast((cast(raw as decimal(38,0)) * $scale) div " +
          s"cast('$hTot' as decimal(38,0)) as decimal(38,0))").as("h"))
      roundCaches.foreach(_.unpersist()) // prior round fully consumed
      roundCaches = List(aRaw, hRaw)
    }
    val out = auth.select(col("node"), lit("auth").as("kind"),
        col("a").cast("long").as("score"))
      .unionByName(hub.select(col("node"), lit("hub").as("kind"),
        col("h").cast("long").as("score")))
    releases += (() => { roundCaches.foreach(_.unpersist()); () })
    val releaseAll = () => releases.foreach(_.apply())
    // a caller that opts out of persist keeps correct plans (the frames
    // re-run lazily); only the caches go, right away
    if (persist) graft.PendingRelease.defer(releaseAll) else releaseAll()
    out
  }
}
