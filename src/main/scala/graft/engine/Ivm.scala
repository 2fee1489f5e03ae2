package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental view maintenance for group-by aggregates — the sync
  * engine's answer to "keep the dashboard in sync too". The reference
  * recomputes everything per run (sync.py rebuilds both in-memory
  * databases from scratch); at 100 TB a maintained SUM/COUNT view must
  * instead be advanced by the row-level delta the diff already found:
  * re-aggregation costs a full scan, maintenance costs O(changed rows).
  *
  * Delta propagation is the classic multiset-algebra form: every changed
  * row contributes (−1, −v) at its OLD group and (+1, +v) at its NEW
  * group (so group-migrating updates move mass between groups), the old
  * aggregate state contributes itself, and ONE union + ONE hash
  * aggregate folds them. No join against the maintained view, no
  * per-group state — the shape that survives any delta skew. Groups
  * whose count reaches zero are dropped (exact multiset semantics).
  *
  * Counts and sums must be exact (Long) for maintenance to be
  * indistinguishable from recompute — float sums would drift by
  * aggregation order. The correctness contract (maintained view ==
  * direct aggregate of the new table) is pinned by IvmSpec and by the
  * q91 oracle, which recomputes from the new table directly — an
  * INDEPENDENT path, not a replay of the maintenance arithmetic.
  */
object Ivm {

  /** Row-level delta contributions between `oldTable` and `newTable`,
    * keyed by `pkCols`: one (g, dn, dv) row per side of each changed
    * row. The change rule is the engine's keyed classifier
    * ([[Differ.classify]], new table as production, compared on the
    * group and the value): unchanged rows (op null) contribute nothing,
    * so the frame is O(changed), and the diff join only carries the
    * three maintained columns (pk, group, value), i.e. a column-pruned
    * scan of each side.
    */
  def aggDeltas(oldTable: DataFrame, newTable: DataFrame, pkCols: Seq[String],
      groupCol: Column, valueCol: Column): DataFrame = {
    def slim(df: DataFrame) = df.select(pkCols.map(col) :+ groupCol.as("g") :+
      valueCol.cast("long").as("v"): _*)
    val changed = Differ.classify(slim(newTable), slim(oldTable), pkCols,
      Seq("g", "v")).filter(col("op").isNotNull)
    // each branch keeps the rows one side is present in: a null-rejecting
    // filter on that side's flag lets the optimizer narrow the full outer
    // join to a one-sided outer join per branch
    val removed = changed.filter(col("b_present").isNotNull)
      .select(col("b_g").as("g"), lit(-1L).as("dn"), (-col("b_v")).as("dv"))
    val added = changed.filter(col("p_present").isNotNull)
      .select(col("p_g").as("g"), lit(1L).as("dn"), col("p_v").as("dv"))
    removed.unionByName(added)
  }

  /** Advance a maintained (count, sum) view by a delta frame from
    * [[aggDeltas]]. `oldAgg` has columns (g, n, s) — the stored view;
    * output has the same schema and equals the direct aggregate of the
    * new table exactly.
    */
  def maintainAgg(oldAgg: DataFrame, delta: DataFrame): DataFrame =
    oldAgg.select(col("g"), col("n").as("dn"), col("s").as("dv"))
      .unionByName(delta.select(col("g"), col("dn"), col("dv").as("dv")))
      .groupBy("g")
      .agg(sum(col("dn")).as("n"), sum(col("dv")).as("s"))
      .filter(col("n") > 0)

  /** Count-only maintenance: advance a (g, n) count view by a (g, dn)
    * delta — the per-table row-count statistics the dump watcher keeps
    * current per arrival without rescanning any snapshot
    * ([[graft.streaming.DumpWatchSync.processDump]] wires it in; the
    * spec checks maintained == recomputed at every arrival).
    */
  def maintainCounts(oldCounts: DataFrame, deltaN: DataFrame): DataFrame =
    oldCounts.select(col("g"), col("n").as("dn"))
      .unionByName(deltaN.select(col("g"), col("dn")))
      .groupBy("g").agg(sum(col("dn")).as("n"))
      .filter(col("n") > 0)

  /** End-to-end convenience: the maintained view of
    * groupBy(groupCol).agg(count, sum(valueCol)) after `oldTable` →
    * `newTable`, starting from the view state computed over `oldTable`.
    */
  def maintainedAgg(oldTable: DataFrame, newTable: DataFrame,
      pkCols: Seq[String], groupCol: Column, valueCol: Column): DataFrame = {
    val oldAgg = oldTable.groupBy(groupCol.as("g"))
      .agg(count(lit(1)).as("n"), sum(valueCol.cast("long")).as("s"))
    maintainAgg(oldAgg,
      aggDeltas(oldTable, newTable, pkCols, groupCol, valueCol))
  }
}
