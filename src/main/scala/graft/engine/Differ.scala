package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The keyed classifier: rows of `prod` vs `backup` sorted into
  * INSERT / UPDATE / DELETE by primary key — the distributed equivalent
  * of the reference's per-table dict diff (sync.py:255-291).
  *
  * [[classify]] is the one full-outer key join of the engine. Its callers:
  * the sync core's record diff ([[SyncJob]]'s dump pipeline,
  * [[BucketedSync.diff]] and the dump watcher, on (table, pk) over
  * `vals` — the watcher's script, op log, stats and SCD-2 history all
  * read its one diff per arrival), [[diff]] (q06/q11/q12/q190,
  * [[mergeApply]] and typed mode's q39), the SCD-2 advance
  * ([[Scd.advance]], q103) and aggregate maintenance
  * ([[Ivm.aggDeltas]], q91).
  *
  * A value differs under Spark's null-safe `<=>`, which reproduces the
  * reference's string equality with NULL == NULL (sync.py:217-226) on
  * string columns and carries real value semantics on typed columns.
  *
  * Scale: the join shuffles both sides by key (sort-merge under AQE); no
  * driver-side state. Skewed keys are handled by AQE skew-join splitting.
  * If one snapshot is known-small, callers can pass it broadcast()-ed.
  */
object Differ {

  val OP_INSERT = "INSERT"
  val OP_UPDATE = "UPDATE"
  val OP_DELETE = "DELETE"

  /** Prefixes of each side's non-key columns in the classified frame. */
  val ProdPrefix = "p_"
  val BackupPrefix = "b_"

  /** ONE full-outer join of `prod` and `backup` on `keys`. Every other
    * column of each side comes out prefixed `p_` (production) or `b_`
    * (backup), beside a `p_present`/`b_present` flag, and `op` is INSERT
    * (production only), DELETE (backup only), UPDATE (some column of
    * `compared` differs, null-safe) or null (unchanged). Unchanged rows
    * are kept: callers filter or count them themselves. Keys are assumed
    * non-null (the reference derives them from parsed values and never
    * produces SQL NULL keys).
    */
  def classify(prod: DataFrame, backup: DataFrame, keys: Seq[String],
      compared: Seq[String]): DataFrame = {
    def side(df: DataFrame, prefix: String): DataFrame = df.select(
      keys.map(col) ++ (lit(true).as(prefix + "present") +:
        df.columns.filterNot(keys.contains).map(c => col(c).as(prefix + c))): _*)
    val changed: Column = compared
      .map(c => !(col(ProdPrefix + c) <=> col(BackupPrefix + c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    side(prod, ProdPrefix).join(side(backup, BackupPrefix), keys, "full_outer")
      .withColumn("op",
        when(col(BackupPrefix + "present").isNull, OP_INSERT)
          .when(col(ProdPrefix + "present").isNull, OP_DELETE)
          .when(changed, OP_UPDATE))
  }

  /** Full diff frame: pk columns, both sides' value columns (`p_*` from
    * production, `b_*` from backup) and `op`, over every non-key column
    * of `prod`. Unchanged rows are dropped.
    */
  def diff(prod: DataFrame, backup: DataFrame, pkCols: Seq[String]): DataFrame =
    classify(prod, backup, pkCols, prod.columns.filterNot(pkCols.contains).toSeq)
      .filter(col("op").isNotNull)
      .drop(ProdPrefix + "present", BackupPrefix + "present")

  /** Compact diff: pk columns + op only. */
  def diffOps(prod: DataFrame, backup: DataFrame, pkCols: Seq[String]): DataFrame =
    diff(prod, backup, pkCols).select((pkCols :+ "op").map(col): _*)

  /** Per-op counts — the reference's global stats (sync.py:402-423). */
  def stats(diffDf: DataFrame): DataFrame =
    diffDf.groupBy("op").agg(count(lit(1)).as("n"))

  /** MERGE-style distributed apply: transform `backup` into the
    * production state using a [[diff]] frame — the set-wise alternative
    * to generating and replaying a SQL script (what `MERGE INTO` does on
    * engines that have it). DELETE keys are anti-joined out, UPDATE and
    * INSERT rows come in with their production values. One shuffle on the
    * PK; no driver state.
    */
  def mergeApply(backup: DataFrame, diffDf: DataFrame,
      pkCols: Seq[String]): DataFrame = {
    val valueCols = backup.columns.filterNot(pkCols.contains).toSeq
    val touched = diffDf.select(pkCols.map(col): _*)
    val kept = backup.join(touched, pkCols, "left_anti")
    val upserts = diffDf.filter(col("op") =!= OP_DELETE)
      .select(pkCols.map(col) ++
        valueCols.map(c => col(ProdPrefix + c).as(c)): _*)
    kept.unionByName(upserts)
  }
}
