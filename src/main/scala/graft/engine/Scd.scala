package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (SCD type 2) history from versioned
  * snapshots — the temporal layer over the sync engine's diff stream:
  * instead of "what changed between v_a and v_b" (Differ), "what was
  * every row's value DURING [v_from, v_to)" (the audit/time-travel
  * question). The reference keeps only the latest two snapshots in
  * memory; the versioned parquet snapshots the watcher already writes
  * (DumpWatchSync, BucketedSync) are exactly the input this needs.
  *
  * Scale: the (pk × version) presence grid is built by crossing the
  * distinct-pk frame with the (tiny, broadcast) version list — O(pks ×
  * versions) rows, shuffled ONCE on pk; change points come from one
  * lag/lead window per pk (the same partitioning the join produced).
  * Version counts are small by construction (snapshots, not events), so
  * the grid is a bounded blow-up of the pk domain; no all-pairs, no
  * per-pk buffered state beyond the window's two-row frame.
  */
object Scd {

  /** SCD-2 history from a stacked snapshot frame: `stacked` holds every
    * version's rows as (verCol, pkCols..., valCols...) — e.g. a union of
    * versioned snapshots each tagged with its integer version. Output:
    * one row per (pk, unbroken value run): pk columns, the run's values,
    * `ver_from` (first version with these values) and `ver_to` (first
    * version where they no longer held — the next run's start, or NULL
    * while still current). Deleted-then-reinserted keys produce separate
    * runs; versions where the pk is absent produce no run rows but DO
    * close the previous run.
    */
  def scd2(stacked: DataFrame, verCol: String, pkCols: Seq[String],
      valCols: Seq[String]): DataFrame = {
    val versions = stacked.select(col(verCol).cast("long").as("__ver"))
      .distinct()
    val pks = stacked.select(pkCols.map(col): _*).distinct()
    val grid = pks.crossJoin(broadcast(versions))
    val tagged = stacked.select(
      (col(verCol).cast("long").as("__ver") +: pkCols.map(col)) ++
        valCols.map(col) :+ lit(true).as("__present"): _*)
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(col("__ver"))
    // change-point flag: presence or any value differs from the previous
    // version of the same pk (null-safe; the first version is a change)
    val valStruct = struct(col("__present") +: valCols.map(col): _*)
    val joined = grid.join(tagged, pkCols :+ "__ver", "left")
      .withColumn("__present", coalesce(col("__present"), lit(false)))
      .withColumn("__chg",
        !(valStruct <=> lag(valStruct, 1).over(w)) ||
          row_number().over(w) === 1)
    val runs = joined.filter(col("__chg"))
      .withColumn("ver_to", lead(col("__ver"), 1).over(w))
      .filter(col("__present")) // absent runs only close earlier ones
      .withColumnRenamed("__ver", "ver_from")
    runs.select(pkCols.map(col) ++ valCols.map(col) :+
      col("ver_from") :+ col("ver_to"): _*)
  }

  /** Incrementally advance an SCD-2 run frame by ONE new snapshot
    * version — the IVM formulation of [[scd2]]: closed runs pass through
    * untouched, and the OPEN runs meet the new snapshot in the engine's
    * keyed classifier ([[Differ.classify]], snapshot as production, open
    * runs as backup, compared on `valCols`), whose classified rows
    * [[outcome]] turns into runs.
    *
    * Cost is O(open runs + snapshot rows) per version — history depth
    * never rescans — vs [[scd2]]'s O(pks × versions) grid; fold it over
    * arrivals to maintain history continuously (localCheckpoint the fold
    * every few versions on a long stream, as with any iterative plan).
    * `advance(advance(∅, s₀), s₁) == scd2(s₀ ∪ s₁)` — ScdSpec pins the
    * equality across delete/reinsert/update/value-return cases, and
    * q103's oracle replays the FULL batch grid in SQL against the
    * incremental fold.
    *
    * `runs` may be empty-but-typed (e.g. `scd2` of the first snapshot);
    * `snap` holds (pkCols, valCols) at `newVer`.
    */
  def advance(runs: DataFrame, snap: DataFrame, newVer: Long,
      pkCols: Seq[String], valCols: Seq[String]): DataFrame = {
    val closed = runs.filter(col("ver_to").isNotNull)
    val open = runs.filter(col("ver_to").isNull)
      .select(pkCols.map(col) ++ valCols.map(col) :+ col("ver_from"): _*)
    val j = Differ.classify(snap.select((pkCols ++ valCols).map(col): _*),
      open, pkCols, valCols)
    closed.select(pkCols.map(col) ++ valCols.map(col) :+
      col("ver_from") :+ col("ver_to"): _*)
      .unionByName(outcome(j, newVer, pkCols, valCols))
  }

  /** The runs one version's classified rows emit: `j` is a
    * [[Differ.classify]] frame of the version-`newVer` snapshot
    * (production) against the open runs (backup, with `ver_from`), and
    * each key's `op` decides its rows:
    *
    *  - null (values null-safe equal) → run stays open;
    *  - DELETE (open but absent from the snapshot) → close at `newVer`;
    *  - UPDATE (values differ) → close at `newVer` AND open a fresh run;
    *  - INSERT (snapshot-only, incl. reinsert) → open a fresh run at `newVer`.
    *
    * Output: pkCols, valCols, `ver_from`, `ver_to` (NULL while open),
    * then each `carry` column copied from the snapshot side (NULL where
    * the key left it) — the dump watcher carries its script order keys
    * onto the open runs it stores as its next snapshot.
    */
  def outcome(j: DataFrame, newVer: Long, pkCols: Seq[String],
      valCols: Seq[String], carry: Seq[String] = Nil): DataFrame = {
    def snapCol(c: String) = col(Differ.ProdPrefix + c)
    def runCol(c: String) = col(Differ.BackupPrefix + c)
    // ONE scan of the join: each key emits its outcome rows as an array
    // (an update is close + reopen → two rows), exploded back into run
    // shape. A filter-per-outcome formulation scans j once per branch —
    // a 3× join re-evaluation that compounds multiplicatively when
    // advances are folded over a version sequence.
    def runRow(vals: Seq[Column], vf: Column, vt: Column): Column =
      struct((valCols.zip(vals).map { case (n, c) => c.as(n) } :+
        vf.as("ver_from") :+ vt.as("ver_to")) ++
        carry.map(c => snapCol(c).as(c)): _*)
    val nullVer = lit(null).cast("long")
    val cont = runRow(valCols.map(runCol), runCol("ver_from"), nullVer)
    val close = runRow(valCols.map(runCol), runCol("ver_from"), lit(newVer))
    val opened = runRow(valCols.map(snapCol), lit(newVer), nullVer)
    val rows = when(col("op").isNull, array(cont))
      .when(col("op") === Differ.OP_UPDATE, array(close, opened))
      .when(col("op") === Differ.OP_DELETE, array(close))
      .otherwise(array(opened))
    j.select(pkCols.map(col) :+ explode(rows).as("__r"): _*)
      .select(pkCols.map(col) ++ (valCols ++ Seq("ver_from", "ver_to") ++ carry)
        .map(f => col(s"__r.$f").as(f)): _*)
  }

  /** Fold [[advance]] over a sequence of `(version, snapshot)` arrivals.
    *
    * A bare `foldLeft(advance)` of lazy plans re-evaluates earlier rounds
    * multiplicatively — every advance reads its input runs twice (closed
    * passthrough + the open-side join) — and re-analyzes the growing plan
    * per round: the same lineage blow-up as iterative PageRank. Each
    * round is therefore eagerly localCheckpointed, with round N−1's
    * blocks released the moment round N materializes
    * ([[graft.operators.Lineage.checkpointTracked]]), keeping live
    * checkpoint storage at O(runs) regardless of how many versions fold.
    * cleanup() releases the final round once the consuming action is
    * done.
    */
  def advanceFoldManaged(seed: DataFrame, snaps: Seq[(Long, DataFrame)],
      pkCols: Seq[String], valCols: Seq[String]): (DataFrame, () => Unit) = {
    var release: () => Unit = () => ()
    var runs = seed
    for ((v, snap) <- snaps) {
      val (cp, rel) = graft.operators.Lineage.checkpointTracked(
        advance(runs, snap, v, pkCols, valCols))
      release()
      release = rel
      runs = cp
    }
    (runs, () => release())
  }

  /** [[advanceFoldManaged]] with the cleanup deferred to
    * [[graft.PendingRelease]] (r17 release-audit sweep: the final
    * round's checkpoint used to stay live past the run).
    */
  def advanceFold(seed: DataFrame, snaps: Seq[(Long, DataFrame)],
      pkCols: Seq[String], valCols: Seq[String]): DataFrame = {
    val (out, release) = advanceFoldManaged(seed, snaps, pkCols, valCols)
    graft.PendingRelease.defer(release)
    out
  }

  /** Point-in-time reconstruction from [[scd2]] runs: the rows valid AT
    * version `at` — `ver_from ≤ at` and `at` before `ver_to` (open runs
    * included). One map-only filter over the runs frame, so time travel
    * to any version costs a scan of the (compacted) history, not a
    * replay of the snapshot stack — and since runs are a lossless
    * encoding, `snapshotAt(scd2(stacked), v)` equals the original
    * version-v snapshot row-for-row (q101's oracle checks exactly that
    * against the independent direct-replay path).
    */
  def snapshotAt(runs: DataFrame, at: Long): DataFrame =
    runs.filter(col("ver_from") <= at &&
        (col("ver_to").isNull || col("ver_to") > at))
      .drop("ver_from", "ver_to")

  /** SCD-2 history straight from a watcher state directory
    * ([[graft.streaming.DumpWatchSync]] writes `snapshot_v<N>/` parquet
    * per arrival): stack every version tagged with its batch number,
    * restrict to one table (and optionally one pk), and collapse into
    * validity runs — the CLI's `--history` report mode. Versions are
    * discovered from the directory names, so the report works on any
    * state dir without a manifest. When the snapshot stack has been
    * vacuumed away ([[graft.streaming.DumpWatchSync.vacuum]]), the
    * report falls back to [[historyFromMaintained]] — same rows, read
    * instead of recomputed.
    */
  def historyFromState(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, table: String, pk: Option[String] = None): DataFrame = {
    val dir = new java.io.File(stateDir)
    val snaps = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snapshot_v"))
      .flatMap(f => f.getName.stripPrefix("snapshot_v").toLongOption
        .map(v => (v, f.getAbsolutePath)))
      .sortBy(_._1)
    if (snaps.length <= 1 &&
        new java.io.File(stateDir, "history_closed").exists())
      return historyFromMaintained(spark, stateDir, table, pk)
    require(snaps.nonEmpty, s"no snapshot_v* directories under $stateDir")
    val stacked = snaps.map { case (v, path) =>
      spark.read.parquet(path)
        .filter(col("table") === table)
        .select(lit(v).as("__v"), col("pk"), col("vals"))
    }.reduce(_.unionByName(_))
    val hist = scd2(stacked, "__v", Seq("pk"), Seq("vals"))
    pk.fold(hist)(p => hist.filter(col("pk") === p))
      .orderBy("pk", "ver_from")
  }

  /** SCD-2 history from the watcher's incrementally-MAINTAINED frames
    * (`history_closed` append-only log ∪ the newest `history_open_*`
    * frame) — the read path that needs no snapshot stack at all, so it
    * survives [[graft.streaming.DumpWatchSync.vacuum]] and costs a scan
    * of the history instead of a recompute over every version. ScdSpec
    * pins it equal to the stack replay on watcher-fed state.
    */
  def historyFromMaintained(spark: org.apache.spark.sql.SparkSession,
      stateDir: String, table: String, pk: Option[String] = None): DataFrame = {
    val dir = new java.io.File(stateDir)
    val open = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        f.getName.startsWith("history_open_snapshot_v"))
      .flatMap(f => f.getName.stripPrefix("history_open_snapshot_v")
        .toLongOption.map(v => (v, f.getAbsolutePath)))
      .sortBy(-_._1).headOption
    val closedPath = new java.io.File(stateDir, "history_closed")
    val parts =
      (if (closedPath.exists())
        Seq(spark.read.parquet(closedPath.getAbsolutePath)) else Nil) ++
        open.map { case (_, p) => spark.read.parquet(p) }.toSeq
    require(parts.nonEmpty, s"no maintained history under $stateDir")
    val hist = parts.reduce(_.unionByName(_)).filter(col("table") === table)
      .select(col("pk"), col("vals"), col("ver_from"), col("ver_to"))
    pk.fold(hist)(p => hist.filter(col("pk") === p))
      .orderBy("pk", "ver_from")
  }
}
