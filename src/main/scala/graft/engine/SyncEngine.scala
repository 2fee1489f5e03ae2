package graft.engine

import java.io.{BufferedWriter, InputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.codegen.SyncSqlGenerator
import graft.model.{Stmt, TableMeta}
import graft.parse.DumpParser
import graft.sources.DumpSource

/** One classified sync operation with everything codegen needs.
  * `ordOff`/`ordRow` reproduce the reference's dict-insertion ordering:
  * the position of the PK's FIRST occurrence in the relevant dump
  * (production for INSERT/UPDATE, backup for DELETE) — values still come
  * from the LAST occurrence (last-wins upsert, sync.py:64-70).
  */
final case class DiffOp(
    table: String,
    pk: String,
    op: String,
    ordOff: Long,
    ordRow: Int,
    prodVals: Option[Seq[String]],
    backupVals: Option[Seq[String]],
    rawInsert: Option[String])

/** One line of the full sync script with its global sort key — the
  * script unions banner/comment lines (driver-built, O(tables)) with
  * rendered statements (executor-built) and the sink sorts them by it.
  */
final case class ScriptLine(
    sec: Int, tbl: Int, off: Long, row: Int, sub: Int, line: String)

final case class TableStats(
    table: String,
    productionCount: Long,
    backupCount: Long,
    missingCount: Long,
    updatedCount: Long,
    deletedCount: Long,
    /** Estimated rendered-script bytes of this table's ops (value text
      * + per-(table, op) syntax skeleton rendered from the catalog —
      * an upper bound on actual script bytes) — rides the stats
      * aggregate for free and gates the collected script routes'
      * driver collect (see [[SyncJob.MaxCollectedBytes]]).
      */
    opBytes: Long = 0L)

/** Driver-side result of a sync comparison. `ops` holds every classified
  * operation when [[SyncJob.run]] collected them; the script routes
  * render executor-side and leave it empty.
  */
final case class SyncOutcome(
    prodCatalog: ListMap[String, TableMeta],
    backupCatalog: ListMap[String, TableMeta],
    missingTables: Seq[String],
    extraTables: Seq[String],
    commonTables: Seq[String],
    stats: Map[String, TableStats],
    ops: Seq[DiffOp],
    /** Reference-quirk CREATE text per missing table: sync.py:43-45
      * re-searches `CREATE TABLE.*?`name`.*?ENGINE[^;]*;` over the WHOLE
      * dump, so a missing table that is not the dump's first table gets
      * everything from the first CREATE TABLE through its own DDL —
      * intermediate statements included. Empty map when no tables are
      * missing.
      */
    createSections: Map[String, String] = Map.empty)

/** The distributed dump-diff pipeline (reference lifecycle
  * sync.py:228-302 re-expressed as DataFrame jobs):
  *
  *   1. statement scan      — splittable `;\n`-delimited read, byte-offset
  *                            ordered ([[graft.sources.DumpSource]])
  *   2. catalog             — CREATE statements are a tiny fraction;
  *                            parsed on the driver in offset order
  *   3. record parse        — one byte scan per INSERT statement
  *                            ([[graft.parse.DumpParser.RecordScan]]),
  *                            Catalyst rows in, Catalyst rows out
  *   4. last-wins dedup     — window per (table, pk) ordered by position
  *   5. diff                — [[Differ.classify]] on (table, pk) over
  *                            `vals`, the record diff every sync path
  *                            calls: ONE full-outer join for all tables
  *                            at once (single shuffle), null-safe
  *                            value-array comparison
  *   6. codegen             — executor-side statement rendering
  *   7. sink                — collected script file or sorted text
  *                            parts, routed by size
  *
  * Scale: both record frames shuffle once on (table, pk); the dedup
  * window and the join reuse the same hash partitioning. No driver state
  * grows with input size except a script that fits the driver.
  */
class SyncJob(spark: SparkSession) {
  import spark.implicits._

  /** Parse the catalog: collect only CREATE-shaped statements (cheap
    * distributed prefilter), then sort and parse them driver-side in
    * offset order — a handful of rows, so one job and no range sort.
    */
  def catalog(stmts: Dataset[Stmt]): ListMap[String, TableMeta] =
    catalogInfo(stmts).metas

  /** [[catalog]] plus the CREATE-section byte offsets
    * ([[SyncJob.CatalogInfo]]).
    */
  private[graft] def catalogInfo(stmts: Dataset[Stmt]): SyncJob.CatalogInfo = {
    val creates = stmts
      .filter(col("text").rlike("(?is)^\\s*CREATE\\s+TABLE"))
      .collect().sortBy(_.off)
    val metas = DumpParser.parseCatalog(creates.iterator.map(_.text))
    val firstCreatePos = creates.headOption.map { st =>
      val m = "(?i)CREATE TABLE".r.findFirstMatchIn(st.text)
      val charIdx = m.map(_.start).getOrElse(0)
      st.off + st.text.substring(0, charIdx).getBytes("UTF-8").length
    }
    val ends = creates.flatMap { st =>
      DumpParser.parseCreate(st.text).map(m =>
        m.name -> (st.off + st.text.getBytes("UTF-8").length + 1)) // + ';'
    }.toMap
    SyncJob.CatalogInfo(metas, firstCreatePos, ends)
  }

  /** Parse + dedup the record frame of one dump:
    * (table, pk, ord_off, ord_row, vals) — one row per surviving
    * record, values from the PK's last statement, order key from its
    * first. The replay INSERT text is NOT carried (it is derived from
    * (table, vals) at render time, [[graft.codegen.SyncSqlGenerator
    * .rawInsertCol]]) — carrying it would double the window-shuffle bytes.
    */
  def records(stmts: Dataset[Stmt], cat: ListMap[String, TableMeta]): DataFrame = {
    val part = Window.partitionBy("table", "pk")
    val lastFirst = part.orderBy(col("off").desc, col("row").desc)
    recordRows(stmts, cat)
      .withColumn("rn", row_number().over(lastFirst))
      .withColumn("ord", min(struct(col("off"), col("row"))).over(part))
      .filter(col("rn") === 1)
      .select(col("table"), col("pk"),
        col("ord.off").as("ord_off"), col("ord.row").as("ord_row"),
        col("vals"))
  }

  /** Every INSERT row of a dump before dedup, as [[SyncJob.RecordSchema]]
    * rows: (table, off, row, pk, vals), `row` being the value set's index
    * within its statement, so (off, row) is the global statement position
    * the reference's dict semantics depend on (SURVEY.md §7.4). Each
    * partition runs one [[DumpParser.RecordScan]] over the statements'
    * UTF-8 bytes, read as Catalyst rows (a cached scan serves them), and
    * emits Catalyst rows: each statement's bytes are copied once, and
    * every value is a view of that copy.
    */
  private[graft] def recordRows(stmts: Dataset[Stmt],
      cat: ListMap[String, TableMeta]): DataFrame = {
    val bc = spark.sparkContext.broadcast(cat)
    val offAt = stmts.schema.fieldIndex("off")
    val textAt = stmts.schema.fieldIndex("text")
    val rows = stmts.queryExecution.toRdd.mapPartitions[InternalRow] { it =>
      val scan = new DumpParser.RecordScan(bc.value)
      val names = scan.tables.map(t => UTF8String.fromString(t.name))
      val bar = UTF8String.fromString("|")
      it.flatMap { st =>
        val b = st.getUTF8String(textAt).getBytes
        if (!scan.start(b, 0, b.length)) Iterator.empty
        else {
          val off = st.getLong(offAt)
          Iterator.from(0).takeWhile(_ => scan.nextSet()).map { i =>
            val n = scan.values
            val vals = new Array[UTF8String](n)
            var k = 0
            while (k < n) {
              vals(k) = UTF8String.fromBytes(b, scan.valueFrom(k),
                scan.valueUntil(k) - scan.valueFrom(k))
              k += 1
            }
            val at = scan.pk
            // DumpParser.pkString's rule over the views
            val pk =
              if (at.length == 1 && at(0) >= 0 && at(0) < n) vals(at(0))
              else UTF8String.concatWs(bar, at.filter(_ < n).map(j =>
                if (j >= 0) vals(j) else if (n > 0) vals(0) else UTF8String.EMPTY_UTF8): _*)
            new GenericInternalRow(Array[Any](names(scan.table), off, i, pk,
              new GenericArrayData(vals.asInstanceOf[Array[Any]])))
          }
        }
      }
    }
    Bridge.internalFrame(spark, rows, SyncJob.RecordSchema)
  }

  /** Reference-parity run: the outcome with every classified op
    * collected, for [[graft.codegen.SyncSqlGenerator.assemble]] — the
    * driver-side emitter the specs hold every script route against.
    */
  def run(prodPath: String, backupPath: String): SyncOutcome = {
    val d = prepare(prodPath, backupPath)
    try d.outcome.copy(ops = diffOps(d.joined).collect().toSeq)
    finally d.release()
  }

  /** The default CLI sink. A diff that fits the driver (op count at
    * most `maxCollectedOps` and estimated script bytes at most
    * [[SyncJob.MaxCollectedBytes]]) is collected and written as ONE
    * file at `outPath`, `SyncSqlGenerator.assemble(run(...), now)`'s
    * bytes; a larger one goes through the distributed text sink at
    * `outPath + ".parts"`, whose sorted part files concatenate to the
    * same bytes plus a final '\n'. Each run replaces its route's output
    * and deletes the other route's, so a reader of either path never
    * gets an older script. Returns the outcome and, on the parts route,
    * the parts directory.
    */
  def syncAuto(prodPath: String, backupPath: String, outPath: String,
      now: String, maxCollectedOps: Long = SyncJob.DefaultMaxCollectedOps)
      : (SyncOutcome, Option[String]) = {
    val d = prepare(prodPath, backupPath)
    try (d.outcome, syncAuto(d, outPath, outPath + ".parts", now, maxCollectedOps))
    finally d.release()
  }

  /** The size-routed sink of a [[Prepared]] diff, the one writer of a
    * sync script: the collected script at `outPath`, or the sorted text
    * parts under `partsDir` (returned). The collected route sorts its
    * lines on the driver — a script that fits the driver is small, and
    * a range sort would cost three more Spark jobs — while the parts
    * route keeps the distributed sort. The sort keys are unique, so
    * both give the same order.
    */
  private[graft] def syncAuto(d: Prepared, outPath: String, partsDir: String,
      now: String, maxCollectedOps: Long): Option[String] = {
    val out = new Path(outPath)
    val fs = fsOf(out)
    if (d.fitsDriver(maxCollectedOps)) {
      val lines = d.lines(now).collect().sorted(SyncJob.LineOrder).map(_.line)
      // raw (checksum-free) create: the script is a user-facing file,
      // not internal state — no .crc sidecar
      writeLines(graft.operators.ContentGate.rawFs(fs), out, lines)
      fs.delete(new Path(partsDir), true)
      None
    } else {
      d.lines(now).orderBy("sec", "tbl", "off", "row", "sub")
        .select("line").write.mode("overwrite").text(partsDir)
      fs.delete(out, false)
      Some(partsDir)
    }
  }

  /** One diff of a dump pair, cached and summarized: what every script
    * route starts from. `release` drops its caches once the route has
    * consumed the joined frame.
    */
  private[graft] final class Prepared(val joined: DataFrame,
      val outcome: SyncOutcome, val release: () => Unit) {
    def lines(now: String): Dataset[ScriptLine] = scriptLines(joined, outcome, now)

    /** The one size rule of the routed sinks: collect the script to the
      * driver when both the op count and the estimated script bytes
      * fit.
      */
    def fitsDriver(maxCollectedOps: Long): Boolean = {
      val stats = outcome.stats.values
      stats.map(s => s.missingCount + s.updatedCount + s.deletedCount).sum <=
        maxCollectedOps &&
        stats.map(_.opBytes).sum <= SyncJob.MaxCollectedBytes
    }
  }

  /** The complete script as one line frame — executor-rendered
    * statements unioned with the O(tables) driver banner rows, each
    * carrying its (sec, tbl, off, row, sub) sort key; the sink orders
    * them. Every script route renders through here, so the byte-parity
    * rules live in ONE place: notably, DELETE/UPDATE that render empty
    * are skipped, exactly as assemble does, while empty INSERT lines
    * are kept (assemble emits them bare).
    */
  private def scriptLines(joined: DataFrame, o: SyncOutcome,
      now: String): Dataset[ScriptLine] = {
    val bcProd = spark.sparkContext.broadcast(o.prodCatalog)
    val bcBackup = spark.sparkContext.broadcast(o.backupCatalog)
    val bcIdx = spark.sparkContext.broadcast(o.commonTables.zipWithIndex.toMap)
    val stmts = diffOps(joined).flatMap { op =>
      val stmt = SyncSqlGenerator.renderOp(
        bcProd.value(op.table), bcBackup.value(op.table), op)
      val sec = op.op match {
        case Differ.OP_DELETE => 3
        case Differ.OP_UPDATE => 4
        case _ => 5
      }
      if (stmt.isEmpty && op.op != Differ.OP_INSERT) None
      else Some(ScriptLine(sec, bcIdx.value(op.table), op.ordOff, op.ordRow, 0, stmt))
    }
    spark.createDataset(driverLines(o, now)).union(stmts)
  }

  /** Writes collected script lines to `path`, '\n'-separated, without
    * joining them into one string.
    */
  private def writeLines(fs: FileSystem, path: Path,
      lines: Array[String]): Unit = {
    val w = new BufferedWriter(
      new OutputStreamWriter(fs.create(path, true), UTF_8), 1 << 16)
    try {
      lines.iterator.zipWithIndex.foreach { case (l, i) =>
        if (i > 0) w.write('\n')
        w.write(l)
      }
    } finally w.close()
  }

  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The non-statement lines of the full script (header, section banners,
    * per-table comments, stats tail) with their global sort keys —
    * line-for-line the same emission logic as SyncSqlGenerator.assemble.
    */
  private def driverLines(o: SyncOutcome, now: String): Seq[ScriptLine] = {
    val out = Seq.newBuilder[ScriptLine]
    var sub = 0
    def emit(sec: Int, tbl: Int, off: Long, row: Int, line: String): Unit = {
      out += ScriptLine(sec, tbl, off, row, sub, line); sub += 1
    }
    def banner(sec: Int, lines: String*): Unit =
      lines.foreach(emit(sec, -1, Long.MinValue, 0, _))

    banner(0,
      "-- SQL Sync Script - Full CRUD Support",
      "-- Generated to sync backup database with production",
      s"-- Generated on: $now",
      "",
      "-- WARNING: This script contains DELETE operations!",
      "-- Please review carefully before execution.",
      "-- Consider backing up your backup database before running this script.",
      "")

    if (o.extraTables.nonEmpty) {
      banner(1, "-- DROP Extra Tables", "-- ==================",
        "-- These tables exist in backup but not in production", "")
      o.extraTables.zipWithIndex.foreach { case (t, i) =>
        emit(1, i, 0, 0, s"-- Dropping extra table: $t")
        emit(1, i, 0, 1, s"DROP TABLE IF EXISTS `$t`;")
        emit(1, i, 0, 2, "")
      }
    }

    if (o.missingTables.nonEmpty) {
      banner(2, "-- CREATE Missing Tables", "-- =====================", "")
      o.missingTables.zipWithIndex.foreach { case (t, i) =>
        o.prodCatalog.get(t).foreach { meta =>
          emit(2, i, 0, 0, s"-- Creating missing table: $t")
          emit(2, i, 0, 1, s"DROP TABLE IF EXISTS `$t`;")
          emit(2, i, 0, 2, o.createSections.getOrElse(t, meta.createStmt))
          emit(2, i, 0, 3, "")
        }
      }
    }

    // op sections: banner if any table has ops, then per-table comment
    // before its statements and a blank line after them
    case class Sec(sec: Int, count: TableStats => Long, head: Seq[String],
        comment: (Long, String) => String)
    val secs = Seq(
      Sec(3, _.deletedCount,
        Seq("-- DELETE Records", "-- ===============",
          "-- Records that exist in backup but not in production", ""),
        (n, t) => s"-- Deleting $n records from $t"),
      Sec(4, _.updatedCount,
        Seq("-- UPDATE Records", "-- ===============",
          "-- Records with different values between production and backup", ""),
        (n, t) => s"-- Updating $n records in $t"),
      Sec(5, _.missingCount,
        Seq("-- INSERT Missing Records", "-- ======================",
          "-- Records that exist in production but not in backup", ""),
        (n, t) => s"-- Inserting $n missing records into $t"))
    secs.foreach { s =>
      val tables = o.commonTables.zipWithIndex
        .map { case (t, i) => (t, i, o.stats.get(t).map(s.count).getOrElse(0L)) }
        .filter(_._3 > 0)
      if (tables.nonEmpty) {
        banner(s.sec, s.head: _*)
        tables.foreach { case (t, i, n) =>
          emit(s.sec, i, Long.MinValue, 0, s.comment(n, t))
          emit(s.sec, i, Long.MaxValue, Int.MaxValue, "")
        }
      }
    }

    banner(6, "-- CRUD Statistics Summary", "-- =======================", "")
    var totalOperations = 0L
    if (o.missingTables.nonEmpty) {
      totalOperations += o.missingTables.size
      banner(6, s"-- Tables to CREATE: ${o.missingTables.size}")
    }
    if (o.extraTables.nonEmpty) {
      totalOperations += o.extraTables.size
      banner(6, s"-- Tables to DROP: ${o.extraTables.size}")
    }
    def total(f: TableStats => Long): Long =
      o.commonTables.flatMap(o.stats.get).map(f).sum
    val (ti, tu, td) =
      (total(_.missingCount), total(_.updatedCount), total(_.deletedCount))
    totalOperations += ti + tu + td
    banner(6,
      s"-- Records to INSERT: $ti",
      s"-- Records to UPDATE: $tu",
      s"-- Records to DELETE: $td",
      s"-- Total operations: $totalOperations",
      "",
      "-- Per-Table Statistics:")
    o.commonTables.foreach { t =>
      o.stats.get(t).foreach { s =>
        if (s.missingCount > 0 || s.updatedCount > 0 || s.deletedCount > 0)
          banner(6,
            s"-- $t:",
            s"--   Production: ${s.productionCount} records",
            s"--   Backup: ${s.backupCount} records",
            s"--   To INSERT: ${s.missingCount} records",
            s"--   To UPDATE: ${s.updatedCount} records",
            s"--   To DELETE: ${s.deletedCount} records")
      }
    }
    out.result()
  }

  /** The shared diff pipeline (steps 1-5 above) over two dumps. Each
    * dump's statement scan is cached MEMORY_AND_DISK so the catalog pass
    * and the record pass share one text scan per dump.
    */
  private def prepare(prodPath: String, backupPath: String): Prepared = {
    val scans = Seq(prodPath, backupPath).map(p =>
      DumpSource.statements(spark, p).persist(StorageLevel.MEMORY_AND_DISK))
    summarize(prodPath, scans) {
      // the two catalog passes are independent driver-blocking collects —
      // run them as concurrent Spark jobs so both dumps' statement scans
      // (and their caches) fill the executor in parallel
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val Seq(prod, backup) = scans.map(s => Future(catalogInfo(s)))
        .map(Await.result(_, Duration.Inf))
      def recs(stmts: Dataset[Stmt], info: SyncJob.CatalogInfo,
          common: Seq[String]) =
        records(stmts, info.metas).filter(col("table").isInCollection(common))
      (prod, backup, (common: Seq[String]) => Differ.classify(
        recs(scans(0), prod, common), recs(scans(1), backup, common),
        Seq("table", "pk"), Seq("vals")).cache())
    }
  }

  /** One diff summarized for the script routes, whatever produced it:
    * the two catalogs' common/missing/extra table split, the record diff
    * of the common tables (which the source caches or reads from a
    * cache, because the stats aggregate and the script both read it),
    * the CREATE sections and the per-table stats.
    * Catalogs that carry record counts (snapshot sidecars) supply the
    * stats' table totals, so a diff holding only changed rows still
    * reports every common table. `cached` and the diff are released on
    * failure, or by the caller through [[Prepared.release]].
    */
  private[graft] def summarize(prodPath: String, cached: Seq[Dataset[_]])(
      source: => (SyncJob.CatalogInfo, SyncJob.CatalogInfo,
        Seq[String] => DataFrame)): Prepared = {
    val held = scala.collection.mutable.ArrayBuffer[Dataset[_]](cached: _*)
    val release = () => held.foreach(_.unpersist())
    try {
      val (prod, backup, diff) = source
      val (prodCat, backupCat) = (prod.metas, backup.metas)
      val commonTables = prodCat.keys.filter(backupCat.contains).toSeq
      val missingTables = prodCat.keys.filterNot(backupCat.contains).toSeq
      val extraTables = backupCat.keys.filterNot(prodCat.contains).toSeq

      val joined = diff(commonTables)
      // released before the scans it is built on: uncaching a frame
      // re-plans the still-cached frames that depend on it
      held.prepend(joined)

      val sections = createSections(prodPath, missingTables,
        prod.firstCreatePos, prod.stmtEnd)
      val counted = joined.groupBy("table").agg(
        count(col("p_present")).as("productionCount"),
        count(col("b_present")).as("backupCount"),
        count(when(col("op") === Differ.OP_INSERT, 1)).as("missingCount"),
        count(when(col("op") === Differ.OP_UPDATE, 1)).as("updatedCount"),
        count(when(col("op") === Differ.OP_DELETE, 1)).as("deletedCount"),
        coalesce(sum(opBytesCol(prodCat, backupCat)), lit(0L)).as("opBytes"))
        .as[TableStats].collect()
        .map(s => s.table -> s).toMap
      val stats = (prod.counts, backup.counts) match {
        case (Some(pn), Some(bn)) => commonTables.map { t =>
          t -> counted.getOrElse(t, TableStats(t, 0L, 0L, 0L, 0L, 0L)).copy(
            productionCount = pn.getOrElse(t, 0L),
            backupCount = bn.getOrElse(t, 0L))
        }.toMap
        case _ => counted
      }
      new Prepared(joined, SyncOutcome(prodCat, backupCat, missingTables,
        extraTables, commonTables, stats, Nil, sections), release)
    } catch { case e: Throwable => release(); throw e }
  }

  /** The classified rows of a joined diff frame as [[DiffOp]]s: order
    * key from the backup for DELETE, from production otherwise.
    */
  private def diffOps(joined: DataFrame): Dataset[DiffOp] =
    joined.filter(col("op").isNotNull)
      .select(col("table"), col("pk"), col("op"),
        when(col("op") === Differ.OP_DELETE, col("b_ord_off"))
          .otherwise(col("p_ord_off")).as("ordOff"),
        when(col("op") === Differ.OP_DELETE, col("b_ord_row"))
          .otherwise(col("p_ord_row")).as("ordRow"),
        col("p_vals").as("prodVals"), col("b_vals").as("backupVals"),
        SyncSqlGenerator.rawInsertCol(col("table"), col("p_vals"))
          .as("rawInsert"))
      .as[DiffOp]

  /** The reference-quirk CREATE text of each missing table (see
    * [[SyncOutcome.createSections]]): the production dump's bytes from
    * its first CREATE TABLE through the table's own statement end. The
    * offsets count decompressed bytes, so the dump is read through its
    * path's Hadoop FS and compression codec, once for all tables.
    */
  private def createSections(prodPath: String, missingTables: Seq[String],
      firstCreatePos: Option[Long], stmtEnd: Map[String, Long])
      : Map[String, String] = {
    val ends = missingTables.flatMap(t => stmtEnd.get(t).map(t -> _))
    firstCreatePos.filter(_ => ends.nonEmpty).fold(Map.empty[String, String]) {
      start =>
        val path = new Path(prodPath)
        val conf = spark.sessionState.newHadoopConf()
        val raw = path.getFileSystem(conf).open(path)
        val in = Option(new CompressionCodecFactory(conf).getCodec(path))
          .fold[InputStream](raw)(_.createInputStream(raw))
        val buf = try {
          IOUtils.skipFully(in, start)
          val b = new Array[Byte]((ends.map(_._2).max - start).toInt)
          IOUtils.readFully(in, b, 0, b.length)
          b
        } finally in.close()
        ends.map { case (t, end) =>
          t -> new String(buf, 0, (end - start).toInt, UTF_8)
        }.toMap
    }
  }

  /** Estimated rendered-script bytes of one diff row — value text plus
    * per-(table, op) syntax overhead; 0 for unchanged rows. Summed per
    * table inside [[summarize]]'s existing stats aggregate (zero extra
    * jobs — a first cut ran it as its own pass and the bench charged the
    * collected route ~1 s for it), the total gates the collected
    * routes' driver collect: a million WIDE rows is GBs of driver heap
    * even though the op count reads "small".
    *
    * The overhead is an upper bound on the statement's non-value bytes,
    * computed driver-side by rendering the REAL codegen skeleton with
    * empty values over the table's full column list (so column names,
    * backticks, keyword text, and clause separators are charged exactly
    * as [[graft.codegen.SyncSqlGenerator]] will emit them — a flat
    * 64 B/op under-charged wide tables with long column names by a
    * constant factor and let the gate route multi-×-256 MB scripts to
    * the driver). Each value additionally carries +2 B for its ", "
    * separator, which also covers rows with MORE values than the
    * catalog's column list (the reference replays those verbatim).
    * UPDATE's WHERE clause re-renders the backup PK values, but those
    * are byte-equal to the production PK values already in the sum
    * (equal pk join keys ⇒ equal total component text length), so the
    * value sum covers SET + WHERE without a pk term.
    */
  private[graft] def opBytesCol(prodCat: scala.collection.Map[String, TableMeta],
      backupCat: scala.collection.Map[String, TableMeta])
      : org.apache.spark.sql.Column = {
    def emptyVals(m: TableMeta) = IndexedSeq.fill(m.columns.length)("")
    val updOh: Map[String, Long] = prodCat.iterator.map { case (t, m) =>
      t -> (SyncSqlGenerator.updateStatement(m, emptyVals(m), emptyVals(m))
        .length + 1L)
    }.toMap
    val insOh: Map[String, Long] = prodCat.iterator.map { case (t, m) =>
      t -> (DumpParser.rawInsert(m.name, Nil).length + 1L)
    }.toMap
    val delOh: Map[String, Long] = backupCat.iterator.map { case (t, m) =>
      t -> (SyncSqlGenerator.deleteStatement(m, emptyVals(m)).length + 1L)
    }.toMap
    val oh =
      when(col("op") === Differ.OP_UPDATE,
        element_at(typedLit(updOh), col("table")))
        .when(col("op") === Differ.OP_DELETE,
          element_at(typedLit(delOh), col("table")))
        .otherwise(element_at(typedLit(insOh), col("table")))
    when(col("op").isNotNull,
      aggregate(coalesce(col("p_vals"), col("b_vals")),
        lit(0L),
        (acc, x) => acc + coalesce(length(x).cast("long"), lit(4L)) + lit(2L))
        + coalesce(oh, lit(64L)))
      .otherwise(lit(0L))
  }

  /** Full sync script straight from two [[BucketedSync]] snapshots —
    * the repeated-sync fast path behind the CLI `--state` flag. It
    * writes through [[syncAuto]]'s size-routed sink and returns what
    * [[syncAuto]] returns, with the same bytes on the same dump pair
    * (the golden spec pins it), but the dumps are never re-parsed: catalogs, table
    * counts, and CREATE-section offsets come from the snapshot
    * sidecars; the row diff is the Merkle-gated changed-tables-only
    * exchange-free bucket join ([[BucketedSync.diffChanged]]).
    * Unchanged tables contribute their sidecar counts to the stats tail
    * without a single row read. `prodPath` is touched only to slice the
    * reference-quirk CREATE text when the backup is missing a table.
    */
  def syncFromBucketed(prodTable: String, backupTable: String,
      prodPath: String, outPath: String, now: String,
      maxCollectedOps: Long = SyncJob.DefaultMaxCollectedOps)
      : (SyncOutcome, Option[String]) = {
    val d = summarize(prodPath, Nil)((
      BucketedSync.catalogInfoOf(spark, prodTable),
      BucketedSync.catalogInfoOf(spark, backupTable),
      (common: Seq[String]) =>
        BucketedSync.diffChanged(spark, prodTable, backupTable, common).cache()))
    try (d.outcome, syncAuto(d, outPath, outPath + ".parts", now, maxCollectedOps))
    finally d.release()
  }
}

object SyncJob {
  /** Schema of [[SyncJob.recordRows]]: the names, types and nullability
    * an encoded (table: String, off: Long, row: Int, pk: String,
    * vals: Seq[String]) case class has.
    */
  private[graft] val RecordSchema: StructType = StructType(Seq(
    StructField("table", StringType),
    StructField("off", LongType, nullable = false),
    StructField("row", IntegerType, nullable = false),
    StructField("pk", StringType),
    StructField("vals", ArrayType(StringType))))

  /** Collected-script routing threshold for [[SyncJob.syncAuto]]:
    * above this many classified ops the script goes through the
    * distributed text sink instead of a driver collect. 1M ops of
    * TYPICAL width ≈ tens of MB of script bytes — comfortably a driver string, while
    * anything larger is the at-scale regime where the single-file
    * contract stops being the point. The op count alone is NOT a safe
    * driver-heap bound (a million wide rows renders to GBs), so the
    * routed sinks also gate on [[MaxCollectedBytes]] via an estimated
    * rendered size; callers raising maxCollectedOps are raising op
    * COUNT only — the byte ceiling still applies.
    */
  val DefaultMaxCollectedOps: Long = 1000000L

  /** Hard byte ceiling for the collected routes: estimated rendered
    * script size above this always takes the distributed sink,
    * whatever the op count. 256 MB of collected lines, written out
    * without being joined into one string, sits safely inside a modest
    * driver heap; the estimate is value text plus each (table, op)'s
    * rendered syntax skeleton ([[SyncJob.opBytesCol]]).
    */
  val MaxCollectedBytes: Long = 256L << 20

  /** The collected route's driver-side line order: the same
    * (sec, tbl, off, row, sub) key the parts route range-sorts by,
    * compared field by field without allocating a key per comparison.
    */
  private val LineOrder: Ordering[ScriptLine] = Ordering.comparatorToOrdering(
    java.util.Comparator.comparingInt[ScriptLine](_.sec)
      .thenComparingInt((l: ScriptLine) => l.tbl)
      .thenComparingLong((l: ScriptLine) => l.off)
      .thenComparingInt((l: ScriptLine) => l.row)
      .thenComparingInt((l: ScriptLine) => l.sub))

  /** A dump's DDL-ordered catalog plus the byte positions that reproduce
    * the reference's whole-file CREATE-statement capture (see
    * [[SyncOutcome.createSections]]): the byte position of the first
    * "CREATE TABLE" token in the file and each table's own statement-end
    * byte (exclusive of the '\n' after ';'). Restored from a
    * [[BucketedSync]] snapshot sidecar it also carries the per-table
    * post-dedup record `counts`; parsed from a dump it has none, and the
    * diff counts the records.
    */
  private[graft] final case class CatalogInfo(
      metas: ListMap[String, TableMeta],
      firstCreatePos: Option[Long],
      stmtEnd: Map[String, Long],
      counts: Option[Map[String, Long]] = None)

  /** Write `cat` as a catalog sidecar: one parquet row per table, in DDL
    * order — `ord`, `table`, `columns`, `pkCols`, `createStmt`,
    * `colTypes`, then one column per `extra` field, valued per table
    * name. [[BucketedSync]] snapshots (with their snapshot-only fields)
    * and the dump watcher's state versions each carry one;
    * [[readCatalog]] reads both.
    */
  private[graft] def writeCatalog(spark: SparkSession, path: String,
      cat: ListMap[String, TableMeta],
      extra: Seq[(StructField, String => Any)] = Nil): Unit = {
    val schema = StructType(Seq(
      StructField("ord", LongType), StructField("table", StringType),
      StructField("columns", ArrayType(StringType)),
      StructField("pkCols", ArrayType(StringType)),
      StructField("createStmt", StringType),
      StructField("colTypes", ArrayType(StringType))) ++ extra.map(_._1))
    val rows = cat.toSeq.zipWithIndex.map { case ((t, m), i) =>
      Row.fromSeq(Seq(i.toLong, t, m.columns, m.pkCols, m.createStmt,
        m.colTypes) ++ extra.map(_._2(t)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** A catalog sidecar ([[writeCatalog]]) read back as the DDL-ordered
    * catalog, with the rows for the writer's extra columns.
    */
  private[graft] def readCatalog(spark: SparkSession, path: String)
      : (ListMap[String, TableMeta], Array[Row]) = {
    val rows = spark.read.parquet(path).collect().sortBy(_.getAs[Long]("ord"))
    (ListMap(rows.map { r =>
      val t = r.getAs[String]("table")
      t -> TableMeta(t, r.getAs[Seq[String]]("columns").toIndexedSeq,
        r.getAs[Seq[String]]("pkCols").toIndexedSeq,
        r.getAs[String]("createStmt"),
        r.getAs[Seq[String]]("colTypes").toIndexedSeq)
    }: _*), rows)
  }
}
