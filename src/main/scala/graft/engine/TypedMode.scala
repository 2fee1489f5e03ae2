package graft.engine

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.TableMeta
import graft.sources.DumpSource

/** Typed "native mode" for dump data (SURVEY §1.4/§7 step 6): where the
  * reference — and the byte-parity compat engine — treat every dump value
  * as a raw quoted string (sync.py:74-87 discards the CREATE TABLE type
  * tokens), typed mode maps those tokens to Spark types and emits real
  * Long/Double/Decimal/Date/Timestamp columns. That is what lets dump
  * data join against typed JDBC/parquet tables, take range predicates
  * (with pushdown once persisted), and diff with proper value semantics
  * ('1' == 1, trailing-zero decimals) instead of raw-string equality.
  *
  * Compat mode is unchanged — typed mode is a parallel read path over the
  * same statement scan and record frames, so golden byte-parity output
  * still comes from the string pipeline. Typed snapshots diff through
  * the engine's one keyed classifier, [[Differ.diff]], whose null-safe
  * comparison then carries the real type semantics.
  *
  * Scale: the per-table snapshot is a projection over the (table, pk)
  * record frame — same single shuffle as the compat path; casts are
  * per-row column expressions inside whole-stage codegen.
  */
object TypedMode {

  /** MySQL type token (as [[graft.parse.DumpParser.extractColumnTypes]]
    * normalizes it, e.g. "INT(11)", "DECIMAL(10,2)") → Spark type.
    * Unknown tokens stay strings — never lossy.
    */
  def sparkType(token: String): DataType = {
    val t = token.toUpperCase(Locale.ROOT)
    val base = t.takeWhile(_ != '(')
    base match {
      case "TINYINT" | "SMALLINT" | "MEDIUMINT" | "INT" | "INTEGER" |
           "BIGINT" | "YEAR" => LongType
      case "DECIMAL" | "NUMERIC" =>
        val args = t.dropWhile(_ != '(').stripPrefix("(").stripSuffix(")")
        args.split(',') match {
          case Array(p, s) => DecimalType(p.trim.toInt, s.trim.toInt)
          case Array(p) if p.nonEmpty => DecimalType(p.trim.toInt, 0)
          case _ => DecimalType(10, 0)
        }
      case "FLOAT" | "DOUBLE" | "REAL" => DoubleType
      case "DATE" => DateType
      // MySQL DATETIME is wall-clock (no zone) → TIMESTAMP_NTZ;
      // MySQL TIMESTAMP is UTC-normalized → session-zoned TimestampType
      case "DATETIME" => TimestampNTZType
      case "TIMESTAMP" => TimestampType
      case _ => StringType // VARCHAR/CHAR/TEXT/BLOB/ENUM/unparsed
    }
  }

  /** Typed schema of a parsed table (string for columns whose type token
    * is missing).
    */
  def schemaOf(meta: TableMeta): StructType =
    StructType(meta.columns.zipWithIndex.map { case (c, i) =>
      val tok = if (i < meta.colTypes.length) meta.colTypes(i) else ""
      StructField(c, if (tok.isEmpty) StringType else sparkType(tok))
    })

  /** Dump-literal string → SQL value: unquote 'x'/"x" (collapsing the
    * doubled-quote escape the tokenizer preserves), bare NULL → null.
    * Pure built-in expressions — stays in codegen.
    */
  def unquoted(v: Column): Column = {
    def stripped(q: String): Column =
      regexp_replace(v.substr(lit(2), length(v) - 2), q + q, q)
    when(v === "NULL", lit(null).cast(StringType))
      .when(length(v) >= 2 && v.startsWith("'") && v.endsWith("'"), stripped("'"))
      .when(length(v) >= 2 && v.startsWith("\"") && v.endsWith("\""), stripped("\""))
      .otherwise(v)
  }

  /** Typed projection of one table from a compat record frame
    * ([[SyncJob.records]] output filtered to `meta.name`): positional
    * value → unquote → cast to the declared type.
    */
  def typedTable(records: DataFrame, meta: TableMeta): DataFrame = {
    val fields = schemaOf(meta).fields
    val cols = fields.zipWithIndex.map { case (f, i) =>
      unquoted(col("vals").getItem(i)).cast(f.dataType).as(f.name)
    }
    records.filter(col("table") === meta.name).select(cols.toIndexedSeq: _*)
  }

  /** Parse a whole dump into typed per-table DataFrames (one statement
    * scan, one record shuffle; each table is a filtered projection).
    */
  def typedSnapshot(spark: SparkSession, dumpPath: String)
      : Map[String, DataFrame] = {
    val job = new SyncJob(spark)
    val stmts = DumpSource.statements(spark, dumpPath)
    val cat = job.catalog(stmts)
    val recs = job.records(stmts, cat)
    cat.map { case (name, meta) => name -> typedTable(recs, meta) }
  }
}
