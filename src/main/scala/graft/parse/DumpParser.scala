package graft.parse

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.model.TableMeta

/** Pure-Scala MySQL-dump grammar, reimplementing the reference parser's
  * documented semantics (/root/reference/sync.py:29-173, catalogued in
  * SURVEY.md §1.3/§2.1). Spark-free — the DDL half runs on the driver
  * (catalogs are small); the DML half is [[DumpParser.RecordScan]], one
  * byte scanner each executor partition runs over its INSERT statements.
  *
  * Deliberate semantic deviations (SURVEY.md §7.4 item 3 — our grammar is
  * a superset; differential tests exclude inputs hitting reference bugs):
  *  - value-set splitting is quote-aware, so `)` inside a string literal
  *    does not truncate the row (reference bug at sync.py:111-112);
  *  - statements are pre-split on `;\n` boundaries instead of regexing the
  *    whole file, which removes the O(tables × filesize) rescan
  *    (sync.py:43-44) and makes the scan splittable at 100 TB.
  *
  * Preserved reference quirks:
  *  - only single-column explicit PRIMARY KEYs match; composite keys fall
  *    through to AUTO_INCREMENT then the literal "id" (sync.py:89-104);
  *  - INSERTs require an explicit column list (sync.py:55) yet the
  *    reconstructed raw insert omits it (sync.py:69);
  *  - a PK column absent from the column list keys on the row's first
  *    value (sync.py:169-171);
  *  - values keep their quote characters and are compared as raw strings.
  */
object DumpParser {

  private val CreateHead = "(?is)CREATE TABLE.*?`(\\w+)`\\s*\\((.*?)\\)\\s*ENGINE.*".r
  private val ColumnLine = "`(\\w+)`.*".r
  private val ColumnTypeLine = "`(\\w+)`\\s+([A-Za-z]+(?:\\s*\\([^)]*\\))?).*".r
  private val PkLine = "(?is).*?PRIMARY KEY\\s*\\(\\s*`([^`]+)`\\s*\\).*".r
  private val AutoIncCol = "(?i)`(\\w+)`[^,\\n]*AUTO_INCREMENT".r

  /** Is this statement a CREATE TABLE the reference grammar accepts? */
  def parseCreate(stmtText: String): Option[TableMeta] = stmtText.trim match {
    case CreateHead(name, body) =>
      Some(TableMeta(
        name = name,
        columns = extractColumns(body),
        pkCols = extractPrimaryKey(body),
        createStmt = stmtText.trim + ";",
        colTypes = extractColumnTypes(body)))
    case _ => None
  }

  /** Column names: one per line starting with a backtick, skipping index
    * lines (sync.py:74-87). Order = declaration order.
    */
  def extractColumns(tableDef: String): IndexedSeq[String] =
    tableDef.split('\n').iterator
      .map(_.trim)
      .filter(l => l.startsWith("`"))
      .collect { case ColumnLine(name) => name }
      .toIndexedSeq

  /** Raw SQL type token per column line, aligned with [[extractColumns]]
    * (empty token for a column line whose type does not parse). The
    * reference keeps only names (sync.py:74-87); typed native mode uses
    * these to emit Long/Double/Timestamp/Decimal columns instead of
    * all-string compat frames.
    */
  def extractColumnTypes(tableDef: String): IndexedSeq[String] =
    tableDef.split('\n').iterator
      .map(_.trim)
      .filter(l => l.startsWith("`"))
      .collect {
        case ColumnTypeLine(_, tpe) => tpe.replaceAll("\\s+", "")
        case ColumnLine(_) => ""
      }
      .toIndexedSeq

  /** PK fallback chain: explicit single-column PRIMARY KEY →
    * first AUTO_INCREMENT column → literal "id" (sync.py:89-104).
    */
  def extractPrimaryKey(tableDef: String): IndexedSeq[String] = tableDef match {
    case PkLine(pk) => IndexedSeq(pk)
    case _ =>
      AutoIncCol.findFirstMatchIn(tableDef) match {
        case Some(m) => IndexedSeq(m.group(1))
        case None => IndexedSeq("id")
      }
  }

  /** Catalog of a full dump from its statement stream, preserving
    * statement order (the reference's dict-insertion order).
    */
  def parseCatalog(stmts: Iterator[String]): ListMap[String, TableMeta] = {
    val out = mutable.LinkedHashMap.empty[String, TableMeta]
    stmts.foreach { s =>
      parseCreate(s).foreach(m => out(m.name) = m)
    }
    ListMap.from(out)
  }

  /** INSERT recognizer: explicit column list required (sync.py:55);
    * returns (table, valuesBlob), the blob starting after `VALUES` and
    * the whitespace that follows it.
    */
  def parseInsert(stmtText: String): Option[(String, String)] = {
    val b = stmtText.getBytes(UTF_8)
    val s = new RecordScan(Map.empty)
    if (!s.head(b, 0, b.length)) None
    else Some((s.tableName, new String(b, s.pos, b.length - s.pos, UTF_8)))
  }

  /** Split a VALUES blob into individual `(...)` groups, honoring quoted
    * strings (quote-aware superset of the reference's naive regex,
    * sync.py:106-119).
    */
  def splitValueSets(valuesPart: String): List[String] = {
    val b = valuesPart.getBytes(UTF_8)
    val s = new RecordScan(Map.empty).over(b, 0, b.length)
    val out = List.newBuilder[String]
    while (s.nextSet()) out += new String(b, s.setFrom, s.setUntil - s.setFrom, UTF_8)
    out.result()
  }

  /** Comma-split one value set, honoring '/" quoting and SQL doubled-quote
    * escapes; values keep their quotes and are whitespace-trimmed; a
    * trailing empty field is dropped — exact port of the reference state
    * machine's semantics (sync.py:121-158).
    */
  def splitValues(valueSet: String): IndexedSeq[String] = {
    val b = valueSet.getBytes(UTF_8)
    val s = new RecordScan(Map.empty).over(b, 0, b.length)
    s.cutAll()
    IndexedSeq.tabulate(s.values)(k =>
      new String(b, s.valueFrom(k), s.valueUntil(k) - s.valueFrom(k), UTF_8))
  }

  /** Pipe-joined PK string (sync.py:160-173): PK columns projected by
    * position; a PK column missing from the column list falls back to the
    * row's first value; an index past the row's end contributes nothing.
    * [[RecordScan]]'s callers apply the same rule to its byte cuts.
    */
  def pkString(values: IndexedSeq[String], meta: TableMeta): String =
    pkIndexes(meta).iterator.filter(_ < values.length)
      .map(i => if (i < 0) values.headOption.getOrElse("") else values(i))
      .mkString("|")

  /** Each PK column's position in the column list, -1 when absent. */
  private def pkIndexes(meta: TableMeta): Array[Int] =
    meta.pkCols.map(meta.columns.indexOf(_)).toArray

  /** The one tokenizer of INSERT statements: a single pass over a
    * statement's UTF-8 bytes that matches the INSERT head by hand and cuts
    * each value set into values, reporting byte offsets — the executor
    * side of [[graft.engine.SyncJob.records]], which makes one scanner per
    * partition over the catalog `cat` (the String forms above run on it
    * too). Bytes tokenize exactly as chars do: every delimiter is ASCII,
    * and no byte of a multi-byte UTF-8 character is below 0x80.
    *
    * The head is matched as the reference grammar's regex
    * \s*INSERT INTO\s+`(\w+)`\s*\([^)]+\)\s*VALUES\s* (sync.py:55)
    * matches it: Java's `\s` (the six bytes ` \t\n\x0B\f\r`) and `\w`
    * (`[A-Za-z0-9_]`), keywords ASCII case-insensitive.
    *
    * Drop reasons — every record a statement yields no row for, one
    * place to count them:
    *  - the statement is not an INSERT with a column list ([[start]]'s
    *    head match fails, sync.py:55);
    *  - its table has no CREATE in the catalog ([[start]], sync.py:59);
    *  - its last value set has no closing `)` ([[nextSet]] returns false).
    * A row whose value count differs from the column list is kept.
    */
  final class RecordScan(cat: scala.collection.Map[String, TableMeta]) {
    /** The catalog's tables; [[table]] indexes them. */
    val tables: Array[TableMeta] = cat.values.toArray
    private val tableIndex = tables.iterator.map(_.name).zipWithIndex.toMap
    private val pkAt = tables.map(pkIndexes)

    private var b = Array.emptyByteArray
    private var end = 0
    /** Scan position; after a head match, the VALUES blob's start. */
    private[parse] var pos = 0
    private var tableFrom = 0
    private var tableUntil = 0
    /** The current value set's bytes: after its `(`, up to its `)`. */
    private[parse] var setFrom = 0
    private[parse] var setUntil = 0
    /** The current statement's table, as an index into [[tables]]. */
    var table = -1
    /** Value count of the current set; value k is bytes
      * [[valueFrom]](k) until [[valueUntil]](k).
      */
    var values = 0
    private var cuts = new Array[Int](32)

    def valueFrom(k: Int): Int = cuts(2 * k)
    def valueUntil(k: Int): Int = cuts(2 * k + 1)
    /** Positions of the current table's PK columns ([[pkIndexes]]). */
    def pk: Array[Int] = pkAt(table)

    /** Starts the statement in `bytes` [from, until): true when it is an
      * INSERT with a column list into a catalogued table, and then
      * [[nextSet]] walks its value sets.
      */
    def start(bytes: Array[Byte], from: Int, until: Int): Boolean =
      head(bytes, from, until) && {
        table = tableIndex.getOrElse(tableName, -1)
        table >= 0
      }

    /** Cuts the next complete value set; false when none is left. */
    def nextSet(): Boolean = {
      while (pos < end && b(pos) != '(') pos += 1
      pos < end && cut(pos + 1, ')')
    }

    private[parse] def tableName: String =
      new String(b, tableFrom, tableUntil - tableFrom, US_ASCII)

    private[parse] def over(bytes: Array[Byte], from: Int, until: Int): this.type = {
      b = bytes; pos = from; end = until
      this
    }

    /** Cuts everything up to the end as one value set, `)` included. */
    private[parse] def cutAll(): Unit = { cut(pos, Bare); () }

    private[parse] def head(bytes: Array[Byte], from: Int, until: Int): Boolean = {
      over(bytes, from, until)
      var i = keyword(spaces(from), "INSERT INTO")
      val t = spaces(i)
      if (t == i || !at(t, '`')) return false
      i = t + 1
      while (i < end && isWord(b(i))) i += 1
      if (i == t + 1 || !at(i, '`')) return false
      tableFrom = t + 1; tableUntil = i
      i = spaces(i + 1)
      if (!at(i, '(') || i + 1 >= end || b(i + 1) == ')') return false
      i += 2
      while (i < end && b(i) != ')') i += 1
      if (i >= end) return false
      i = keyword(spaces(i + 1), "VALUES")
      if (i < 0) return false
      pos = spaces(i)
      true
    }

    private def at(i: Int, c: Char): Boolean = i >= 0 && i < end && b(i) == c

    /** First position from `i` that is not a `\s` byte (`i` if negative). */
    private def spaces(i: Int): Int = {
      var j = i
      while (j >= 0 && j < end && { val c = b(j); c == ' ' || (c >= '\t' && c <= '\r') })
        j += 1
      j
    }

    /** Position after `kw` (upper case) matched ASCII case-insensitively
      * at `i`, or -1.
      */
    private def keyword(i: Int, kw: String): Int = {
      if (i < 0 || i + kw.length > end) return -1
      var k = 0
      while (k < kw.length) {
        val w = kw.charAt(k)
        val c = b(i + k)
        if (c != w && !(w >= 'A' && w <= 'Z' && c == w + 32)) return -1
        k += 1
      }
      i + kw.length
    }

    private def isWord(c: Byte): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
        c == '_'

    /** The one value-splitting loop: cuts values at unquoted commas from
      * `from` to an unquoted `close` (true) or the end (true only for
      * [[Bare]]). A doubled quote (SQL's escape) needs no case of its
      * own: closing and reopening the literal leaves the same state. Each
      * value is trimmed of bytes <= 0x20 (`String.trim`'s rule); a last
      * field that trims empty is dropped.
      */
    private def cut(from: Int, close: Int): Boolean = {
      values = 0; setFrom = from
      var s = from
      var quote = 0
      var i = from
      while (i < end) {
        val c = b(i)
        if (quote != 0) { if (c == quote) quote = 0 }
        else if (c == '\'' || c == '"') quote = c
        else if (c == ',') { add(s, i, keepEmpty = true); s = i + 1 }
        else if (c == close) {
          add(s, i, keepEmpty = false); setUntil = i; pos = i + 1
          return true
        }
        i += 1
      }
      pos = end
      close == Bare && { add(s, end, keepEmpty = false); setUntil = end; true }
    }

    private def add(from: Int, until: Int, keepEmpty: Boolean): Unit = {
      var s = from
      var e = until
      while (s < e && (b(s) & 0xff) <= 0x20) s += 1
      while (e > s && (b(e - 1) & 0xff) <= 0x20) e -= 1
      if (keepEmpty || s < e) {
        if (2 * values + 2 > cuts.length) cuts = java.util.Arrays.copyOf(cuts, 2 * cuts.length)
        cuts(2 * values) = s; cuts(2 * values + 1) = e
        values += 1
      }
    }
  }

  /** A `close` no byte equals: the value set runs to the end. */
  private val Bare = 256

  /** Reconstructed single-row INSERT, column list deliberately omitted
    * (sync.py:69).
    */
  def rawInsert(table: String, values: Seq[String]): String =
    s"INSERT INTO `$table` VALUES (${values.mkString(", ")});"
}
