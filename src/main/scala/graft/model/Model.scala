package graft.model

/** Catalog entry for one dumped table — the engine's equivalent of the
  * reference's `TableInfo` (/root/reference/sync.py:16-22) minus the
  * record map (records live in DataFrames, not driver memory).
  *
  * @param name       table name (`\w+` per the reference's grammar)
  * @param columns    ordered column names; record values match by position
  * @param pkCols     primary-key columns from the reference's fallback
  *                   chain (explicit single-col PK → AUTO_INCREMENT → "id")
  * @param createStmt full CREATE TABLE statement text (with trailing ';')
  * @param colTypes   raw SQL type token per column (e.g. "INT(11)",
  *                   "VARCHAR(255)", "DATETIME") in declaration order —
  *                   the tokens the reference discards (sync.py:74-87
  *                   keeps names only); typed native mode
  *                   ([[graft.engine.TypedMode]]) maps them to Spark types
  */
final case class TableMeta(
    name: String,
    columns: IndexedSeq[String],
    pkCols: IndexedSeq[String],
    createStmt: String,
    colTypes: IndexedSeq[String] = IndexedSeq.empty)

/** One dump statement: byte offset of the statement start within the dump
  * file (global order key, stable across partitioned reads) + text.
  */
final case class Stmt(off: Long, text: String)
