package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Differ, TypedMode}
import graft.tools.DumpGen

/** Typed native mode for dump data as a driver-checkable query: a dump
  * pair generated from the orders parquet with a PK-VALUE-keyed
  * perturbation (pk%20 — so the expected diff is plain SQL over the same
  * parquet, no dump parsing needed on the oracle side), parsed back with
  * [[TypedMode]] into real Long/Double/Timestamp columns and diffed with
  * typed null-safe semantics. The oracle replays the perturbation rule
  * directly against the parquet table — the dump write → statement scan →
  * tokenizer → typed cast round trip must be value-exact for every column
  * type or the hash comparison fails.
  */
object TypedQueries {

  private type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q39
  val q39: Q = (s, dir) => {
    val sfName = java.nio.file.Paths.get(dir).getFileName.toString
    val outDir = s"/tmp/graft_typed_dumps_${sfName}_v${DumpGen.FormatVersion}"
    val (prod, backup) =
      DumpGen.generatePkKeyed(s, dir, outDir, "orders", "o_orderkey")
    val ps = TypedMode.typedSnapshot(s, prod.toString)("orders")
    val bs = TypedMode.typedSnapshot(s, backup.toString)("orders")
    Differ.diff(ps, bs, Seq("o_orderkey"))
      .select(col("o_orderkey"), col("op"),
        col("p_o_totalprice").as("p_totalprice"),
        col("b_o_orderstatus").as("b_status"),
        col("p_o_orderdate").as("p_orderdate"))
      .orderBy("o_orderkey")
  }
  val q39Sql: String =
    """WITH m AS (SELECT max(o_orderkey) AS mx FROM orders),
      |b AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 20 = 1 THEN 'MODIFIED' ELSE o_orderstatus END AS o_orderstatus,
      |    o_totalprice, o_orderdate
      |  FROM orders WHERE o_orderkey % 20 <> 0
      |  UNION ALL
      |  SELECT mx + row_number() OVER (ORDER BY o_orderkey) AS o_orderkey,
      |    o_orderstatus, o_totalprice, o_orderdate
      |  FROM orders CROSS JOIN m WHERE o_orderkey % 20 = 2),
      |p AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
      |d AS (
      |  SELECT coalesce(p.o_orderkey, b.o_orderkey) AS o_orderkey,
      |    CASE WHEN b.o_orderkey IS NULL THEN 'INSERT'
      |         WHEN p.o_orderkey IS NULL THEN 'DELETE'
      |         WHEN p.o_orderstatus IS DISTINCT FROM b.o_orderstatus
      |           OR p.o_totalprice IS DISTINCT FROM b.o_totalprice
      |           OR p.o_orderdate IS DISTINCT FROM b.o_orderdate THEN 'UPDATE'
      |         END AS op,
      |    p.o_totalprice AS p_totalprice,
      |    b.o_orderstatus AS b_status,
      |    p.o_orderdate AS p_orderdate
      |  FROM p FULL OUTER JOIN b ON p.o_orderkey = b.o_orderkey)
      |SELECT o_orderkey, op, p_totalprice, b_status, p_orderdate
      |FROM d WHERE op IS NOT NULL
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, Q] = Map("q39_typed_dump_diff" -> q39)
  val oracle: Map[String, String] = Map("q39_typed_dump_diff" -> q39Sql)
}
