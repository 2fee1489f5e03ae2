package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Differ, TypedMode}
import graft.parse.DumpParser
import graft.tools.DumpGen

/** Typed native mode: CREATE TABLE type tokens → Spark types, and the
  * dump → typed DataFrame round trip must be value-exact against the
  * parquet the dump was generated from.
  */
class TypedModeSpec extends SparkSuite {

  private val ddl =
    """CREATE TABLE `t` (
      |  `id` int(11) NOT NULL AUTO_INCREMENT,
      |  `big` BIGINT,
      |  `name` varchar(50) DEFAULT NULL,
      |  `amount` decimal(10,2),
      |  `ratio` double,
      |  `born` DATE,
      |  `seen` datetime,
      |  `blob` text,
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB;""".stripMargin

  test("extractColumnTypes keeps tokens aligned with columns") {
    val meta = DumpParser.parseCreate(ddl).get
    assert(meta.columns == IndexedSeq(
      "id", "big", "name", "amount", "ratio", "born", "seen", "blob"))
    assert(meta.colTypes == IndexedSeq(
      "int(11)", "BIGINT", "varchar(50)", "decimal(10,2)", "double",
      "DATE", "datetime", "text"))
  }

  test("real-world DDL shapes: unsigned, ENUM, DEFAULT clauses") {
    val ddl2 =
      """CREATE TABLE `z` (
        |  `a` int(10) unsigned NOT NULL,
        |  `b` ENUM('x','y z') DEFAULT 'x',
        |  `c` bigint unsigned zerofill,
        |  `d` timestamp DEFAULT CURRENT_TIMESTAMP,
        |  `e` varchar(10) CHARACTER SET utf8 COLLATE utf8_bin,
        |  PRIMARY KEY (`a`)
        |) ENGINE=InnoDB;""".stripMargin
    val meta = DumpParser.parseCreate(ddl2).get
    assert(meta.colTypes == IndexedSeq(
      "int(10)", "ENUM('x','yz')", "bigint", "timestamp", "varchar(10)"))
    val types = TypedMode.schemaOf(meta).fields.map(_.dataType).toSeq
    assert(types == Seq(LongType, StringType, LongType, TimestampType,
      StringType))
  }

  test("sparkType maps the MySQL type zoo") {
    assert(TypedMode.sparkType("int(11)") == LongType)
    assert(TypedMode.sparkType("BIGINT") == LongType)
    assert(TypedMode.sparkType("decimal(10,2)") == DecimalType(10, 2))
    assert(TypedMode.sparkType("double") == DoubleType)
    assert(TypedMode.sparkType("DATE") == DateType)
    assert(TypedMode.sparkType("datetime") == TimestampNTZType)
    assert(TypedMode.sparkType("TIMESTAMP") == TimestampType)
    assert(TypedMode.sparkType("varchar(50)") == StringType)
    assert(TypedMode.sparkType("text") == StringType)
    assert(TypedMode.sparkType("sproingfloop") == StringType)
  }

  test("typed snapshot round-trips the orders parquet exactly") {
    val dir = Files.createTempDirectory("typed_rt").toString
    val (prod, _) = DumpGen.generatePkKeyed(
      spark, "/root/testdata/sf0.001", dir, "orders", "o_orderkey")
    val typed = TypedMode.typedSnapshot(spark, prod.toString)("orders")
    val source = Tables.orders(spark, "/root/testdata/sf0.001")
    assert(typed.schema.map(f => (f.name, f.dataType)) ==
      source.schema.map(f => (f.name, f.dataType)))
    assert(typed.exceptAll(source).count() == 0)
    assert(source.exceptAll(typed).count() == 0)
  }

  test("typed diff classifies the pk-keyed perturbation") {
    val dir = Files.createTempDirectory("typed_diff").toString
    val sf = "/root/testdata/sf0.001"
    val (prod, backup) = DumpGen.generatePkKeyed(
      spark, sf, dir, "orders", "o_orderkey")
    val ps = TypedMode.typedSnapshot(spark, prod.toString)("orders")
    val bs = TypedMode.typedSnapshot(spark, backup.toString)("orders")
    val diff = Differ.diff(ps, bs, Seq("o_orderkey")).cache()
    val src = Tables.orders(spark, sf)
    val expIns = src.filter(col("o_orderkey") % 20 === 0).count()
    val expUpd = src.filter(col("o_orderkey") % 20 === 1).count()
    val expDel = src.filter(col("o_orderkey") % 20 === 2).count()
    def n(op: String) = diff.filter(col("op") === op).count()
    assert(n("INSERT") == expIns)
    assert(n("UPDATE") == expUpd)
    assert(n("DELETE") == expDel)
    // every UPDATE is exactly the planted status change
    assert(diff.filter(col("op") === "UPDATE")
      .filter(col("b_o_orderstatus") =!= "MODIFIED").count() == 0)
    diff.unpersist()
  }

  test("typed semantics: trailing-zero decimals equal, compat strings differ") {
    val d =
      """CREATE TABLE `acct` (
        |  `id` INT(11),
        |  `bal` DECIMAL(10,2),
        |  PRIMARY KEY (`id`)
        |) ENGINE=InnoDB;
        |""".stripMargin
    val prod = d + "INSERT INTO `acct` (`id`, `bal`) VALUES\n(1, 1.50),\n(2, 2.00);\n"
    val backup = d + "INSERT INTO `acct` (`id`, `bal`) VALUES\n(1, 1.5),\n(2, 2.01);\n"
    def f(text: String) = {
      val p = Files.createTempFile("typed", ".sql")
      Files.write(p, text.getBytes("UTF-8"))
      p.toString
    }
    val ps = TypedMode.typedSnapshot(spark, f(prod))("acct")
    val bs = TypedMode.typedSnapshot(spark, f(backup))("acct")
    assert(ps.schema("bal").dataType == DecimalType(10, 2))
    val ops = Differ.diff(ps, bs, Seq("id"))
      .select("id", "op").collect().map(r => (r.getLong(0), r.getString(1)))
    // 1.50 == 1.5 under DECIMAL semantics (the compat engine's raw-string
    // diff marks it UPDATE); 2.00 vs 2.01 is a real change
    assert(ops.toSeq == Seq((2L, "UPDATE")))
  }

  test("typed diff of a table whose columns are all primary key") {
    // a composite-key link table has no value column: rows only come
    // and go, so the diff is INSERTs and DELETEs and never an UPDATE.
    // The dump's record key of a composite PK falls back to the first
    // value (reference parity), so each dump holds distinct `a` values.
    val d =
      """CREATE TABLE `link` (
        |  `a` INT(11),
        |  `b` INT(11),
        |  PRIMARY KEY (`a`,`b`)
        |) ENGINE=InnoDB;
        |""".stripMargin
    def f(text: String) = {
      val p = Files.createTempFile("typed_link", ".sql")
      Files.write(p, text.getBytes("UTF-8"))
      p.toString
    }
    val prod = d + "INSERT INTO `link` (`a`, `b`) VALUES\n" +
      "(1, 10),\n(2, 20),\n(4, 40),\n(5, 50);\n"
    val backup = d + "INSERT INTO `link` (`a`, `b`) VALUES\n" +
      "(1, 10),\n(2, 20),\n(3, 30),\n(5, 51);\n"
    val ps = TypedMode.typedSnapshot(spark, f(prod))("link")
    val bs = TypedMode.typedSnapshot(spark, f(backup))("link")
    val ops = Differ.diff(ps, bs, Seq("a", "b"))
      .select("a", "b", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(ops == Set((4L, 40L, "INSERT"), (5L, 50L, "INSERT"),
      (3L, 30L, "DELETE"), (5L, 51L, "DELETE")))
  }
}
