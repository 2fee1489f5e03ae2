package graft

import graft.engine.Differ

/** DataFrame-level diff operator (typed/native mode). */
class DifferSpec extends SparkSuite {
  import spark.implicits._

  test("diff classifies INSERT/UPDATE/DELETE with null-safe comparison") {
    val prod = Seq((1, Some("a")), (2, Some("b")), (4, None: Option[String]))
      .toDF("id", "v")
    val backup = Seq((1, Some("a")), (2, Some("B")), (3, Some("c")))
      .toDF("id", "v")
    val got = Differ.diffOps(prod, backup, Seq("id"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((4, "INSERT"), (2, "UPDATE"), (3, "DELETE")))
  }

  test("null == null is not an UPDATE (reference NULL semantics)") {
    val prod = Seq((1, None: Option[String])).toDF("id", "v")
    val backup = Seq((1, None: Option[String])).toDF("id", "v")
    assert(Differ.diffOps(prod, backup, Seq("id")).count() == 0)
  }

  test("composite key diff") {
    val prod = Seq((1, 1, "x"), (1, 2, "y")).toDF("a", "b", "v")
    val backup = Seq((1, 1, "x"), (1, 2, "z"), (2, 1, "w")).toDF("a", "b", "v")
    val got = Differ.diffOps(prod, backup, Seq("a", "b"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getString(2))).toSet
    assert(got == Set(((1, 2), "UPDATE"), ((2, 1), "DELETE")))
  }

  test("mergeApply transforms backup into production exactly") {
    val prod = Seq((1, Some("a")), (2, Some("b")), (4, None: Option[String]))
      .toDF("id", "v")
    val backup = Seq((1, Some("a")), (2, Some("B")), (3, Some("c")))
      .toDF("id", "v")
    val merged = Differ.mergeApply(
      backup, Differ.diff(prod, backup, Seq("id")), Seq("id"))
      .as[(Int, Option[String])].collect().toSet
    val want = prod.as[(Int, Option[String])].collect().toSet
    assert(merged == want)
  }

  test("mergeApply on real tables: backup + diff == production") {
    val dir = "/root/testdata/sf0.001"
    val prod = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    // perturb: drop some rows, change some, add some
    val backup = prod.filter(org.apache.spark.sql.functions.col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("o_orderkey") % 5 === 0,
          org.apache.spark.sql.functions.col("o_totalprice") + 1.0)
          .otherwise(org.apache.spark.sql.functions.col("o_totalprice")))
      .unionByName(prod.limit(0)) // schema-stable
      .unionByName(
        prod.limit(10).withColumn("o_orderkey",
          org.apache.spark.sql.functions.col("o_orderkey") + 900000000L))
    val merged = Differ.mergeApply(
      backup, Differ.diff(prod, backup, Seq("o_orderkey")), Seq("o_orderkey"))
    assert(merged.exceptAll(prod).isEmpty && prod.exceptAll(merged).isEmpty)
  }
}
