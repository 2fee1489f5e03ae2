package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (org.apache.spark.sql.classic.ExpressionUtils); housing
  * this one-liner inside the sql package tree is the standard pattern for
  * libraries that ship native Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a sibling SparkSession over an existing SparkContext with the
    * given extensions applied. `builder().withExtensions` is ignored when
    * a session already exists (getOrCreate returns it), so tests — and
    * hosts embedding the engine next to a live session — need the
    * `private[sql]` constructor this bridges to.
    */
  def sessionWithExtensions(sc: org.apache.spark.SparkContext,
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit)
      : org.apache.spark.sql.SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    // The 6-arg constructor is Scala-restricted beyond private[sql] but
    // public in bytecode (the Builder calls it); reflection keeps this
    // bridge source-compatible.
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6).get
    ctor.newInstance(sc, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }

  /** A frame over an RDD of Catalyst rows laid out as `schema`, with no
    * serializer between them (`internalCreateDataFrame` is
    * `private[sql]`). Each row's values must have the internal types of
    * `schema`'s fields.
    */
  def internalFrame(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Catalog-resolved on-disk location of `table`: the table's actual
    * metadata location when it exists, else the path the catalog WOULD
    * assign (`defaultTablePath` — honors the current database's
    * `<db>.db/` directory and custom warehouse roots). Convention-derived
    * `warehouse.dir + "/" + name` paths are wrong outside the default
    * database and can point at unrelated directories.
    */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
      table: String): java.net.URI = {
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (catalog.tableExists(id)) catalog.getTableMetadata(id).location
    else catalog.defaultTablePath(id)
  }
}
