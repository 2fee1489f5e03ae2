package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime

import scala.collection.mutable

import graft.tools.DumpGen.sqlLit

/** Seeded MySQL-dump pair generator for the `sync_oneshot` workload.
  *
  * Every value is a pure function of (seed, table, pk, version), so a
  * seed reproduces the same bytes and the expected diff of every dump
  * pair is known without running the engine. Dumps are streamed to disk
  * statement by statement (100-row INSERTs, `) ENGINE=InnoDB;` CREATEs,
  * single-column PRIMARY KEY — the shape of `graft.tools.DumpGen`), never
  * built as whole strings.
  *
  * Usage: `perfbench.Gen <outDir> <seed> <sf>`. Writes `prod.sql`,
  * `backup.sql` and `expected.tsv` (per table: inserts, updates,
  * deletes, rows written, rows superseded) into `outDir`.
  */
object Gen {

  /** Bump when generated bytes change, so cached inputs regenerate. */
  val Version = 1

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(a: Long, b: Long, c: Long, d: Long): Long =
    mix(mix(mix(mix(a) ^ b) ^ c) ^ d)
  private def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  // salts for the independent draws of one row
  private val Val = 1L; private val Backup = 2L; private val DupP = 3L
  private val DupB = 4L

  final case class Col(name: String, sqlType: String)

  /** One table: `rowsAtSf1` rows at scale factor 1 (TPC-H-ish counts),
    * `row(r, version)` its values for a row hash `r`; the pk is the
    * first column and is filled in by the writer.
    */
  final case class Spec(name: String, id: Long, cols: Seq[Col],
      rowsAtSf1: Double, minRows: Int, row: (Long, Int) => Seq[Any]) {
    def rows(sf: Double): Int = math.max(minRows, math.round(rowsAtSf1 * sf).toInt)
    def pk: String = cols.head.name
  }

  private val Words = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "key",
    "agg", "row", "scan", "slow", "fast", "part", "hash", "batch", "sort",
    "line", "a", "the", "index", "shard", "page", "cache", "plan", "node")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Surnames = Array("Smith", "O'Brien", "Garcia", "D'Souza",
    "Nguyen", "Muller")

  private def pick[A](xs: Array[A], r: Long, salt: Int): A =
    xs(java.lang.Math.floorMod(mix(r + salt), xs.length.toLong).toInt)
  private def num(r: Long, salt: Int, lo: Long, hi: Long): Long =
    lo + java.lang.Math.floorMod(mix(r + salt), hi - lo + 1)
  private def money(r: Long, salt: Int, hi: Long): Double =
    num(r, salt, 100, hi * 100) / 100.0
  private def date(r: Long, salt: Int): LocalDateTime =
    LocalDateTime.of(1992, 1, 1, 0, 0).plusDays(num(r, salt, 0, 2400))
      .plusSeconds(num(r, salt + 1, 0, 86399))
  private def words(r: Long, salt: Int, n: Int): String =
    (0 until n).map(i => pick(Words, r, salt + i)).mkString(" ")
  private def ver(v: Int): String = if (v == 0) "" else s" v$v"

  val Specs: Seq[Spec] = Seq(
    Spec("region", 1, Seq(Col("r_regionkey", "BIGINT"), Col("r_name", "VARCHAR(255)")),
      0, 5, (r, v) => Seq(pick(Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST"), r, 0) + ver(v))),
    Spec("nation", 2, Seq(Col("n_nationkey", "BIGINT"), Col("n_name", "VARCHAR(255)"),
      Col("n_regionkey", "BIGINT")),
      0, 25, (r, v) => Seq(s"NATION_${num(r, 0, 0, 999)}${ver(v)}", num(r, 1, 0, 4))),
    Spec("customer", 3, Seq(Col("c_custkey", "BIGINT"), Col("c_name", "VARCHAR(255)"),
      Col("c_nationkey", "BIGINT"), Col("c_acctbal", "DOUBLE"),
      Col("c_mktsegment", "VARCHAR(255)")),
      150000, 10, (r, v) => Seq(
        s"${pick(Surnames, r, 0)} Customer#${num(r, 1, 0, 999999999)}${ver(v)}",
        num(r, 2, 0, 24), money(r, 3, 9999), pick(Segments, r, 4))),
    Spec("supplier", 4, Seq(Col("s_suppkey", "BIGINT"), Col("s_name", "VARCHAR(255)"),
      Col("s_nationkey", "BIGINT"), Col("s_acctbal", "DOUBLE")),
      10000, 10, (r, v) => Seq(s"Supplier#${num(r, 0, 0, 999999999)}${ver(v)}",
        num(r, 1, 0, 24), money(r, 2, 9999))),
    Spec("part", 5, Seq(Col("p_partkey", "BIGINT"), Col("p_name", "VARCHAR(255)"),
      Col("p_brand", "VARCHAR(255)"), Col("p_type", "VARCHAR(255)"),
      Col("p_size", "BIGINT"), Col("p_retailprice", "DOUBLE")),
      200000, 10, (r, v) => Seq(words(r, 0, 2) + ver(v), s"Brand#${num(r, 3, 1, 5)}",
        pick(Array("ECONOMY", "STANDARD", "PROMO", "LARGE"), r, 4),
        num(r, 5, 1, 50), money(r, 6, 2000))),
    Spec("orders", 6, Seq(Col("o_orderkey", "BIGINT"), Col("o_custkey", "BIGINT"),
      Col("o_orderstatus", "VARCHAR(255)"), Col("o_totalprice", "DOUBLE"),
      Col("o_orderdate", "DATETIME"), Col("o_orderpriority", "VARCHAR(255)"),
      Col("o_comment", "VARCHAR(255)")),
      1500000, 10, (r, v) => Seq(num(r, 0, 0, 149999),
        pick(Array("O", "F", "P"), r, 1), money(r, 2, 400000), date(r, 3),
        pick(Priorities, r, 5), words(r, 6 + v, 4) + ver(v))),
    Spec("lineitem", 7, Seq(Col("l_orderkey", "BIGINT"), Col("l_partkey", "BIGINT"),
      Col("l_suppkey", "BIGINT"), Col("l_linenumber", "BIGINT"),
      Col("l_quantity", "DOUBLE"), Col("l_extendedprice", "DOUBLE"),
      Col("l_discount", "DOUBLE"), Col("l_tax", "DOUBLE"),
      Col("l_returnflag", "VARCHAR(255)"), Col("l_linestatus", "VARCHAR(255)"),
      Col("l_shipdate", "DATETIME"), Col("l_comment", "VARCHAR(255)")),
      6000000, 10, (r, v) => Seq(num(r, 0, 0, 199999), num(r, 1, 0, 9999),
        num(r, 2, 1, 7), num(r, 3, 1, 50).toDouble, money(r, 4, 100000),
        num(r, 5, 0, 10) / 100.0, num(r, 6, 0, 8) / 100.0,
        pick(Array("A", "N", "R"), r, 7), pick(Array("O", "F"), r, 8),
        date(r, 9), words(r, 11 + v, 3) + ver(v))))

  /** Expected diff of the (prod, backup) pair for one table. */
  final case class Expect(table: String, inserts: Long,
      updates: Long, deletes: Long, written: Long, superseded: Long)

  /** Streams one dump: per table a CREATE, then 100-row INSERTs in pk
    * order; rows with a stale duplicate are written twice — a stale
    * version in place and the live one in a trailing batch — so
    * last-wins has real work.
    */
  private final class DumpWriter(path: Path, seed: Long) {
    private val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), UTF_8), 1 << 20)
    var written = 0L

    def table(spec: Spec, rows: Iterator[(Long, Int, Option[Int])]): Unit = {
      out.write(s"CREATE TABLE `${spec.name}` (\n")
      spec.cols.foreach(c => out.write(s"  `${c.name}` ${c.sqlType},\n"))
      out.write(s"  PRIMARY KEY (`${spec.pk}`)\n) ENGINE=InnoDB;\n\n")
      val head = s"INSERT INTO `${spec.name}` (" +
        spec.cols.map(c => s"`${c.name}`").mkString(", ") + ") VALUES\n"
      val late = mutable.ArrayBuffer.empty[(Long, Int)]
      def batches(it: Iterator[(Long, Int)]): Unit =
        it.grouped(100).foreach { batch =>
          out.write(head)
          var first = true
          batch.foreach { case (pk, v) =>
            if (!first) out.write(",\n")
            first = false
            val vals = pk +: spec.row(h(seed, spec.id, pk, (v.toLong << 8) | Val), v)
            out.write(vals.map(sqlLit).mkString("(", ", ", ")"))
            written += 1
          }
          out.write(";\n")
        }
      batches(rows.map { case (pk, v, stale) =>
        stale match {
          case Some(sv) => late += ((pk, v)); (pk, sv)
          case None => (pk, v)
        }
      })
      batches(late.iterator)
      out.write("\n")
    }

    def close(): Unit = out.close()
  }

  private def dupRate(spec: Spec): Double =
    if (spec.rowsAtSf1 >= 1000000) 0.003 else 0.0

  /** Production dump vs a backup with a seeded 5% delete / 5% modify /
    * 5% add per table.
    */
  def syncPair(dir: Path, seed: Long, sf: Double): Seq[Expect] = {
    val prod = new DumpWriter(dir.resolve("prod.sql"), seed)
    val backup = new DumpWriter(dir.resolve("backup.sql"), seed)
    val exp = Specs.map { spec =>
      val n = spec.rows(sf)
      val (w0p, w0b) = (prod.written, backup.written)
      var dups = 0L
      def stale(salt: Long, pk: Long): Option[Int] =
        if (unit(h(seed, spec.id, pk, salt)) < dupRate(spec)) {
          dups += 1; Some(9)
        } else None
      prod.table(spec, Iterator.range(0, n).map(pk =>
        (pk.toLong, 0, stale(DupP, pk))))
      var ins = 0L; var upd = 0L
      val extras = math.round(n * 0.05)
      backup.table(spec, Iterator.range(0, n).flatMap { pk =>
        val u = unit(h(seed, spec.id, pk, Backup))
        if (u < 0.05) { ins += 1; None }
        else if (u < 0.10) { upd += 1; Some((pk.toLong, 1, stale(DupB, pk))) }
        else Some((pk.toLong, 0, stale(DupB, pk)))
      } ++ Iterator.range(0, extras.toInt).map(j =>
        (n + 1000L + j, 0, Option.empty[Int])))
      Expect(spec.name, ins, upd, extras,
        prod.written - w0p + backup.written - w0b, dups)
    }
    prod.close(); backup.close()
    exp
  }

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    Files.createDirectories(dir)
    val exp = syncPair(dir, args(1).toLong, args(2).toDouble)
    Files.write(dir.resolve("expected.tsv"), exp.map(e =>
      Seq(e.table, e.inserts, e.updates, e.deletes, e.written,
        e.superseded).mkString("\t")).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
