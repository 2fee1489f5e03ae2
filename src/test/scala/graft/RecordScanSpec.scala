package graft

import java.nio.file.Files

import scala.collection.immutable.ListMap

import org.apache.spark.sql.Encoders
import org.scalacheck.{Gen, Prop, Test}

import graft.engine.SyncJob
import graft.model.{Stmt, TableMeta}
import graft.parse.DumpParser
import graft.sources.DumpSource

/** The byte-level record scan ([[SyncJob.recordRows]] over
  * [[DumpParser.RecordScan]]) and the String forms that run on it,
  * against the regex-and-StringBuilder tokenizer they replaced, kept
  * below as the oracle.
  */
class RecordScanSpec extends SparkSuite {

  /** Record rows before dedup: the fields of `recordRows`' schema. */
  private case class OldRow(table: String, off: Long, row: Int, pk: String,
      vals: Seq[String])

  // ------------------------------------------------------------ oracle

  private val InsertHead =
    "(?is)\\s*INSERT INTO\\s+`(\\w+)`\\s*\\([^)]+\\)\\s*VALUES\\s*(.*)".r

  private def parseInsert(stmtText: String): Option[(String, String)] =
    stmtText match {
      case InsertHead(table, valuesPart) => Some((table, valuesPart))
      case _ => None
    }

  private def splitValueSets(valuesPart: String): List[String] = {
    val out = List.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var inGroup = false
    var quote: Char = 0
    var i = 0
    val n = valuesPart.length
    while (i < n) {
      val c = valuesPart.charAt(i)
      if (!inGroup) {
        if (c == '(') { inGroup = true; cur.setLength(0) }
      } else if (quote != 0) {
        if (c == quote) {
          if (i + 1 < n && valuesPart.charAt(i + 1) == quote) {
            cur.append(c).append(quote); i += 1
          } else { cur.append(c); quote = 0 }
        } else cur.append(c)
      } else c match {
        case '\'' | '"' => quote = c; cur.append(c)
        case ')' => inGroup = false; out += cur.toString
        case _ => cur.append(c)
      }
      i += 1
    }
    out.result()
  }

  private def splitValues(valueSet: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var quote: Char = 0
    var i = 0
    val n = valueSet.length
    while (i < n) {
      val c = valueSet.charAt(i)
      if (quote == 0) {
        if (c == '\'' || c == '"') { quote = c; cur.append(c) }
        else if (c == ',') { out += cur.toString.trim; cur.setLength(0) }
        else cur.append(c)
      } else {
        cur.append(c)
        if (c == quote) {
          if (i + 1 < n && valueSet.charAt(i + 1) == quote) {
            cur.append(quote); i += 1
          } else quote = 0
        }
      }
      i += 1
    }
    if (cur.toString.trim.nonEmpty) out += cur.toString.trim
    out.result()
  }

  private def pkString(values: IndexedSeq[String], meta: TableMeta): String =
    meta.pkCols.flatMap { pk =>
      val idx = meta.columns.indexOf(pk)
      if (idx < 0) Some(values.headOption.getOrElse(""))
      else if (idx < values.length) Some(values(idx))
      else None
    }.mkString("|")

  private def oracleRows(stmts: Seq[Stmt], cat: Map[String, TableMeta]): Seq[OldRow] =
    stmts.flatMap { st =>
      parseInsert(st.text) match {
        case Some((t, vp)) if cat.contains(t) =>
          splitValueSets(vp).zipWithIndex.map { case (vs, i) =>
            val vals = splitValues(vs)
            OldRow(t, st.off, i, pkString(vals, cat(t)), vals)
          }
        case _ => Nil
      }
    }

  // --------------------------------------------------------- generators

  private def meta(name: String, cols: Seq[String], pk: Seq[String]) =
    TableMeta(name, cols.toIndexedSeq, pk.toIndexedSeq, "")

  /** pk in the column list, absent from it, past short rows' ends, and
    * two columns (one of them absent).
    */
  private val cat: ListMap[String, TableMeta] = ListMap(Seq(
    meta("t1", Seq("a", "b", "c"), Seq("b")),
    meta("t2", Seq("id", "v"), Seq("zz")),
    meta("t3", Seq("p", "q", "r", "s"), Seq("s")),
    meta("t4", Seq("a", "b", "c"), Seq("a", "c")),
    meta("t5", Seq("a", "b", "c"), Seq("zz", "c"))).map(m => m.name -> m): _*)

  private val spaceGen = Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r")

  private def spaces(min: Int, max: Int): Gen[String] =
    Gen.choose(min, max).flatMap(Gen.listOfN(_, spaceGen)).map(_.mkString)

  private def mixedCase(s: String): Gen[String] =
    Gen.listOfN(s.length, Gen.oneOf(true, false)).map(up =>
      s.zip(up).map { case (c, u) => if (u) c.toUpper else c.toLower }.mkString)

  /** Bytes around a value: `\s` characters, other control characters
    * `trim` removes, and a no-break space (2 bytes in UTF-8) it keeps.
    */
  private val padGen: Gen[String] = Gen.frequency(
    5 -> Gen.const(""), 3 -> spaces(1, 2),
    1 -> Gen.oneOf("\u0000", "\u0001", "\u001f", "\u0085"),
    1 -> Gen.const("\u00a0"))

  /** Literals: `,` and `)` inside both quote kinds, doubled quotes of
    * both kinds, 2-, 3- and 4-byte UTF-8 characters, and the empty field.
    */
  private val litGen: Gen[String] = Gen.oneOf(
    "NULL", "42", "-1.5e3", "'a'", "'b, c'", "'x)y'", "'(z'", "\"d, e\"",
    "\"f)g\"", "'O''Brien'", "\"say \"\"hi\"\"\"", "'it''s, \"q\")'",
    "''", "\"\"", "'é'", "'€uro, ok'", "'😀)'", "\"日本\"", "'a\u0000b'", "")

  private val valueSetGen: Gen[String] = for {
    n <- Gen.choose(0, 5)
    vals <- Gen.listOfN(n, for (p <- padGen; l <- litGen; q <- padGen) yield p + l + q)
    tail <- padGen
  } yield "(" + vals.mkString(",") + tail + ")"

  private val valuesGen: Gen[String] = for {
    n <- Gen.choose(0, 4)
    sets <- Gen.listOfN(n, valueSetGen)
    sep <- Gen.oneOf(",\n", ",", " , ", "\n", "x")
    open <- Gen.frequency(6 -> "", 1 -> "(1, 'open", 1 -> "(2, 3")
  } yield sets.mkString(sep) + open

  private val insertGen: Gen[String] = for {
    lead <- Gen.frequency(8 -> spaces(0, 2), 1 -> Gen.const("\u0001"))
    kw <- Gen.frequency(9 -> mixedCase("INSERT INTO"), 1 -> Gen.const("INSERT  INTO"))
    gap <- Gen.frequency(9 -> spaces(1, 2), 1 -> Gen.const(""))
    table <- Gen.oneOf("t1", "t2", "t3", "t4", "t5", "ghost", "t-1", "")
    colGap <- spaces(0, 1)
    cols <- Gen.frequency(6 -> "(`a`, `b`, `c`)", 2 -> "(`id`)", 1 -> "()", 1 -> "")
    valGap <- spaces(0, 2)
    values <- mixedCase("VALUES")
    after <- spaces(0, 2)
    body <- valuesGen
  } yield lead + kw + gap + "`" + table + "`" + colGap + cols + valGap + values +
    after + body

  private val stmtGen: Gen[String] = Gen.frequency(
    12 -> insertGen,
    1 -> Gen.const("CREATE TABLE `t1` (\n  `a` INT\n) ENGINE=InnoDB"),
    1 -> Gen.const("INSERT INTO `t1` VALUES (1, 2, 3)"),
    1 -> Gen.const("SET NAMES utf8mb4"))

  // ------------------------------------------------------------ specs

  test("the byte scan gives the String tokenizer's rows, and its schema") {
    val job = new SyncJob(spark)
    var compared = 0
    val prop = Prop.forAll(Gen.choose(1, 30).flatMap(Gen.listOfN(_, stmtGen))) { texts =>
      val stmts = texts.zipWithIndex.map { case (t, i) => Stmt(1000L * i, t) }
      // the String forms run on the same scanner
      texts.foreach { t =>
        assert(DumpParser.parseInsert(t) == parseInsert(t), t)
        parseInsert(t).foreach { case (_, vp) =>
          assert(DumpParser.splitValueSets(vp) == splitValueSets(vp), vp)
          splitValueSets(vp).foreach { vs =>
            assert(DumpParser.splitValues(vs) == splitValues(vs), vs)
            val vals = splitValues(vs)
            cat.values.foreach(m => assert(DumpParser.pkString(vals, m) == pkString(vals, m)))
          }
        }
      }
      val frame = job.recordRows(spark.createDataset(stmts)(Encoders.product[Stmt]), cat)
      assert(frame.schema == Encoders.product[OldRow].schema)
      val got = frame.collect().map(r => OldRow(r.getString(0), r.getLong(1),
        r.getInt(2), r.getString(3), r.getSeq[String](4))).sortBy(r => (r.off, r.row))
      compared += got.length
      got.toSeq == oracleRows(stmts, cat)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(60)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    // enough generated heads are accepted for the row comparison to count
    assert(compared > 200, s"only $compared rows compared")
  }

  test("an invalid UTF-8 byte inside a literal reads as U+FFFD, as the String tokenizer read it") {
    val ddl = "CREATE TABLE `t` (\n  `id` INT,\n  `v` TEXT,\n" +
      "  PRIMARY KEY (`id`)\n) ENGINE=InnoDB;\n"
    val head = (ddl + "INSERT INTO `t` (`id`, `v`) VALUES (1, 'a").getBytes("UTF-8")
    val tail = "b'),\n(2, 'c');\n".getBytes("UTF-8")
    val path = Files.createTempFile("graft-utf8", ".sql")
    path.toFile.deleteOnExit()
    Files.write(path, head ++ Array(0xff.toByte) ++ tail)
    val job = new SyncJob(spark)
    val stmts = DumpSource.statements(spark, path.toString)
    val dumpCat = job.catalog(stmts)
    val got = job.recordRows(stmts, dumpCat).collect().map(r => OldRow(r.getString(0),
      r.getLong(1), r.getInt(2), r.getString(3), r.getSeq[String](4))).toSeq
    val off = ddl.length.toLong
    assert(got.sortBy(_.row) == Seq(
      OldRow("t", off, 0, "1", Seq("1", "'a\uFFFDb'")),
      OldRow("t", off, 1, "2", Seq("2", "'c'"))))
    assert(got.sortBy(_.row) == oracleRows(stmts.collect().toSeq, dumpCat))
  }
}
