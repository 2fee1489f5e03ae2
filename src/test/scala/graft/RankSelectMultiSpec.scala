package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Stats

/** Multi-target [[Stats.selectSorted]] (every rank target of every
  * group from one pass 2) must return, per (group, target), the same
  * value and n as a driver brute force over the weighted values, and
  * as a single-target call per target.
  * Exercised with and without a group, on values across 16-bit bucket
  * edges, skewed weights, boundary targets (rank 1 and rank n), targets
  * crossing in one partition run of a group and groups spanning range
  * partitions.
  */
class RankSelectMultiSpec extends SparkSuite {
  import spark.implicits._

  /** (target as a column, the same target on the driver), deliberately
    * not in rank order.
    */
  private val targets: Seq[(Column => Column, Long => Long)] = Seq(
    ((n: Column) => ((n * 9 + 9) / 10).cast("long"), (n: Long) => (n * 9 + 9) / 10),
    ((n: Column) => lit(1L), (_: Long) => 1L),                     // min
    ((n: Column) => n, (n: Long) => n),                            // max
    ((n: Column) => ((n + 1) / 2).cast("long"), (n: Long) => (n + 1) / 2)
  )

  /** Deterministic pseudo-random (g, v, c) frame spanning several 16-bit
    * buckets (values up to ~2^40).
    */
  private def counts(nGroups: Int) = {
    val rows = for {
      g <- 0 until nGroups
      i <- 0 until 200
    } yield {
      val h = (g * 1000003L + i * 2654435761L) & 0x7FFFFFFFFFFFL
      // mix tiny values (dense low buckets) with wide-spread ones, and
      // skew the weights so crossings land mid-run
      val v = if (i % 3 == 0) (h % 1000) else h % (1L << 40)
      (s"g$g", v, (h % 7) + 1)
    }
    rows.toDF("g", "v", "c")
  }

  /** Per group: (n, the value at each target rank), on the driver. */
  private def brute(rows: Seq[(String, Long, Long)]) =
    rows.groupBy(_._1).map { case (g, gr) =>
      val vs = gr.groupMapReduce(_._2)(_._3)(_ + _).toSeq.sorted
      val cum = vs.scanLeft(0L)(_ + _._2).tail
      val n = cum.last
      g -> (n, targets.map { case (_, t) => vs(cum.indexWhere(_ >= t(n)))._1 })
    }

  private def select(df: org.apache.spark.sql.DataFrame) =
    Stats.selectSorted(df, targets.map(_._1))((_, hits) =>
      hits.map { case (g, n, vs) => g -> (n, vs) })

  test("multi-target selectSorted == a driver brute force (grouped, skewed weights)") {
    val cts = counts(3)
    val got = select(cts).map { case (g, r) => g.getString(0) -> r }
    assert(got.map(_._1) == Seq("g0", "g1", "g2"), "group order")
    assert(got.toMap == brute(cts.as[(String, Long, Long)].collect().toSeq))
  }

  test("multi-target descent == k single descents (grouped, 64-bit)") {
    // values across the whole signed 64-bit range, not just ~2^40
    val wide = Seq(("g0", Long.MinValue, 3L), ("g1", Long.MaxValue, 5L),
      ("g2", -1L, 2L), ("g2", Long.MinValue + 1, 1L)).toDF("g", "v", "c")
    val cts = counts(3).union(wide)
    val multi = select(cts).map { case (g, r) => g.getString(0) -> r }.toMap
    targets.zipWithIndex.foreach { case ((f, _), i) =>
      val single = Stats.selectSorted(cts, Seq(f))((_, hits) =>
        hits.map { case (g, n, vs) => g.getString(0) -> (n, vs) })
      assert(single.size == multi.size, s"target $i")
      single.foreach { case (g, (n, vs)) =>
        assert(multi(g)._1 == n && multi(g)._2(i) == vs.head,
          s"target $i group $g")
      }
    }
  }

  test("multi-target selectSorted == a driver brute force with no group") {
    Seq(9999L, 1L << 30).foreach { cap =>
      val cts = counts(1).select(col("v") % cap as "v", col("c"))
        .groupBy("v").agg(sum("c").as("c"))
      val got = select(cts).map(_._2)
      val want = brute(cts.as[(Long, Long)].collect().toSeq
        .map { case (v, c) => ("", v, c) })("")
      assert(got == Seq(want), s"cap $cap")
    }
  }

  test("two targets crossing in one partition run, and a group spanning partitions") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "7")
    spark.conf.set(keys(1), "false")
    try {
      // 70 distinct (g, v) rows, fully sampled into 7 range partitions
      // of 10: "a" spans partitions 0-3, "b" 4-5, and "c" (9 rows) and
      // "d" (1 row) share partition 6, so all four targets of "c" cross
      // in one run and all four of "d" on one row
      val rnd = new scala.util.Random(11)
      def group(g: String, k: Int) =
        rnd.shuffle((-5000L to 5000L).toList).take(k).map(v =>
          (g, v, if (rnd.nextInt(5) == 0) 20L + rnd.nextInt(30) else 1L + rnd.nextInt(3)))
      val rows = group("a", 40) ++ group("b", 20) ++ group("c", 9) ++ group("d", 1)
      val cts = rows.toDF("g", "v", "c")
      val want = brute(rows)
      val layout = cts.repartitionByRange(col("g"), col("v"))
        .select(spark_partition_id(), col("g"), col("v"))
        .as[(Int, String, Long)].collect().toSeq
      val parts = layout.groupMap(_._2)(_._1).map { case (g, ps) => g -> ps.toSet }
      assert(parts("a").size > 1, s"layout: $layout")
      // distinct crossing rows of one group in one partition
      val sharedRun = want.exists { case (g, (_, vs)) =>
        vs.distinct.map(v => layout.find(r => r._2 == g && r._3 == v).get._1)
          .groupBy(identity).exists(_._2.size > 1)
      }
      assert(sharedRun, s"layout: $layout")
      val got = select(cts).map { case (g, r) => g.getString(0) -> r }
      assert(got.map(_._1) == Seq("a", "b", "c", "d"), "group order")
      assert(got.toMap == want)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("selectSorted leaves no persisted RDD, also when use throws") {
    val cts = counts(2)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = Stats.selectSorted(cts, targets.take(2).map(_._1))(
      (sorted, _) => sorted.count())
    assert(rows == 400L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    intercept[IllegalStateException] {
      Stats.selectSorted(cts, targets.map(_._1))((sorted, _) => {
        assert(spark.sparkContext.getPersistentRDDs.keySet != before)
        throw new IllegalStateException("use failed")
      })
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "selectSorted must unpersist its sorted rows")
  }
}
