package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Stats

/** [[Stats.rankSelectMulti]] (one shared radix hierarchy for k rank
  * targets) must return the same value and n as the sort-and-offset
  * [[Stats.selectSorted]], run once per target, for every (group,
  * target): two independent exact algorithms checked against each
  * other. Exercised across group/no-group, 1/2/3-level hierarchies
  * (domainBits 16/32/64), skewed weights, and boundary targets (rank 1
  * and rank n).
  */
class RankSelectMultiSpec extends SparkSuite {
  import spark.implicits._

  private val targets: Seq[(Long, Column => Column)] = Seq(
    1L -> ((n: Column) => lit(1L)),                      // min
    50L -> ((n: Column) => ((n + 1) / 2).cast("long")),  // lower median
    90L -> ((n: Column) => ((n * 9 + 9) / 10).cast("long")),
    100L -> ((n: Column) => n)                           // max
  )

  /** Deterministic pseudo-random (g, v, c) frame spanning several radix
    * buckets at every level (values up to ~2^40).
    */
  private def counts(nGroups: Int) = {
    val rows = for {
      g <- 0 until nGroups
      i <- 0 until 200
    } yield {
      val h = (g * 1000003L + i * 2654435761L) & 0x7FFFFFFFFFFFL
      // mix tiny values (dense low buckets) with wide-spread ones, and
      // skew the weights so crossings land mid-bucket
      val v = if (i % 3 == 0) (h % 1000) else h % (1L << 40)
      (s"g$g", v, (h % 7) + 1)
    }
    rows.toDF("g", "v", "c")
  }

  test("multi-target descent == k single descents (grouped, 64-bit)") {
    val cts = counts(3).persist()
    cts.count()
    val (multi, relM) = Stats.rankSelectMulti(cts, Seq("g"), "c", targets,
      "__t", "out", persistInput = false, domainBits = 64)
    val got = multi.select("g", "__t", "out", "n").as[(String, Long, Long, Long)]
      .collect().map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    targets.foreach { case (lab, f) =>
      val want = Stats.selectSorted(cts.select("g", "v", "c"), f)(
        (_, hits) => hits.map { case (g, n, v) => g.getString(0) -> (v, n) })
        .toMap
      want.foreach { case (g, exp) =>
        assert(got((g, lab)) == exp, s"target $lab group $g")
      }
      assert(want.size == got.count(_._1._2 == lab))
    }
    relM(); cts.unpersist()
  }

  test("multi-target descent == singles with no group, tight domainBits") {
    Seq(16 -> 9999L, 32 -> (1L << 30)).foreach { case (bits, cap) =>
      val cts = counts(1).select(col("v") % cap as "v", col("c"))
        .groupBy("v").agg(sum("c").as("c")).persist()
      cts.count()
      val (multi, relM) = Stats.rankSelectMulti(cts, Nil, "c", targets,
        "__t", "out", persistInput = false, domainBits = bits)
      val got = multi.select("__t", "out", "n").as[(Long, Long, Long)]
        .collect().map(t => t._1 -> (t._2, t._3)).toMap
      targets.foreach { case (lab, f) =>
        val want = Stats.selectSorted(cts.select("v", "c"), f)(
          (_, hits) => hits.map { case (_, n, v) => (v, n) }.head)
        assert(got(lab) == want, s"domainBits $bits target $lab")
      }
      relM(); cts.unpersist()
    }
  }

  test("release returns the registry caches (no leak)") {
    val cts = counts(2)
    val before = spark.sparkContext.getPersistentRDDs.size
    val (multi, rel) = Stats.rankSelectMulti(cts, Seq("g"), "c",
      targets.take(2), "__t", "out", persistInput = true, domainBits = 32)
    multi.count()
    assert(spark.sparkContext.getPersistentRDDs.size > before)
    rel()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "rankSelectMulti release must unpersist l0 and t1")
  }
}
