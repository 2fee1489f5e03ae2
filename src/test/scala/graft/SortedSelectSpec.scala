package graft

import org.apache.spark.sql.functions._

import graft.operators.Stats

/** [[Stats.medianMad]]'s sort-and-offset selection and
  * [[Stats.runningSums]] when groups span range partitions: 7 shuffle
  * partitions with adaptive coalescing off, so the (group, value) range
  * shuffle really splits groups, compared with a driver brute force;
  * and the job counts of the entries built on them.
  */
class SortedSelectSpec extends SparkSuite {
  import spark.implicits._

  private def withStraddle[A](f: => A): A = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "7")
    spark.conf.set(keys(1), "false")
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 70 distinct (g, v) rows, so the fully sampled range bounds cut
    * them into 7 partitions of 10: "a" holds rows 0-39, "b" 40-59,
    * "c" 60-68 and the 1-row group "d" row 69. Weights are 1-3 copies
    * (duplicate values), except one heavy value in "a" (its 21st, the
    * first row of partition 2) and in "b" (its 11th, the first row of
    * partition 5): heavy enough that the median crosses there, lighter
    * than the median's rank, so the crossing needs the weight of the
    * group's earlier partitions.
    */
  private def frame(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    def group(g: String, k: Int, heavy: Int) = {
      val vs = rnd.shuffle((-5000L to 5000L).toList).take(k).sorted
      val ws = Array.fill(k)(1 + rnd.nextInt(3))
      if (heavy >= 0)
        ws(heavy) = ws.drop(heavy + 1).sum + ws.take(heavy).sum / 2
      vs.zip(ws).flatMap { case (v, w) => Seq.fill(w)((g, v)) }
    }
    val rows = group("a", 40, 20) ++ group("b", 20, 10) ++
      group("c", 9, -1) ++ Seq(("d", rnd.nextInt(100).toLong))
    rnd.shuffle(rows).toDF("g", "v")
  }

  /** (n, lower median, MAD, outliers) per group, on the driver. */
  private def brute(rows: Seq[(String, Long)], z: Int) =
    rows.groupBy(_._1).map { case (g, gr) =>
      val vs = gr.map(_._2).sorted
      val n = vs.size
      val m = vs((n + 1) / 2 - 1)
      val mad = vs.map(v => math.abs(v - m)).sorted.apply((n + 1) / 2 - 1)
      g -> (n.toLong, m, mad, vs.count(v => math.abs(v - m) > z * mad).toLong)
    }

  test("medianMad matches a driver brute force when groups straddle range partitions") {
    withStraddle {
      val df = frame(20261019)
      val raw = df.as[(String, Long)].collect().toSeq
      val want = brute(raw, 3)
      // the layout the selection's range shuffle sees: a group's
      // crossing row must open a later partition of that group, with
      // fewer copies than the median's rank (n + 1) / 2
      val layout = df.groupBy("g", "v").count()
        .repartitionByRange(col("g"), col("v"))
        .select(spark_partition_id(), col("g"), col("v"))
        .as[(Int, String, Long)].collect().toSeq
      val parts = layout.groupBy(_._1)
      assert(parts.size == 7, s"partitions: ${parts.keys}")
      val opens = parts.values.map(_.minBy(r => (r._2, r._3))).filter {
        case (p, g, v) =>
          want(g)._2 == v && layout.exists(r => r._2 == g && r._1 < p) &&
            raw.count(_ == ((g, v))) < (want(g)._1 + 1) / 2
      }
      assert(opens.map(_._2).toSet == Set("a", "b"), s"layout: $layout")
      val got = Stats.medianMad(df, col("g"), col("v"), z = 3)
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      assert(got == want)
      assert(want("d")._1 == 1L && want("a")._1 > 4 * want("c")._1)
    }
  }

  test("runningSums matches a driver brute force when groups straddle range partitions") {
    withStraddle {
      val df = frame(20261019)
      val counts = df.groupBy("g", "v").agg(count(lit(1)).as("c"))
        .withColumn("tag", concat(col("g"), col("v").cast("string")))
      val got = try Stats.runningSums(counts, 1)
          .as[(String, Long, Long, String, Long, Long)].collect().toSeq
        finally PendingRelease.drain()
      val want = df.as[(String, Long)].collect().toSeq
        .groupBy(identity).map { case (gv, xs) => gv -> xs.size.toLong }
        .toSeq.sorted.groupBy(_._1._1).values.flatMap { rows =>
          val n = rows.map(_._2).sum
          rows.zip(rows.scanLeft(0L)(_ + _._2).tail).map {
            case (((g, v), c), cum) => (g, v, c, g + v, cum, n)
          }
        }.toSeq.sorted
      assert(got.sorted == want)
      assert(got.map(r => (r._1, r._2)) == want.map(r => (r._1, r._2)),
        "rows must come out in (group, value) order")
    }
  }

  /** Spark jobs started while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      f
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("medianMad runs a fixed number of Spark jobs") {
    withStraddle {
      val df = frame(7)
      val jobs = jobsOf(Stats.medianMad(df, col("g"), col("v"), z = 3).collect())
      // the counts aggregate's shuffle, then per selection (median, MAD)
      // the range shuffle's sample and map jobs and the two passes, then
      // the outlier pass; the result is a local frame
      assert(jobs == 10, s"medianMad ran $jobs jobs")
    }
  }

  test("q88 adds no job to medianMad's but the lineitem read") {
    // the local result is already in flag order: no range sort on top
    val jobs = jobsOf(SparkEntry.queries("q88_median_mad")(spark,
      "/root/testdata/sf0.001").collect())
    assert(jobs <= 11, s"q88 ran $jobs jobs")
  }

  test("the sort-and-offset entries run a fixed number of Spark jobs") {
    // one collect each at sf0.001
    val pinned = Seq("q36_percentiles" -> 6, "q85_equidepth_hist" -> 9,
      "q93_weighted_percentiles" -> 6, "q137_quantile_normalize" -> 9,
      "q164_classifier_calibration" -> 10, "q174_vocab_coverage" -> 12)
    val got = pinned.map { case (q, _) =>
      q -> (try jobsOf(SparkEntry.queries(q)(spark,
        "/root/testdata/sf0.001").collect())
      finally PendingRelease.drain())
    }
    assert(got == pinned)
  }
}
