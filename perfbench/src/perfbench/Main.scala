package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.SyncJob

/** One benchmark run in one fresh JVM: set up, run the workload's
  * operation in a closed loop (one client) for the given seconds, check
  * every result, and write the measurements as JSON.
  *
  * Usage: `perfbench.Main --workload <name> --data <inputDir> --work <dir>
  * --out <result.json> --seconds <s> --trace 0|1 --cores <n> --warmup <n>
  * --min-timed <n>`
  */
object Main {

  /** Fixed script timestamp, so a seed's script bytes are reproducible. */
  val Now = "2000-01-01 00:00:00"

  /** The corpus entries of the `corpus_ops` workload. */
  val CorpusEntries = Seq("q88_median_mad")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = new Run(Conf(kv))
    Jvm.install()
    try kv("workload") match {
      case "sync_oneshot" => new SyncOneshot(run).apply()
      case "corpus_ops" => new CorpusOps(run).apply()
      case w => sys.error(s"unknown workload: $w")
    } finally run.finish()
    sys.exit(0)
  }
}

final case class Conf(workload: String, data: Path, work: Path, out: Path,
    seconds: Double, trace: Boolean, cores: Int, warmup: Int, minTimed: Int)

object Conf {
  def apply(kv: Map[String, String]): Conf = Conf(kv("workload"),
    Paths.get(kv("data")).toAbsolutePath, Paths.get(kv("work")).toAbsolutePath,
    Paths.get(kv("out")), kv("seconds").toDouble, kv("trace") == "1",
    kv("cores").toInt, kv("warmup").toInt, kv("min-timed").toInt)
}

/** Per-op record: wall seconds (NaN if it threw), the output it produced
  * and that output's hash, plus any failed check.
  */
final case class OpRec(i: Int, seconds: Double, key: String, hash: String,
    error: Option[String])

/** State shared by the workloads: session, samples, checks. */
final class Run(val c: Conf) {
  val spans = new Spans
  var recorder: Option[Recorder] = None
  var spark: SparkSession = _
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** JIT and GC milliseconds at: loop start, after op 0, loop end. */
  val jvmMarks = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Index of the first timed op: op 0 runs cold, then `c.warmup`
    * untimed warm-up ops.
    */
  def firstTimed: Int = 1 + c.warmup
  def timedOps: Seq[OpRec] =
    ops.toSeq.filter(o => o.i >= firstTimed && !o.seconds.isNaN)

  def expected: Seq[Array[String]] =
    Files.readAllLines(c.data.resolve("expected.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t'))

  /** Starts the session like the CLI's `Main`, but with `c.cores` task
    * threads (half the machine's cores, see run.py); `setup_s` is the
    * JVM's uptime when it is ready: one cold start in a fresh process.
    */
  def setup(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (c.trace) {
      val r = new Recorder
      spark.sparkContext.addSparkListener(r)
      recorder = Some(r)
    }
    metrics("setup_s") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  }

  /** Closed loop: run op i (timed), then the check it returns (untimed).
    * Op 0 runs cold (`first_op_s`) and `c.warmup` warm-up ops follow;
    * then timed ops run until they have spent the run's seconds and at
    * least `c.minTimed` have run. `heap_peak_mb` is the median over the
    * timed ops of each op's peak live heap; collecting before the timed
    * ops clears the garbage the cold and warm-up ops left.
    */
  def loop(op: Int => (() => (String, String))): Unit = {
    jvmMarks += ((Jvm.jitMs, Jvm.gcMs))
    var timedS = 0.0
    var i = 0
    while (i < firstTimed + c.minTimed || timedS < c.seconds) {
      if (i == firstTimed) Jvm.collect()
      var check: () => (String, String) = null
      val t0 = System.nanoTime
      val secs = try spans.op(i, c.workload) { check = op(i) } catch {
        case NonFatal(e) =>
          ops += OpRec(i, Double.NaN, "", "", Some(s"op threw: $e"))
          Double.NaN
      }
      if (i >= firstTimed) timedS += (System.nanoTime - t0) / 1e9
      if (!secs.isNaN)
        ops += (try { val (k, h) = check(); OpRec(i, secs, k, h, None) }
          catch { case NonFatal(e) => OpRec(i, secs, "", "", Some(e.getMessage)) })
      if (i == 0) jvmMarks += ((Jvm.jitMs, Jvm.gcMs))
      i += 1
    }
    jvmMarks += ((Jvm.jitMs, Jvm.gcMs))
    val timed = timedOps.map(_.i).toSet
    val peaks = Jvm.peaksMb(spans.all.filter(s => s.kind == "op" && timed(s.opId.toInt))
      .map(s => (s.start, s.end)))
    info("heap_peak_samples") = peaks
    if (peaks.nonEmpty) metrics("heap_peak_mb") = Stats.median(peaks)
  }

  def fail(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)

  /** Untimed operations of a traced run, with their failed checks. */
  val extra = mutable.ArrayBuffer.empty[(String, Option[String])]

  def checked(name: String)(f: => Unit): Unit =
    extra += name -> (try { f; None } catch { case NonFatal(e) => Some(e.toString) })

  def sha256(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var r = in.read(buf)
      while (r > 0) { md.update(buf, 0, r); r = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Statement counts of a sync script per (table, kind). */
  def scriptCounts(p: Path): Map[(String, String), Long] = {
    val counts = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val lines = Files.lines(p, UTF_8)
    try lines.iterator.asScala.foreach { l =>
      val kind = if (l.startsWith("INSERT INTO `")) "insert"
        else if (l.startsWith("UPDATE `")) "update"
        else if (l.startsWith("DELETE FROM `")) "delete" else ""
      if (kind.nonEmpty) {
        val a = l.indexOf('`')
        counts((l.substring(a + 1, l.indexOf('`', a + 1)), kind)) += 1
      }
    } finally lines.close()
    counts.toMap
  }

  /** Checks a script's per-table statement counts against the
    * generator's expected counts.
    */
  def checkScript(p: Path): Unit = {
    val got = scriptCounts(p)
    expected.foreach { e =>
      Seq("insert" -> e(1), "update" -> e(2), "delete" -> e(3)).foreach {
        case (k, want) =>
          val n = got.getOrElse((e(0), k), 0L)
          fail(n == want.toLong, s"${e(0)} $k: script has $n, expected $want")
      }
    }
  }

  /** Median, and the highest percentile with >= 10 samples beyond it. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    val p = Seq(99.9, 99.0, 95.0, 90.0).find(q => s.size * (100 - q) / 100 >= 10)
    Map("n" -> s.size, "median" -> Stats.median(s)) ++
      p.map(q => s"p$q" -> s(math.min(s.size - 1, math.ceil(s.size * q / 100).toInt - 1)))
  }

  def finish(): Unit = {
    if (spark != null) {
      recorder.foreach { rec =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        Layers.fill(this, rec)
      }
      spark.stop()
      spark = null
    }
    val timed = timedOps.map(_.seconds)
    if (timed.nonEmpty && !metrics.contains("op_s")) metrics("op_s") = Stats.median(timed)
    ops.find(o => o.i == 0 && !o.seconds.isNaN).foreach(o => metrics("first_op_s") = o.seconds)
    info("timed_op_samples") = summary(timed)
    info("warmup_op_s") = ops.filter(o => o.i > 0 && o.i < firstTimed).map(_.seconds)
    val doc = Map(
      "ops" -> ops.map(o => Map("i" -> o.i,
        "seconds" -> Option(o.seconds).filterNot(_.isNaN), "key" -> o.key,
        "hash" -> o.hash, "error" -> o.error)),
      "extra" -> extra.map { case (n, e) => Map("name" -> n, "error" -> e) },
      "metrics" -> metrics,
      "info" -> info)
    Json.write(c.out, doc)
    if (c.trace) Json.write(c.work.resolve("spans.json"),
      spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op_id" -> s.opId, "kind" -> s.kind, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)) ++ Layers.sparkSpans(this))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** `sync_oneshot`: the CLI default route on one dump pair, repeated. */
final class SyncOneshot(r: Run) {
  private val prod = r.c.data.resolve("prod.sql").toString
  private val backup = r.c.data.resolve("backup.sql").toString

  def apply(): Unit = {
    r.setup()
    r.loop { i =>
      val out = r.c.work.resolve(s"sync_$i.sql")
      val ((_, parts), _) = r.spans.call(r.spark.sparkContext, "SyncJob.syncAuto") {
        new SyncJob(r.spark).syncAuto(prod, backup, out.toString, Main.Now)
      }
      () => {
        r.fail(parts.isEmpty, s"script routed to the parts sink: $parts")
        r.checkScript(out)
        val h = r.sha256(out)
        Files.delete(out)
        ("script", h)
      }
    }
    if (r.c.trace) {
      r.checked("layer decomposition")(Layers.dumpLayers(r, prod, backup))
      r.checked("watcher on the pair")(Layers.watchLayers(r, prod, backup))
    }
  }
}

/** `corpus_ops`: one pass materialises each corpus entry. The cold
  * first pass writes the results as parquet, the copy that is checked
  * against the DuckDB oracle; every later pass goes through the noop
  * sink and drains deferred releases, as the repo's Bench does, and
  * observes each result's row count and row-hash sum in the same job,
  * which must equal those of the parquet copy. `op_s` is the sum over
  * the entries of each entry's median over the timed passes.
  */
final class CorpusOps(r: Run) {
  private val dir = r.c.data.toString
  private val results = r.c.work.resolve("results")

  private def checksum(df: DataFrame): org.apache.spark.sql.Column =
    sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))

  def apply(): Unit = {
    r.setup()
    val entryS = mutable.LinkedHashMap.empty[String, Seq[(Int, Double)]]
    val sums = mutable.Map.empty[Int, Map[String, String]]
    r.loop { i =>
      sums(i) = Main.CorpusEntries.map { e =>
        val (digest, secs) = r.spans.call(r.spark.sparkContext, e) {
          val df = graft.SparkEntry.queries(e)(r.spark, dir)
          if (i == 0) {
            df.write.mode("overwrite").parquet(results.resolve(e).toString)
            graft.PendingRelease.drain()
            ""
          } else {
            val obs = Observation()
            df.observe(obs, count(lit(1)).as("n"), checksum(df).as("h"))
              .write.format("noop").mode("overwrite").save()
            graft.PendingRelease.drain()
            val m = obs.get
            s"${m("n")}:${m("h")}"
          }
        }
        entryS(e) = entryS.getOrElse(e, Nil) :+ (i -> secs)
        e -> digest
      }.toMap
      () => ("pass", "")
    }
    val timed = r.timedOps.map(_.i).toSet
    val medians = entryS.map { case (e, xs) => e -> Stats.median(xs.filter(x => timed(x._1)).map(_._2)) }
    if (medians.values.forall(!_.isNaN)) r.metrics("op_s") = medians.values.sum
    val ref = Main.CorpusEntries.map { e =>
      val back = r.spark.read.parquet(results.resolve(e).toString)
      val row = back.agg(count(lit(1)), checksum(back)).head()
      e -> s"${row.get(0)}:${row.get(1)}"
    }.toMap
    r.ops.indices.foreach { j =>
      val o = r.ops(j)
      val bad = Main.CorpusEntries.filter(e => o.i > 0 && sums.get(o.i).flatMap(_.get(e)) != ref.get(e))
      if (o.error.isEmpty && bad.nonEmpty)
        r.ops(j) = o.copy(error = Some(s"pass ${o.i} differs from the checked copy: $bad"))
    }
    r.info("entry_s") = entryS.map { case (e, xs) => e -> xs.map(_._2) }
    r.info("entry_median_s") = medians
    Json.write(results.resolve("oracle_sql.json"),
      Main.CorpusEntries.map(e => e -> graft.SparkEntry.oracleSql(e)).toMap)
  }
}

/** Writes the result and span files with the Jackson in Spark's jars. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def write(p: Path, v: Any): Unit = mapper.writeValue(p.toFile, v)
}
