package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Observation}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.engine.SyncJob
import graft.parse.DumpParser
import graft.sources.DumpSource
import graft.streaming.DumpWatchSync

/** Per-layer metrics of a traced run. Every metric is printed on every
  * workload; a layer that does no work on a workload reads 0 there.
  */
object Layers {

  val Names: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.busy_frac",
    "spark.exec_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
    "spark.shuffle_read_mb", "spark.spill_mb", "spark.result_mb",
    "spark.task_skew",
    "sources.scan_s", "sources.stmts",
    "parse.mb_s", "parse.rows",
    "engine.catalog_s", "engine.records_s", "engine.rows_in",
    "engine.rows_superseded", "engine.diff_s", "engine.diff_shuffle_mb",
    "codegen.render_sink_s", "sink.ops", "sink.script_mb", "sink.result_mb",
    "jvm.first_op_s", "jvm.jit_first_s", "jvm.jit_rest_s", "jvm.gc_first_s",
    "jvm.gc_rest_s",
    "watch.script_s", "watch.state_s", "watch.jobs", "watch.ops_logged",
    "watch.state_mb", "watch.write_amp", "watch.files") ++
    Main.CorpusEntries.flatMap(e =>
      Seq("s", "jobs", "stages", "shuffle_mb").map(m => s"ops.$e.$m"))

  private val MB = 1048576.0

  /** Bytes and file count under a directory. */
  def dirSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }

  private def noopCount[T](ds: Dataset[T]): Long = {
    val obs = Observation()
    ds.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Single-thread parser throughput, no Spark: the statement split is
    * DumpSource's `;\n` delimiter; the timed part is the executor-side
    * record parse of SyncJob.records.
    */
  def parseProbe(path: String): (Long, Long, Double) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val stmts = new String(bytes, UTF_8).split(";\n")
    val cat = DumpParser.parseCatalog(
      stmts.iterator.filter(_.matches("(?is)^\\s*CREATE\\s+TABLE.*")))
    val t0 = System.nanoTime
    var rows = 0L
    stmts.foreach { st =>
      DumpParser.parseInsert(st) match {
        case Some((t, vp)) if cat.contains(t) =>
          DumpParser.splitValueSets(vp).foreach { vs =>
            DumpParser.pkString(DumpParser.splitValues(vs), cat(t))
            rows += 1
          }
        case _ => ()
      }
    }
    (rows, bytes.length.toLong, (System.nanoTime - t0) / 1e9)
  }

  /** Decomposes one sync of (prod, backup) into the public calls of
    * sources, parse, engine and codegen.
    */
  def dumpLayers(r: Run, prod: String, backup: String): Unit = {
    val sc = r.spark.sparkContext
    val m = r.metrics
    val scans = Seq(prod, backup).map(p => r.spans.call(sc, "DumpSource.statements") {
      noopCount(DumpSource.statements(r.spark, p))
    })
    m("sources.scan_s") = scans.map(_._2).sum
    m("sources.stmts") = scans.map(_._1).sum.toDouble
    val probes = Seq(prod, backup).map(parseProbe)
    m("parse.mb_s") = probes.head._2 / MB / probes.head._3
    m("parse.rows") = probes.head._1.toDouble
    val job = new SyncJob(r.spark)
    val cats = Seq(prod, backup).map(p => r.spans.call(sc, "SyncJob.catalog") {
      job.catalog(DumpSource.statements(r.spark, p))
    })
    m("engine.catalog_s") = cats.map(_._2).sum
    val recs = Seq(prod, backup).zip(cats).map { case (p, (cat, _)) =>
      r.spans.call(sc, "SyncJob.records") {
        noopCount(job.records(DumpSource.statements(r.spark, p), cat))
      }
    }
    m("engine.records_s") = recs.map(_._2).sum
    m("engine.rows_in") = probes.map(_._1).sum.toDouble
    m("engine.rows_superseded") = m("engine.rows_in") - recs.map(_._1).sum
    val (_, runS) = r.spans.call(sc, "SyncJob.run")(job.run(prod, backup))
    // inside run both catalogs and the records share one cached scan
    m("engine.diff_s") = runS - m("engine.catalog_s") - m("engine.records_s") +
      m("sources.scan_s")
    val out = r.c.work.resolve("layers_sync.sql")
    val ((outcome, _), _) = r.spans.call(sc, "SyncJob.syncAuto") {
      job.syncAuto(prod, backup, out.toString, Main.Now)
    }
    r.checkScript(out)
    m("sink.ops") = outcome.stats.values
      .map(s => s.missingCount + s.updatedCount + s.deletedCount).sum.toDouble
    m("sink.script_mb") = Files.size(out) / MB
    Files.delete(out)
  }

  /** The streaming layer on the same pair: a watcher seeded with the
    * backup dump receives the production dump as its next arrival. Its
    * script must be byte-identical to the CLI's, and its op log must
    * carry the generator's expected counts.
    */
  def watchLayers(r: Run, prod: String, backup: String): Unit = {
    val sc = r.spark.sparkContext
    val state = r.c.work.resolve("watch_state")
    r.spans.call(sc, "DumpWatchSync.processDump seed") {
      DumpWatchSync.processDump(r.spark, backup, state.toString, 0, scriptTs = Main.Now)
    }
    val before = dirSize(state)
    r.spans.call(sc, "DumpWatchSync.processDump") {
      DumpWatchSync.processDump(r.spark, prod, state.toString, 1, scriptTs = Main.Now)
    }
    val after = dirSize(state)
    val script = state.resolve("scripts")
      .resolve(s"sync_b00001_000_${Paths.get(prod).getFileName}.sql")
    r.checkScript(script)
    r.fail(r.ops.headOption.forall(o => o.error.nonEmpty || o.hash == r.sha256(script)),
      "the watcher's script differs from the CLI route's")
    val logged = r.spark.read.parquet(state.resolve("ops").toString)
      .filter(col("batch_id") === 1).groupBy("table", "op").count()
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    r.expected.foreach { e =>
      Seq("INSERT" -> e(1), "UPDATE" -> e(2), "DELETE" -> e(3)).foreach { case (op, want) =>
        val n = logged.getOrElse((e(0), op), 0L)
        r.fail(n == want.toLong, s"${e(0)} $op: the watcher's op log has $n, expected $want")
      }
    }
    val m = r.metrics
    m("watch.ops_logged") = logged.values.sum.toDouble
    m("watch.state_mb") = (after._1 - before._1) / MB
    m("watch.files") = (after._2 - before._2).toDouble
    m("watch.write_amp") = m("watch.state_mb") / (Files.size(Paths.get(prod)) / MB)
  }

  /** Each stage and job with the call that ran it: the call its job
    * group names if that call was open at its start, else the innermost
    * call open then (pool threads can keep a stale job group).
    */
  private def attribute(r: Run, rec: Recorder)
      : (Seq[(StageRec, Option[Span])], Seq[(JobRec, Option[Span])]) = {
    val calls = r.spans.all.filter(_.kind == "call")
    def within(c: Span, t: Long) = t >= c.start && t <= c.end
    def owner(group: String, t: Long): Option[Span] =
      calls.find(c => group.toLongOption.contains(c.id) && within(c, t))
        .orElse(calls.filter(within(_, t)).sortBy(-_.start).headOption)
    rec.synchronized {
      (rec.stages.values.toSeq.map(s => s -> owner(s.group, s.submitted)),
        rec.jobs.values.toSeq.map(j => j -> owner(j.group, j.start)))
    }
  }

  /** Spark, JVM, streaming and operator metrics from the listener. */
  def fill(r: Run, rec: Recorder): Unit = {
    val m = r.metrics
    val calls = r.spans.all.filter(_.kind == "call")
    val (stages, jobs) = attribute(r, rec)
    def stagesOf(p: Span => Boolean) = stages.collect { case (s, Some(c)) if p(c) => s }
    def jobsOf(p: Span => Boolean) = jobs.collect { case (j, Some(c)) if p(c) => j }
    // per-op figures are over the timed ops: the cold first op differs
    // in JIT and, on corpus_ops, in its sink
    val timed = (c: Span) => c.opId >= r.firstTimed
    val nOps = math.max(1, r.timedOps.size)
    val ts = stagesOf(timed)
    m("spark.jobs") = jobsOf(timed).size.toDouble / nOps
    m("spark.stages") = ts.size.toDouble / nOps
    m("spark.tasks") = ts.map(_.tasks).sum.toDouble / nOps
    val opWall = r.timedOps.map(_.seconds).sum
    m("spark.busy_frac") = ts.map(_.runMs).sum / 1000.0 / math.max(1e-9, opWall * r.c.cores)
    m("spark.exec_cpu_s") = ts.map(_.cpuNs).sum / 1e9 / nOps
    m("spark.gc_s") = ts.map(_.gcMs).sum / 1000.0 / nOps
    m("spark.shuffle_write_mb") = ts.map(_.shuffleWrite).sum / MB / nOps
    m("spark.shuffle_read_mb") = ts.map(_.shuffleRead).sum / MB / nOps
    m("spark.spill_mb") = ts.map(_.spill).sum / MB / nOps
    m("spark.result_mb") = ts.map(_.result).sum / MB / nOps
    m("spark.task_skew") = ts.filter(_.taskMs.size >= r.c.cores).map { s =>
      s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq))
    }.maxOption.getOrElse(0.0)

    val named = (n: String) => (c: Span) => c.name == n
    def shuffleMb(p: Span => Boolean) = stagesOf(p).map(_.shuffleWrite).sum / MB
    if (m.contains("engine.diff_s"))
      m("engine.diff_shuffle_mb") =
        shuffleMb(c => c.name == "SyncJob.run") - shuffleMb(named("SyncJob.records"))
    // render + sink: from the end of the last diff/summarize stage of a
    // syncAuto call to the call's return; its own stages collect the lines
    val syncs = calls.filter(c => c.name == "SyncJob.syncAuto" && timed(c))
    val tails = syncs.map { c =>
      val own = stagesOf(_ == c)
      val (render, diff) = own.partition(_.callSite.startsWith("graft.engine.SyncJob.syncAuto"))
      ((c.end - diff.map(_.completed).maxOption.getOrElse(c.start)) / 1000.0,
        render.map(_.result).sum / MB)
    }
    if (tails.nonEmpty) {
      m("codegen.render_sink_s") = Stats.median(tails.map(_._1))
      m("sink.result_mb") = Stats.median(tails.map(_._2))
    }

    r.ops.find(o => o.i == 0 && !o.seconds.isNaN).foreach(o => m("jvm.first_op_s") = o.seconds)
    if (r.jvmMarks.size == 3) {
      val Seq((j0, g0), (j1, g1), (j2, g2)) = r.jvmMarks.toSeq
      val rest = math.max(1, r.ops.size - 1)
      m("jvm.jit_first_s") = (j1 - j0) / 1000.0
      m("jvm.jit_rest_s") = (j2 - j1) / 1000.0 / rest
      m("jvm.gc_first_s") = (g1 - g0) / 1000.0
      m("jvm.gc_rest_s") = (g2 - g1) / 1000.0 / rest
    }

    val arrival = named("DumpWatchSync.processDump")
    if (calls.exists(arrival)) {
      def dur(ss: Seq[StageRec]) = ss.map(s => s.completed - s.submitted).sum / 1000.0
      val (script, state) = stagesOf(arrival)
        .partition(_.details.contains("SyncJob.syncDistributed"))
      m("watch.script_s") = dur(script)
      m("watch.state_s") = dur(state)
      m("watch.jobs") = jobsOf(arrival).size.toDouble
    }
    Main.CorpusEntries.foreach { e =>
      val own = (c: Span) => timed(c) && c.name == e
      val n = calls.count(own)
      if (n > 0) {
        m(s"ops.$e.s") = Stats.median(calls.filter(own).map(c => (c.end - c.start) / 1000.0))
        m(s"ops.$e.jobs") = jobsOf(own).size.toDouble / n
        m(s"ops.$e.stages") = stagesOf(own).size.toDouble / n
        m(s"ops.$e.shuffle_mb") = shuffleMb(own) / n
      }
    }
    Names.foreach(n => if (!m.contains(n)) m(n) = 0.0)
  }

  /** Job and stage spans: a job's parent is its call, a stage's its job. */
  def sparkSpans(r: Run): Seq[Map[String, Any]] = r.recorder.toSeq.flatMap { rec =>
    val (stages, jobs) = attribute(r, rec)
    val jobOfStage = jobs.flatMap { case (j, _) => j.stageIds.map(_ -> j.id) }.toMap
    jobs.map { case (j, c) =>
      Map[String, Any]("id" -> (1000000000L + j.id), "parent" -> c.map(_.id).getOrElse(0L),
        "op_id" -> c.map(_.opId).getOrElse(-1L), "kind" -> "job",
        "name" -> s"job ${j.id}", "start" -> j.start, "end" -> j.end)
    } ++ stages.map { case (s, c) =>
      Map[String, Any]("id" -> (2000000000L + s.id * 100L + s.attempt),
        "parent" -> jobOfStage.get(s.id).map(1000000000L + _).getOrElse(0L),
        "op_id" -> c.map(_.opId).getOrElse(-1L), "kind" -> "stage",
        "name" -> s"${s.module}: ${s.callSite}", "start" -> s.submitted,
        "end" -> s.completed, "tasks" -> s.tasks,
        "shuffle_write" -> s.shuffleWrite, "run_ms" -> s.runMs)
    }
  }
}
