package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `parent` is 0 for an operation; `kind` is one of
  * op | call | job | stage. Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, opId: Long, kind: String,
    name: String, start: Long, end: Long)

/** Benchmark-side span recorder: operations and the public calls made
  * inside them. Every call runs under a Spark job group named after its
  * span id, which is how [[Recorder]] links Spark jobs back to calls.
  */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var current: Option[Span] = None

  def all: Seq[Span] = buf.toSeq

  /** Runs `f` as operation `opId` and returns its wall seconds. */
  def op(opId: Long, name: String)(f: => Unit): Double = {
    nextId += 1
    val s = Span(nextId, 0, opId, "op", name, System.currentTimeMillis, 0)
    current = Some(s)
    val t0 = System.nanoTime
    try f finally {
      buf += s.copy(end = System.currentTimeMillis)
      current = None
    }
    (System.nanoTime - t0) / 1e9
  }

  /** Runs `f` as a call span under the current operation (or alone) and
    * returns its result with its wall seconds.
    */
  def call[A](sc: SparkContext, name: String)(f: => A): (A, Double) = {
    nextId += 1
    val id = nextId
    val start = System.currentTimeMillis
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val t0 = System.nanoTime
    try {
      val a = f
      (a, (System.nanoTime - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      buf += Span(id, current.map(_.id).getOrElse(0L), current.map(_.opId).getOrElse(-1L),
        "call", name, start, System.currentTimeMillis)
    }
  }
}

final class StageRec(val id: Int, val attempt: Int, ownDetails: String,
    val group: String) {
  var submitted = 0L; var completed = 0L
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var result = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** The stage's call site; stages that adaptive execution submits from
    * its own threads carry none, and take their SQL execution's.
    */
  var details: String = ownDetails

  /** The innermost `graft.` frame of the call site, or "". */
  def callSite: String = details.linesIterator.map(_.trim)
    .find(_.startsWith("graft.")).getOrElse("")

  /** The program module that submitted the stage, or "other". */
  def module: String = callSite.split('.') match {
    case a if a.length > 2 => a(1)
    case _ => "other"
  }
}

final class JobRec(val id: Int, val group: String, val start: Long,
    val stageIds: Seq[Int]) {
  var end = 0L
}

/** The benchmark's SparkListener: jobs, stages and per-task metrics,
  * held in memory until the run ends.
  */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val executions = mutable.Map.empty[String, String]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, group(e.properties), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val s = new StageRec(i.stageId, i.attemptNumber(), i.details, group(e.properties))
    if (s.callSite.isEmpty) exec.flatMap(executions.get).foreach(s.details = _)
    stages((i.stageId, i.attemptNumber())) = s
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executions(x.executionId.toString) = x.details }
    case _ => ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.submitted = i.submissionTime.getOrElse(0L)
      s.completed = i.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).filter(_ => m != null).foreach { s =>
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.result += m.resultSize
      s.taskMs += e.taskInfo.duration
    }
  }
}

/** Driver-JVM counters: JIT and GC time from the MXBeans, and the heap
  * left live after each collection, read from GC notifications so no
  * collection has to be forced to read it.
  */
object Jvm {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  /** (epoch ms at the collection's start, heap bytes live after it). */
  private val afterGc = mutable.ArrayBuffer.empty[(Long, Long)]

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
          val live = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { afterGc += ((jvmStart + gc.getStartTime, live)) }
        }
      }, null, null)
    case _ => ()
  }

  /** Collects the garbage of earlier ops before the timed ops and never
    * inside or between them: twice, a second apart, since after a single
    * collection some runs kept ~225 MB more live through every timed op
    * (perfbench/README.md).
    */
  def collect(): Unit = { System.gc(); Thread.sleep(1000); System.gc() }

  /** Peak live heap in MB of each interval (epoch ms) that saw a
    * collection.
    */
  def peaksMb(intervals: Seq[(Long, Long)]): Seq[Double] = {
    Thread.sleep(200) // notifications are delivered asynchronously
    val xs = synchronized { afterGc.toList }
    intervals.flatMap { case (a, b) =>
      xs.collect { case (t, live) if t >= a && t <= b => live / 1048576.0 }.maxOption
    }
  }
}
