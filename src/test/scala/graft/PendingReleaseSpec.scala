package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The deferred-release registry's embedder contract (round-15 brief
  * item 8): every harness drains after materialization, on the thread
  * that built the frame, but a long-lived HOST (a watcher, a streaming
  * gate) would leak any deferred cache if nothing drained per batch.
  * Both streaming drivers drain on the stream thread at the end of
  * every micro-batch; these specs pin the session's caches at their
  * pre-batch set after each batch, with a probe handle deferred on the
  * test thread proving the stream thread's drain releases only its own
  * handles (the probe survives it; the test thread's drain runs it).
  */
class PendingReleaseSpec extends SparkSuite {
  import spark.implicits._

  test("defer/drain: registration order, non-fatal skip, count observable") {
    PendingRelease.drain() // isolate from other suites' leftovers
    assert(PendingRelease.pendingCount == 0)
    val ran = scala.collection.mutable.ArrayBuffer.empty[Int]
    PendingRelease.defer(() => ran += 1)
    PendingRelease.defer(() => throw new RuntimeException("boom"))
    PendingRelease.defer(() => ran += 3)
    assert(PendingRelease.pendingCount == 3)
    PendingRelease.drain() // the throwing handle is skipped, rest run in order
    assert(ran.toSeq == Seq(1, 3))
    assert(PendingRelease.pendingCount == 0)
  }

  test("StreamingDedup.start drains the registry after every batch") {
    PendingRelease.drain()
    val sd = Files.createTempDirectory("graft-pr-sd").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = graft.streaming.StreamingDedup.start(
      input.toDF().toDF("doc_id", "text"), sd)
    try {
      Seq(
        Seq(1L -> "the quick brown fox jumps over the lazy dog again",
            2L -> "another document entirely about something different"),
        Seq(3L -> "the quick brown fox jumps over the lazy dog again!")
      ).foreach { batch =>
        // a probe handle deferred on this thread before the trigger:
        // the stream thread's per-batch drain releases what that thread
        // deferred, never this thread's probe
        val cached = spark.sparkContext.getPersistentRDDs.keySet
        var released = false
        PendingRelease.defer(() => released = true)
        input.addData(batch: _*)
        q.processAllAvailable()
        assert(!released, "the stream thread's drain ran this thread's probe")
        assert(spark.sparkContext.getPersistentRDDs.keySet == cached,
          "caches leaked past the batch")
        PendingRelease.drain()
        assert(released, "this thread's drain never ran its probe handle")
        assert(PendingRelease.pendingCount == 0)
      }
    } finally q.stop()
  }

  test("DumpWatchSync.start drains the registry after every batch") {
    PendingRelease.drain()
    val watchDir = Files.createTempDirectory("graft-pr-watch")
    val stateDir = Files.createTempDirectory("graft-pr-state").toString
    val ddl = "CREATE TABLE `t` (\n  `id` INT,\n  `v` INT,\n" +
      "  PRIMARY KEY (`id`)\n) ENGINE=InnoDB;\n"
    def dump(v: Int): String =
      ddl + s"INSERT INTO `t` (`id`, `v`) VALUES\n(1, $v);\n"
    val q = graft.streaming.DumpWatchSync.start(spark, watchDir.toString,
      stateDir, emitScripts = false)
    try {
      Seq(10, 11).zipWithIndex.foreach { case (v, i) =>
        val cached = spark.sparkContext.getPersistentRDDs.keySet
        var released = false
        PendingRelease.defer(() => released = true)
        Files.write(watchDir.resolve(s"d$i.sql"), dump(v).getBytes("UTF-8"))
        q.processAllAvailable()
        assert(!released, "the stream thread's drain ran this thread's probe")
        assert(spark.sparkContext.getPersistentRDDs.keySet == cached,
          "caches leaked past the batch")
        PendingRelease.drain()
        assert(released, "this thread's drain never ran its probe handle")
        assert(PendingRelease.pendingCount == 0)
      }
    } finally q.stop()
  }
}
