package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

/** Release ownership on a shared session: a deferred release belongs to
  * the thread that built the frame, so one caller's [[PendingRelease.drain]]
  * never unpersists caches or checkpoint blocks another caller's frame
  * still reads from — the long-lived-host shape (a watcher, a streaming
  * gate and batch queries on one session, each draining on its own
  * thread).
  */
class ReleaseOwnershipSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("a handle deferred on one thread is run only by that thread's drain") {
    PendingRelease.drain()
    val ran = new AtomicBoolean(false)
    PendingRelease.defer(() => ran.set(true))
    val seen = new AtomicInteger(-1)
    val other = new Thread(() => {
      seen.set(PendingRelease.pendingCount)
      PendingRelease.drain()
    })
    other.start()
    other.join()
    assert(seen.get == 0, "another thread sees this thread's handle")
    assert(!ran.get, "another thread's drain ran this thread's handle")
    assert(PendingRelease.pendingCount == 1)
    PendingRelease.drain()
    assert(ran.get, "the owner's drain did not run its handle")
    assert(PendingRelease.pendingCount == 0)
  }

  test("equal plans persisted by two callers keep separate caches") {
    // the cache manager hands an existing entry to any equal plan; with
    // a shared entry, one caller's release drops the other's cache
    import org.apache.spark.storage.StorageLevel
    val df = spark.range(100).toDF("id")
    val a = graft.operators.Lineage.persistOwned(df)
    val b = graft.operators.Lineage.persistOwned(df)
    try {
      assert(a.count() == 100 && b.count() == 100)
      a.unpersist()
      assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "releasing one caller's cache dropped the other's")
    } finally { a.unpersist(); b.unpersist(); () }
  }

  test("two threads materialize and drain checkpointing entries on one session") {
    // q80 (pageRank) and q143 (labelPropagation) read their last
    // localCheckpoint from the result plan, so the other thread's drain
    // releasing it mid-action fails the read; both persist the same edge
    // plan, q88 persists its sorted rows, and q172 persists its value
    // counts for a lazy consumer. Results must equal a single-thread
    // run's, and the session must end with no persisted RDD the test
    // added. q164 and q174 read running sums lazily from sorted rows
    // their own thread's drain releases.
    val names = Seq("q80_pagerank", "q143_label_propagation", "q88_median_mad",
      "q172_sketch_error_audit", "q164_classifier_calibration",
      "q174_vocab_coverage")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def run(name: String): Seq[String] =
      try SparkEntry.queries(name)(spark, dir).collect().map(_.toString)
        .toSeq.sorted
      finally PendingRelease.drain()
    val expected = names.map(n => n -> run(n)).toMap
    val errors = new ConcurrentLinkedQueue[String]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        for (r <- 0 until 4; i <- names.indices) {
          val n = names((i + t) % names.size)
          try {
            if (run(n) != expected(n)) errors.add(s"thread $t round $r: $n differs")
          } catch {
            case e: Exception => errors.add(s"thread $t round $r: $n failed: $e")
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"persisted RDDs left behind: $left")
  }
}
