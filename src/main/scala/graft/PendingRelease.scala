package graft

/** Deferred-release registry for operator-internal persists, owned per
  * thread.
  *
  * `SparkEntry.queries` functions return a bare `DataFrame`, so a query
  * built on an operator that persists internals its result still reads
  * from (e.g. [[graft.operators.Graph.hits]], whose per-round caches the
  * RESULT plan reads) has no channel to hand its cleanup handle to the
  * caller. Releasing inside the query function is wrong in both
  * directions: releasing before returning forces an eager persist+count
  * round-trip on every invocation (the round-11 q205 regression, 2.92 →
  * 6.34 s warm), and not releasing leaks the caches past the
  * materialization (the round-10 q205 leak).
  *
  * Contract: an operator that persists internals its result depends on
  * calls [[defer]] with the release handle; the code that materializes
  * the frame calls [[drain]] AFTER the materialization, ON THE THREAD
  * THAT BUILT THE FRAME. Handles belong to the thread that deferred
  * them: [[defer]], [[drain]] and [[pendingCount]] see only the calling
  * thread's handles, so a drain never releases caches or checkpoint
  * blocks a frame built on another thread still reads from. Handles are
  * released in registration order; a handle that throws a NON-fatal
  * error is logged and skipped so one bad release can't strand the rest
  * (fatal errors — OutOfMemoryError, interruption — propagate: masking
  * those hides real harness failure). Draining with nothing pending is
  * free, so harnesses drain unconditionally after every entry.
  *
  * EMBEDDERS: a long-lived host that materializes engine frames itself
  * (a service wrapping [[graft.SparkEntry.queries]], a JDBC host) must
  * call [[drain]] after each materialization, on the thread that built
  * and materialized the frame; handles deferred on a thread that never
  * drains are never released. Build frames on pooled threads only if the
  * same task materializes and drains them. The engine's own streaming
  * drivers ([[graft.streaming.DumpWatchSync.start]],
  * [[graft.streaming.StreamingDedup.start]]) drain on the stream thread
  * at the end of every micro-batch — each batch's outputs are committed
  * by then, so the batch IS the materialization — and a spec pins the
  * session's caches at baseline after each batch (PendingReleaseSpec).
  */
object PendingRelease {
  private val pending = ThreadLocal.withInitial[java.util.ArrayDeque[() => Unit]](
    () => new java.util.ArrayDeque[() => Unit]())

  /** Register a cleanup to run at this thread's next [[drain]]. */
  def defer(release: () => Unit): Unit = pending.get.addLast(release)

  /** This thread's handles awaiting [[drain]] — the leak observable the
    * drain specs assert returns to zero.
    */
  def pendingCount: Int = pending.get.size

  /** Run and clear this thread's pending releases (registration order). */
  def drain(): Unit = {
    val q = pending.get
    var f = q.pollFirst()
    while (f != null) {
      try f() catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] deferred release failed (skipped): $e")
      }
      f = q.pollFirst()
    }
  }
}
