package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, Lineage}

/** Iterative operators must not park checkpoint blocks in the
  * BlockManager for the session lifetime: localCheckpoint-per-round
  * without a matching unpersist grows storage memory monotonically —
  * O(rows × rounds) per invocation — the round-6 verdict's scale-killer
  * on a long-running cluster. These specs pin that the persistent-RDD
  * registry returns to its pre-call size after the operator's consuming
  * action plus the thread's [[PendingRelease.drain]] (each test drains
  * first, so that drain releases only its operator's handles).
  */
class CheckpointLeakSpec extends SparkSuite {
  import spark.implicits._

  private def registrySize: Int = {
    spark.sparkContext.getPersistentRDDs.size
  }

  test("Lineage.checkpointTracked releases exactly what it persisted") {
    val before = registrySize
    val (cp, release) = Lineage.checkpointTracked(
      spark.range(100).toDF("id"))
    assert(registrySize > before, "eager checkpoint must register blocks")
    assert(cp.count() == 100)
    release()
    assert(registrySize == before)
  }

  test("pageRankManaged + cleanup leaves no persisted RDDs behind") {
    PendingRelease.drain()
    val before = registrySize
    // long enough chain that per-round leaks would be visible (iters=6 ->
    // 5 intermediate checkpoints under the old code)
    val edges = (1L to 40L).map(i => (i, i % 20 + 1)).toDF("src", "dst")
    val pr = Graph.pageRank(edges, iters = 6)
    val rows = pr.collect()
    assert(rows.nonEmpty)
    // while the result is live only the edge cache + final round remain,
    // not one entry per iteration
    assert(registrySize <= before + 2,
      s"per-round checkpoints leaked: $registrySize vs pre-call $before")
    PendingRelease.drain()
    assert(registrySize == before)
  }

  test("labelPropagationManaged + cleanup leaves no persisted RDDs behind") {
    PendingRelease.drain()
    val before = registrySize
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq((1L, 5L)).toDF("node", "label")
    val lp = Graph.labelPropagation(edges, seeds, iters = 6)
    assert(lp.collect().nonEmpty)
    assert(registrySize <= before + 2,
      s"per-round checkpoints leaked: $registrySize vs pre-call $before")
    PendingRelease.drain()
    assert(registrySize == before)
  }

  test("connectedComponentsManaged + cleanup leaves no persisted RDDs behind") {
    PendingRelease.drain()
    val before = registrySize
    // one long chain forces many label-propagation rounds
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      .withColumn("id_a", col("id_a")).withColumn("id_b", col("id_b"))
    val comps = Dedup.connectedComponents(pairs)
    val out = comps.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.values.toSet == Set(1L), "chain must collapse to one component")
    assert(registrySize <= before + 2,
      s"per-round checkpoints leaked: $registrySize vs pre-call $before")
    PendingRelease.drain()
    assert(registrySize == before)
  }
}
