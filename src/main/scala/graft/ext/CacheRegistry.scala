package graft.ext

import org.apache.spark.sql.DataFrame

/** Registry of every DataFrame the ext operators pin with cache().
  *
  * Caching inside an operator is load-bearing (a plan consumed by two
  * subtrees recomputes otherwise), but an unbounded session would leak
  * those blocks: operators hand back lazy DataFrames, so they can never
  * know when their cache is safe to drop. The session-level runner
  * (Verify, Bench, a REPL user) calls [[clearAll]] once its results are
  * materialized — bounding cache memory by one workload instead of the
  * session lifetime.
  */
object CacheRegistry {

  private val pinned =
    java.util.Collections.synchronizedList(new java.util.ArrayList[DataFrame]())
  private val checkpointed =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.rdd.RDD[_]]())

  /** Cache df and remember it for later [[clearAll]]. */
  def pin(df: DataFrame): DataFrame = {
    pinned.add(df)
    df.cache()
  }

  /** Eagerly local-checkpoint df — materialize it and TRUNCATE its
    * lineage — and remember the persisted checkpoint RDD for
    * [[clearAll]]. This is the tool for iterative operators
    * (Dedup.clusters): a cache alone keeps the logical plan growing
    * (analysis cost compounds per round), while a checkpoint resets it
    * to a leaf scan. The backing blocks outlive the returned DataFrame
    * until released, hence the registry.
    *
    * After clearAll the returned DataFrame is UNRECOVERABLE (its
    * lineage is gone with the blocks) — callers must fully consume it
    * within the workload, same contract as [[pin]]. */
  def checkpoint(df: DataFrame): DataFrame = {
    val chk = df.localCheckpoint()
    chk.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(rdd => checkpointed.add(rdd))
    chk
  }

  /** Unpersist and forget ONE checkpointed or pinned DataFrame — for
    * iterative operators that supersede a frontier mid-workload
    * (Dedup.clusters, the per-round generations of Graph.Loop):
    * without eager release, persisted blocks grow O(rounds * corpus)
    * until clearAll. A pin is matched by REFERENCE (the exact DataFrame
    * handed back by [[pin]]); a checkpoint by its backing RDD. A df
    * that was never registered (or already released) is a no-op.
    *
    * Cluster-deployment caveat (same hazard class for both kinds): a
    * released frame's blocks are gone and a pin whose lineage roots in
    * a RELEASED checkpoint/pin cannot recompute lost blocks either —
    * callers release a parent only after every downstream consumer is
    * materialized, which local mode never re-reads. A deployment with
    * executor loss would keep parents until the loop ends. */
  def release(df: DataFrame): Unit = {
    pinned.synchronized {
      if (pinned.remove(df)) { df.unpersist(blocking = false); () }
    }
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach { rdd =>
      checkpointed.synchronized {
        if (checkpointed.remove(rdd)) { rdd.unpersist(blocking = false); () }
      }
    }
  }

  /** Unpersist every pinned DataFrame and checkpoint RDD, and forget
    * them. Also clears the memoized shingle index (Dedup.shingles3)
    * and the memoized BPE merge fits (Bpe.learnMergesCollected). */
  def clearAll(): Unit = {
    pinned.synchronized {
      pinned.forEach(df => { df.unpersist(blocking = false); () })
      pinned.clear()
    }
    checkpointed.synchronized {
      checkpointed.forEach(rdd => { rdd.unpersist(blocking = false); () })
      checkpointed.clear()
    }
    Dedup.clearShingleCache()
    Bpe.clearFitCache()
  }
}
