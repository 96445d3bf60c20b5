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
    * [[clearAll]]. Iterative operators get it through [[iterate]]: a
    * cache alone keeps the logical plan growing (analysis cost
    * compounds per round), while a checkpoint resets it to a leaf scan.
    * The backing blocks outlive the returned DataFrame until released,
    * hence the registry.
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
    * operators done with a frame mid-workload: [[iterate]] releases each
    * superseded generation, without which persisted blocks grow
    * O(rounds * corpus) until clearAll. A pin is matched by REFERENCE
    * (the exact DataFrame handed back by [[pin]]); a checkpoint by its
    * backing RDD. A df that was never registered (or already released)
    * is a no-op.
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

  /** The round kernel of every loop that carries its state from round
    * to round in checkpointed generations (Graph.Loop,
    * Graph.harmonicCentralityBounded, Dedup.propagateMinLabels,
    * Bpe.learnMerges, Similarity.kCenterSelect).
    *
    * Runs `step(cur, round)` from `init` for rounds 1, 2, … until the
    * step declines a round (None) or `maxRounds` rounds have run. Each
    * generation built before round `maxRounds` — one a later round can
    * read — is eagerly checkpointed (lineage and analysis cost stay
    * flat), and only then is its parent released. `init` stays the
    * caller's. A generation built in round `maxRounds` comes back
    * unmaterialized, reading its still-registered parent; a caller that
    * needs its last generation materialized asks for one more round and
    * declines it. Returns the last generation and the rounds that built
    * one. */
  private[ext] def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => Option[DataFrame]): (DataFrame, Int) = {
    require(maxRounds >= 0, s"maxRounds must be >= 0; got $maxRounds")
    @annotation.tailrec
    def go(cur: DataFrame, done: Int): (DataFrame, Int) =
      if (done == maxRounds) (cur, done)
      else step(cur, done + 1) match {
        case None => (cur, done)
        case Some(next) if done + 1 == maxRounds => (next, maxRounds)
        case Some(next) =>
          val child = checkpoint(next) // eager: materialized
          if (done > 0) release(cur) // never init
          go(child, done + 1)
      }
    go(init, 0)
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
