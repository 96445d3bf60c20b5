package graft.engine

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.duration.FiniteDuration
import org.apache.spark.sql.SparkSession

/** The engine's one way to run independent driver-side work at once.
  *
  * Spark's scheduler runs several jobs together; actions are sequential
  * only because the driver issues them sequentially. Work that does
  * independent actions while it is being built (schema inference,
  * parquet footer reads, fit rounds, eager counts) overlaps here.
  */
object Par {

  private val calls = new AtomicLong

  /** `xs.map(f)` with the items run concurrently; results come back in
    * input order.
    *
    *  - One item (or none) runs inline on the caller's thread: no pool.
    *  - Otherwise each call gets a fresh fixed pool of
    *    min(|xs|, defaultParallelism) threads. The threads are made by
    *    the caller, so they inherit its active session and its Spark
    *    local properties (job group, description, scheduler pool).
    *  - Results are awaited in input order against one deadline,
    *    `within` after the call starts. The first failure in input order
    *    is rethrown as `f` threw it; past the deadline a
    *    `TimeoutException` is thrown.
    *  - On a failure or a timeout the call's still-running jobs are
    *    cancelled through a per-call job tag (the caller's job group is
    *    left alone), the pool is shut down with interrupts, and its
    *    threads get up to `within` again to exit.
    */
  def map[A, B](spark: SparkSession, xs: Seq[A], within: FiniteDuration)(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val sc = spark.sparkContext
      val tag = s"graft-par-${calls.incrementAndGet()}"
      val pool = Executors.newFixedThreadPool(math.min(xs.size, sc.defaultParallelism), r => {
        val t = new Thread(r, tag)
        t.setDaemon(true)
        t
      })
      val deadline = System.nanoTime + within.toNanos
      var done = false
      try {
        val futures = xs.map(x => pool.submit(new Callable[B] {
          def call(): B = { sc.addJobTag(tag); f(x) }
        }))
        val out = futures.map { fu =>
          try fu.get(deadline - System.nanoTime, TimeUnit.NANOSECONDS)
          catch {
            case e: ExecutionException => throw e.getCause
            case _: TimeoutException => throw new TimeoutException(
              s"$tag: ${xs.size} items did not finish within $within")
          }
        }
        done = true
        out
      } finally {
        if (done) pool.shutdown()
        else {
          sc.cancelJobsWithTag(tag, "a concurrent sibling failed or timed out")
          pool.shutdownNow()
          pool.awaitTermination(within.toNanos, TimeUnit.NANOSECONDS)
        }
      }
    }
}
