package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.LongAdder

/** Single-query bench probe (local iteration tool): same session config
  * and measurement protocol as [[Bench]] (warm-up run, then one timed
  * noop-sink execution), for the query names given as args.
  *
  * Beside wall time it prints the SUM of executor task run time and of
  * in-task JVM GC time for the timed run (from a TaskEnd listener).
  * That split is the adjudication tool for bench-number drift on a
  * noisy host: a wall spike with flat task-time is a driver/scheduler
  * stall; an inflated task-time with flat GC is executor-side CPU
  * throttling (noisy neighbor); a GC-dominated task-time is memory
  * pressure. A plan regression is the only case where the MINIMUM
  * task-time across repeated runs moves. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // match Bench: advisory-size-respecting AQE coalescing
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val taskMs = new LongAdder; val gcMs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { taskMs.add(m.executorRunTime); gcMs.add(m.jvmGCTime) }
      }
    })
    Tables.registerAll(spark, sfDir)
    spark.sql("SELECT count(*) FROM lineitem").collect()
    for (q <- args) {
      val fn = SparkEntry.queries(q)
      def once(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // pins and checkpoints are released after the cold run and after
      // the timed run, so no query is timed against blocks cached by
      // an earlier run
      once()
      graft.ext.CacheRegistry.clearAll()
      taskMs.reset(); gcMs.reset()
      val t0 = System.nanoTime()
      once()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are posted asynchronously and the bus-drain API
      // is private[spark]: read once the adders stop moving (~200ms
      // quiet period; the job itself is already complete here)
      var prev = -1L
      while ({ val cur = taskMs.sum + gcMs.sum
               val moved = cur != prev; prev = cur
               if (moved) Thread.sleep(200); moved }) ()
      println(f"BENCHONE $q $wall%.2f s  task ${taskMs.sum / 1e3}%.1f s" +
        f"  gc ${gcMs.sum / 1e3}%.1f s")
      graft.ext.CacheRegistry.clearAll()
    }
    spark.stop()
  }
}
