package graft
import graft.engine.Conf
import org.apache.spark.sql.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-level attribution probe (optimization rounds): runs the named
  * queries once warm (p2, operator caches in place) and prints, per
  * stage of the warm run, the summed task time / GC / record counts and
  * the stage's callsite name — the local-mode stand-in for the Spark
  * UI's stage table (guide §7.1) when deciding WHERE a query's task
  * seconds actually go. Not a timing tool: numbers are for attribution,
  * the bench protocol owns the record.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Conf.builder(Conf.cpus, "graft-stageprobe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (capture) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          stages.add(
            f"STAGE ${si.stageId}%4d task=${m.executorRunTime / 1e3}%8.1fs " +
              f"gc=${m.jvmGCTime / 1e3}%6.1fs in=${m.inputMetrics.recordsRead}%12d " +
              f"sh_r=${m.shuffleReadMetrics.recordsRead}%12d " +
              f"sh_w=${m.shuffleWriteMetrics.recordsWritten}%12d " +
              f"out=${m.outputMetrics.recordsWritten}%10d  ${si.name.takeWhile(_ != '\n')}")
        }
    })
    Tables.registerAll(spark, sfDir)
    spark.sql("SELECT count(*) FROM lineitem").collect()
    for (q <- args) {
      val fn = SparkEntry.queries(q)
      def once(): Unit =
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      once() // p1 cold: caches built, not captured
      GraftBus.drain(spark) // cold-run events must land BEFORE capture flips on
      capture = true
      val t0 = System.nanoTime()
      once() // p2 warm: captured
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(spark) // warm-run events must land before capture flips off
      capture = false
      println(s"==== $q warm wall=" + f"$wall%.2f" + "s ====")
      stages.forEach(s => println(s))
      stages.clear()
      graft.ext.CacheRegistry.clearAll()
    }
    spark.stop()
  }
}
