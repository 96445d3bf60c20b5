package graft
import graft.engine.Conf
import org.apache.spark.sql.{GraftBus, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.LongAdder

/** Fixed per-query-overhead attribution probe (optimization round 16).
  *
  * The round-15 verdict's core perf finding: suite wall is FLAT from 8
  * to 32 cores (508s vs 499s) because ~990 sub-second queries pay a
  * fixed ~0.2-0.4s each that no operator work can move. This probe
  * splits that fixed cost per query, on a warm session, into
  *   build  - calling the query fn (DataFrame/SQL construction + parse)
  *   plan   - analysis + optimization + physical planning
  *            (forcing df.queryExecution.executedPlan)
  *   exec   - the noop-sink execution (job scheduling + AQE stage
  *            re-planning + task run + commit)
  * plus the number of Spark jobs the execution launched (each AQE
  * shuffle-stage materialization is its own job: jobs x launch latency
  * is the scheduling floor). Each query is measured `reps` times; the
  * MIN of each component is printed (the components race GC/JIT noise).
  *
  * A zero-work floor is printed first: spark.range(1) through the same
  * noop sink — the per-job launch + commit cost nothing can undercut.
  */
object OverheadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    // SPARK_GRAFT_PROBE_CONF="k=v;k=v" — extra session confs, so config
    // candidates (guide §1.2 step 3) can be A/B'd without recompiling
    val builder = Conf.builder(Conf.cpus, "graft-overheadprobe")
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k.trim, v.trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(1)
    })
    Tables.registerAll(spark, sfDir)
    spark.sql("SELECT count(*) FROM lineitem").collect()

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def probe(name: String, fn: (SparkSession, String)
        => org.apache.spark.sql.DataFrame): Unit = {
      var bBuild, bPlan, bExec = Double.MaxValue
      var bJobs = Long.MaxValue
      for (_ <- 1 to reps) {
        GraftBus.drain(spark)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = ms(t0)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analyze+optimize+plan
        val tPlan = ms(t1)
        jobs.reset()
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val tExec = ms(t2)
        GraftBus.drain(spark)
        val nJobs = jobs.sum
        bBuild = math.min(bBuild, tBuild); bPlan = math.min(bPlan, tPlan)
        bExec = math.min(bExec, tExec); bJobs = math.min(bJobs, nJobs)
        graft.ext.CacheRegistry.clearAll()
      }
      println(f"OVERHEAD $name%-28s build=$bBuild%7.1fms plan=$bPlan%7.1fms " +
        f"exec=$bExec%7.1fms jobs=$bJobs%3d")
    }

    probe("ZERO_WORK_FLOOR", (s, _) => s.range(1).toDF())
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    for (q <- names) probe(q, SparkEntry.queries(q))
    spark.stop()
  }
}
