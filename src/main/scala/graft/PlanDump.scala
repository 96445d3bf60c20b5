package graft
import graft.engine.Conf

/** Plan-dump tool (optimization rounds): writes `.explain("formatted")`
  * output for the named queries to `<outDir>/<name>_<tag>.txt`, so plan
  * claims in OPTIMIZATION notes are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <name>[,<name>...]
  * The session is [[engine.Conf]]'s, like Bench's, so the dumped plan
  * is the one the bench would execute. Queries whose
  * construction runs driver-side preparation (staged profiles, fitted
  * models) pay it here too — plans are dumped AFTER one full execution
  * through the noop sink, so operator-pinned caches are in the state
  * the warm (reported) bench run sees — InMemoryRelation nodes included.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <names,comma-sep>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Conf.builder(Conf.cpus, "graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerAll(spark, sfDir)
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // one warm execution so pinned caches exist (the reported bench
      // number is the warm run over exactly this plan state)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$tag.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote ${n}_$tag.txt")
      graft.ext.CacheRegistry.clearAll()
    }
    spark.stop()
  }
}
