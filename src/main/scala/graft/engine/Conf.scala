package graft.engine

import org.apache.spark.sql.SparkSession

/** The one definition of a graft SparkSession's runtime: every main, the
  * engine [[Session]] and the test session start from [[builder]], so the
  * oracle dump, the bench and the tests run the same regime.
  *
  *  - `local[cores]` with `spark.sql.shuffle.partitions = cores` (a real
  *    cluster tunes this to 2-3x total cores);
  *  - AQE coalescing respects the advisory partition size instead of
  *    keeping one post-shuffle partition per core: Spark's own docs
  *    recommend false in production ("it's recommended to set this
  *    config to false and respect the advisory size"). At scale it yields
  *    advisory-sized (64MB default) reduce partitions rather than
  *    core-count-many slivers; on the sub-second bench tier it coalesces
  *    kilobyte shuffles to one reduce task (5-12% off the fixed per-query
  *    exec cost, measured with OverheadProbe);
  *  - UTC session time and no UI.
  *
  * A caller that needs one more setting chains it onto the returned
  * builder.
  */
object Conf {

  /** Cores for the mains: `SPARK_GRAFT_CPUS`, else 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def builder(cores: Int, app: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(app)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
