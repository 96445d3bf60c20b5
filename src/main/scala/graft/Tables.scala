package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.concurrent.duration._
import graft.engine.Par

/** Registry for the driver-generated test tables (TESTDATA.md).
  *
  * Mirrors the reference's catalog-of-named-tables model
  * (reference localsql/localsql.py:31, :302-313) re-expressed as Spark
  * temp views over parquet: zero-copy, lazily read, and fully visible
  * to Catalyst (predicate pushdown / column pruning reach the scan).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped in TWO encodings across testdata
    // generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    // rejects — read as raw long under the legacy conf and divide) and
    // TIMESTAMP(MICROS) isAdjustedToUTC=false (which Spark reads as
    // TIMESTAMP_NTZ — a type unix_micros/unix_millis won't accept).
    // Normalize BOTH to plain TimestampType here so every downstream
    // query sees one stable column type regardless of the writer.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path(dir, name))
    val nsFixed =
      if (name == "events" && df.schema("ts").dataType == LongType)
        // `div`, not `/`: Column `/` divides as double, and epoch nanos
        // (~1.7e18) exceed 2^53, so the double path can round a boundary
        // timestamp across a window edge (ADVICE r3). DuckDB's oracle
        // conversion is exact integer arithmetic; match it exactly.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    // TIMESTAMP(MICROS/MILLIS) isAdjustedToUTC=false parquet reads as
    // TIMESTAMP_NTZ — a type unix_micros/unix_millis and friends won't
    // accept, and one DuckDB reads as plain TIMESTAMP. Session tz is
    // pinned UTC (Session.builder), so reinterpreting the NTZ
    // wall-clock as a UTC instant is value-preserving and matches the
    // oracle. Normalize every such column so downstream queries see
    // ONE stable timestamp type regardless of the writer generation.
    nsFixed.schema.fields.foldLeft(nsFixed) { (d, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast("timestamp"))
        case _ => d
      }
    }
  }

  // Footer reads + view setup are per-(session, dir) idempotent work;
  // memoize so a 50-query run doesn't pay 10 parquet-footer reads per
  // query (this dominated bench wall-clock at small SF).
  private val registered = scala.collection.mutable.Set[String]()

  /** Bound on one [[registerAll]]'s footer reads: ten parquet opens
    * that have not finished in ten minutes are wedged. */
  private val RegisterWithin: FiniteDuration = 10.minutes

  /** Register every test table as a temp view. Lazy: no IO beyond the
    * parquet footer until an action runs. The tables open concurrently
    * (graft.engine.Par) and register in `all` order. View registration
    * is the Spark analog of the reference's `self.tables[name] = df`
    * (localsql/localsql.py:308). */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    val key = System.identityHashCode(spark) + ":" + dir
    if (!registered.contains(key)) {
      Par.map(spark, all, RegisterWithin)(load(spark, dir, _)).zip(all)
        .foreach { case (df, n) => df.createOrReplaceTempView(n) }
      registered += key
    }
  }
}
