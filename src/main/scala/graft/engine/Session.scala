package graft.engine

import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.ingest.{Discover, Naming, Readers}

/** Engine session: file catalog + SQL passthrough — the Spark-native
  * re-expression of the reference's LocalSQL class
  * (localsql/localsql.py:22-364).
  *
  * Where the reference copies every referenced table into a fresh
  * SQLite DB per query (its core scalability wall, ref :230), here a
  * table is a lazily-planned temp view over the file: zero copies,
  * and Catalyst pushes filters/pruning into the scan. A file of at
  * most Spark's split floor (`min(maxPartitionBytes, openCostInBytes)`,
  * 4 MB by default) is registered as one partition: the file planner
  * scans it as one task anyway, so this is exact, and a statement over
  * such files plans no shuffle — the reference's one-process answer,
  * kept lazy ([[Session.onePartitionIfSmall]]).
  *
  * A directory's files load concurrently (each file's reader and schema
  * inference overlap the others') and register in discovery order, so
  * the catalog is the one a file-by-file load gives.
  *
  * Every Session speaks the SQLite dialect: its constructor registers
  * [[Dialect]] on `spark` (idempotent).
  */
class Session(val spark: SparkSession,
              stringifyNested: Boolean = true,
              jsonNormalize: Boolean = false) {

  Dialect.register(spark)

  /** name -> DataFrame, like the reference's self.tables (ref :31). */
  val tables = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  /** Last non-empty query result (ref :34, :231-232) for `\s` export. */
  var latestResult: Option[DataFrame] = None

  /** Load one file; returns the registered table name, or None if the
    * format is unknown / the file fails to load (per-file tolerance,
    * ref :302-316). */
  def loadFile(path: String): Option[String] = loadFiles(Seq(path)).head

  /** Load files as tables; per input path, the registered table name,
    * or None if the format is unknown / the file fails to load.
    *
    * The files' readers (schema inference included) run concurrently
    * on [[Par]]; a file's failure is caught in its own task. The tables
    * then register one by one in input order, so names, the `tables`
    * order, last-wins on a name collision and the `[graft] skipping`
    * messages are those of loading the files one after another. */
  def loadFiles(paths: Seq[String]): Seq[Option[String]] = {
    val read = Par.map(spark, paths, Session.LoadWithin) { p =>
      try Right(Readers.read(spark, p, stringifyNested, jsonNormalize)
        .map(Session.onePartitionIfSmall(spark, _)))
      catch { case e: Exception => Left(e) }
    }
    paths.zip(read).map { case (path, r) =>
      try r.toTry.get.map { df =>
        val name = Naming.tableName(path)
        tables(name) = df
        df.createOrReplaceTempView(name)
        name
      }
      catch {
        case e: Exception =>
          System.err.println(s"[graft] skipping $path: ${e.getMessage}")
          None
      }
    }
  }

  /** Load every file of a directory (discovery order, see [[Discover]])
    * through [[loadFiles]]; the registered names. */
  def loadDir(dir: String, recursive: Boolean = false): Seq[String] = {
    val files = if (recursive) Discover.recursive(dir) else Discover.inDir(dir)
    loadFiles(files.map(_.toString)).flatten
  }

  /** Run SQL; caches the result for export (ref run_lsql :216-233). */
  def sql(query: String): DataFrame = {
    val df = spark.sql(query)
    latestResult = Some(df)
    df
  }

  // ---- catalog introspection (ref \t, \td, bare-table-name) -----------

  /** `\t`: table names (ref :195-197). */
  def tableNames: Seq[String] = tables.keys.toSeq

  /** `\td`: (table, rows, columns, bytes) like get_tables_descr
    * (ref :50-54); bytes from the optimized plan's stats, which is the
    * Spark-native size notion (no full materialization needed). Row
    * count comes from plan statistics when the optimizer knows it
    * (computed stats / CBO) — a df.count() per table is a full scan
    * each, which at 100 TB turns `\td` into a cluster-wide job; the
    * scan only runs when stats are absent. */
  def describeTables(): Seq[(String, Long, Int, BigInt)] =
    tables.toSeq.map { case (name, df) =>
      val stats = df.queryExecution.optimizedPlan.stats
      val rows = stats.rowCount.map(_.toLong).getOrElse(df.count())
      (name, rows, df.columns.length, stats.sizeInBytes)
    }

  /** Completion candidates over the catalog (ref :323-333): table
    * names, then column names backtick-quoted where needed. */
  def completions: Seq[String] =
    Completions.candidates(tables.toSeq.map { case (n, df) => (n, df.columns.toSeq) })

  /** Bare table name: schema dump (ref df.info(), :226-228). */
  def info(name: String): String =
    tables.get(name)
      .map(df => df.schema.treeString + s"rows: ${df.count()}")
      .getOrElse(s"unknown table: $name")
}

object Session {
  /** Bound on one [[Session.loadFiles]] call: schema inference of a
    * whole directory that has not finished in an hour is wedged, and the
    * load fails instead of hanging the REPL. */
  private val LoadWithin: FiniteDuration = 1.hour

  /** `df` as one partition when its scan is one file of at most
    * `min(maxPartitionBytes, openCostInBytes)` bytes, or local rows
    * (XLSX) of that size; else `df` unchanged.
    *
    * Spark's file planner never cuts a split smaller than that floor
    * (`FilePartition.maxSplitBytes`), so such a file already scans as
    * one task, and the narrow, shuffle-free `coalesce(1)` only tells the
    * planner so; local rows, already in memory, merge into that one
    * task the same way. `SinglePartition` then satisfies every aggregate,
    * window, global-sort and join distribution above it: no exchange and
    * no range-sample job. Filter and Project still push through the
    * coalesce into the scan. */
  private[engine] def onePartitionIfSmall(spark: SparkSession, df: DataFrame): DataFrame = {
    val conf = spark.sessionState.conf
    val floor = math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
    val bytes = df.queryExecution.analyzed.collectLeaves() match {
      case Seq(l: LogicalRelation) => l.relation match {
        case fs: HadoopFsRelation if fs.location.inputFiles.length == 1 =>
          Some(BigInt(fs.location.sizeInBytes))
        case _ => None
      }
      case Seq(l: LocalRelation) => Some(l.stats.sizeInBytes)
      case _ => None
    }
    if (bytes.exists(_ <= floor)) df.coalesce(1) else df
  }

  /** A session on [[Conf]]'s runtime at one core per available
    * processor. */
  def local(appName: String = "graft", jsonNormalize: Boolean = false): Session = {
    val spark = Conf.builder(Runtime.getRuntime.availableProcessors, appName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new Session(spark, jsonNormalize = jsonNormalize)
  }
}
