package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.engine.Session
import graft.ext.{CacheRegistry, Graph}
import graft.ingest.Discover
import graft.io.Save

/** One benchmark run in a fresh JVM: set up a session, open the
  * workload's inputs, make one cold pass over its operations (results
  * collected and dumped for the checker), then repeat whole warm passes,
  * each of which opens the inputs again, until the time budget is spent
  * and at least `min-passes` were made. The first `warmup` warm passes
  * are not measured.
  * Every layer is timed from outside, at its public entry point.
  *
  * Usage: Harness --workload W --data DIR --out DIR --seconds S
  *                --min-passes N --warmup N --trace 0|1
  *                [--ops a,b,c | --script FILE --export DIR]
  *
  * Writes OUT/result.json (timings and counters), OUT/results.jsonl (the
  * cold pass's rows, for the checker) and, traced, OUT/spans.jsonl.
  */
object Harness {

  /** One operation of a workload. `run` returns the rows it collected
    * (cold pass) or None; it throws on failure. An untimed op is a
    * property check: it runs once per pass after the timed ops, outside
    * every timed window, so whether it passes never moves a timing. */
  final case class Op(name: String, kind: String, oracle: Option[String],
                      run: Boolean => Option[(Seq[String], Seq[Row])],
                      timed: Boolean = true)

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val warmup = opt("warmup").toInt
    val traced = opt("trace") == "1"
    out.mkdirs()

    val session = Session.local("perfbench")
    val spark = session.spark
    val setupS = (System.currentTimeMillis - jvmStart) / 1000.0
    val trace = new Trace(spark, traced)
    trace.span("setup", jvmStart.toDouble, System.currentTimeMillis.toDouble, "")

    // the operations themselves are built untimed: the catalog map is
    // constructed once, as any long-lived caller would
    val ops: Seq[Op] = trace.time("ops.build", "") {
      if (workload == "files_sql") FilesSql.ops(session, opt("script"), opt("export"), trace)
      else catalogOps(spark, data, opt("ops").split(",").toSeq, trace)
    }

    // ---- open: the inputs as tables -------------------------------------
    // The first open is cold and counts in cold_s, with the cold pass:
    // together they are what a one-shot user pays after set-up. Every
    // warm pass opens the inputs again; load_s is the median of those.
    // Traced, files_sql opens file by file so each format is timed apart.
    var opened = false
    def open(): Map[String, Double] = {
      val ingest = scala.collection.mutable.Map.empty[String, Double]
      workload match {
        case "files_sql" =>
          if (trace.isOn) {
            val files = trace.time("ingest.discover", "load") { Discover.inDir(data) }
            ingest("discover") = trace.lastMs
            files.foreach { p =>
              val kind = Formats.of(p.toString)
              trace.time(s"ingest.loadFile.$kind", "load") { session.loadFile(p.toString) }
              ingest(kind) = ingest.getOrElse(kind, 0.0) + trace.lastMs
            }
          } else session.loadDir(data)
        case _ if !opened =>
          trace.time("tables.registerAll", "load") { graft.Tables.registerAll(spark, data) }
        case _ =>
          // registerAll is memoized per session and directory, so a
          // re-open repeats its work table by table
          trace.time("tables.load", "load") {
            graft.Tables.all.foreach(n => graft.Tables.load(spark, data, n).createOrReplaceTempView(n))
          }
      }
      opened = true
      ingest.toMap
    }

    // ---- cold: first open and first execution of every op, rows kept ----
    val dump = new PrintWriter(new File(out, "results.jsonl"), "UTF-8")
    var attempted = 0L
    var failed = 0L
    var rowsOut = 0L
    val failures = ArrayBuffer.empty[String]
    var peakStorage = 0L
    def runOp(op: Op, cold: Boolean, pass: Int): Option[Double] = {
      attempted += 1
      val s = System.nanoTime
      val res = try {
        val rows = trace.time(s"op.${op.name}", op.name) { op.run(cold) }
        if (traced) peakStorage = math.max(peakStorage, trace.storageBytes())
        trace.time("cache.clearAll", op.name) { CacheRegistry.clearAll() }
        Right(rows)
      } catch {
        case e: Throwable =>
          CacheRegistry.clearAll()
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      }
      val secs = (System.nanoTime - s) / 1e9
      res match {
        case Right(rows) =>
          if (cold) rowsOut += rows.map(_._2.length.toLong).getOrElse(0L)
          if (cold) dump.println(Json.obj(
            "op" -> op.name, "kind" -> op.kind, "oracle" -> op.oracle,
            "columns" -> rows.map(_._1).getOrElse(Nil),
            "rows" -> rows.map(_._2.map(r => r.toSeq.map(Json.cell))).getOrElse(Nil)))
          Some(secs)
        case Left(err) =>
          failed += 1
          if (cold) failures += s"${op.name}: $err"
          System.err.println(s"[perfbench] pass $pass ${op.name} failed: $err")
          None
      }
    }
    val (timedOps, checks) = ops.partition(_.timed)
    val tc = System.nanoTime
    open()
    trace.drain()
    timedOps.foreach(op => runOp(op, cold = true, 0))
    val coldS = (System.nanoTime - tc) / 1e9
    checks.foreach(op => runOp(op, cold = true, 0))
    dump.close()
    trace.drain()

    // ---- warm-up: whole passes outside every measured window -----------
    // The first warm pass still runs while compilations land.
    trace.enabled(!traced)
    for (p <- 1 to warmup) {
      open()
      (timedOps ++ checks).foreach(op => runOp(op, cold = false, -p))
    }

    // ---- warm passes: whole passes until the budget is spent -----------
    // A pass re-opens the inputs, then runs every op once. Figures are
    // medians over passes (load, rate) or over each op's passes
    // (latency), so one pass slowed by the host or by late JIT
    // compilation moves none of them. Traced runs go untraced, traced,
    // traced, untraced (whole groups of four): the untraced passes give
    // the tracing overhead inside one JVM on the same warm state, and the
    // order cancels warm-up drift.
    val loadS = Array.fill(2)(ArrayBuffer.empty[Double])
    val rates = Array.fill(2)(ArrayBuffer.empty[Double])
    val perOp = Array.fill(2)(scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]])
    val passStats = ArrayBuffer.empty[Trace.Counters]
    val passSave = ArrayBuffer.empty[Map[String, Double]]
    val passIngest = ArrayBuffer.empty[Map[String, Double]]
    var pass = 0
    val tw = System.nanoTime
    def elapsed = (System.nanoTime - tw) / 1e9
    while (pass < minPasses || elapsed < seconds || (traced && pass % 4 != 0)) {
      pass += 1
      val mode = if (traced && (pass % 4 == 2 || pass % 4 == 3)) 1 else 0
      trace.enabled(mode == 1 || !traced)
      trace.drain()
      trace.reset()
      val ls = System.nanoTime
      val ingest = open()
      loadS(mode) += (System.nanoTime - ls) / 1e9
      trace.drain()
      val loadJobs = trace.c.jobs
      trace.reset()
      val ps = System.nanoTime
      var ok = 0
      timedOps.foreach { op =>
        runOp(op, cold = false, pass).foreach { s =>
          perOp(mode).getOrElseUpdate(op.name, ArrayBuffer.empty) += s
          ok += 1
        }
      }
      rates(mode) += ok / ((System.nanoTime - ps) / 1e9)
      trace.drain()
      if (mode == 1) {
        passStats += trace.c.copy()
        passSave += trace.saveMs.toMap
        passIngest += ingest + ("jobs" -> loadJobs)
      }
      checks.foreach(op => runOp(op, cold = false, pass))
    }
    trace.enabled(true)
    // loaded row counts, for the checker (outside every timed window)
    val loadedRows: Map[String, Long] =
      if (workload == "files_sql") session.tables.map { case (n, df) => n -> df.count() }.toMap
      else graft.Tables.all.map(n => n -> spark.table(n).count()).toMap

    // ---- result ---------------------------------------------------------
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else {
      val s = xs.toSeq.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    // Latency quantiles over the ops, each op's latency its median over
    // the passes; Harrell-Davis estimates, a beta-weighted mean of every
    // order statistic, because the ops differ in cost and a single order
    // statistic jumps between them from run to run.
    val latencies = perOp(0).values.map(med).toSeq.sorted
    def pct(q: Double) =
      if (latencies.isEmpty) 0.0
      else {
        val n = latencies.length
        val beta = new BetaDistribution((n + 1) * q, (n + 1) * (1 - q))
        latencies.indices.map { i =>
          (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) *
            latencies(i)
        }.sum
      }
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val m = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "load_s" -> med(loadS(0)), "cold_s" -> coldS,
      "ops_per_s" -> med(rates(0)),
      "op_p50_ms" -> pct(0.5) * 1000, "op_p90_ms" -> pct(0.9) * 1000,
      "peak_rss_mb" -> rss)
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    if (traced) {
      val nOps = timedOps.length.toDouble
      def perPass(f: Trace.Counters => Double) = med(passStats.map(f))
      for (k <- Seq("discover", "csv", "csv_gz", "json", "json_array", "xlsx"))
        layers(s"ingest.${k}_ms") = med(passIngest.map(_.getOrElse(k, 0.0)))
      layers("ingest.jobs") = med(passIngest.map(_("jobs")))
      layers("engine.analysis_ms") = perPass(_.analysisMs) / nOps
      layers("plan.optimize_ms") = perPass(_.optimizeMs) / nOps
      layers("plan.physical_ms") = perPass(_.planningMs) / nOps
      layers("exec.jobs_per_op") = perPass(_.jobs) / nOps
      layers("exec.stages_per_op") = perPass(_.stages) / nOps
      layers("exec.tasks_per_op") = perPass(_.tasks) / nOps
      layers("exec.job_wait_ms") = perPass(c => if (c.jobs == 0) 0.0 else c.jobWaitMs / c.jobs)
      layers("exec.task_run_s") = perPass(_.runMs) / nOps / 1000
      layers("exec.task_cpu_s") = perPass(_.cpuNs) / nOps / 1e9
      layers("exec.gc_s") = perPass(_.gcMs) / nOps / 1000
      layers("exec.shuffle_write_mb") = perPass(_.shuffleWriteB) / nOps / 1048576
      layers("exec.shuffle_read_mb") = perPass(_.shuffleReadB) / nOps / 1048576
      layers("exec.spill_mb") = perPass(_.spillB) / nOps / 1048576
      layers("exec.rows_in_per_row_out") = perPass(_.recordsIn) / math.max(1L, rowsOut)
      layers("pins.peak_storage_mb") = peakStorage / 1048576.0
      perOp(1).foreach { case (n, xs) => layers(s"op.${n}_s") = med(xs) }
      for (k <- Seq("csv", "json", "xlsx"))
        layers(s"io.save_${k}_ms") = med(passSave.map(_.getOrElse(k, 0.0)))
      layers("result.collect_ms") = perPass(_.collectMs)
      layers("trace.overhead_pct") = (med(rates(0)) / med(rates(1)) - 1) * 100
    }
    trace.writeSpans(new File(out, "spans.jsonl"))
    val res = new PrintWriter(new File(out, "result.json"), "UTF-8")
    res.println(Json.obj(
      "workload" -> workload, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq, "passes" -> pass, "loaded_rows" -> loadedRows,
      "ops" -> ops.map(_.name), "metrics" -> m, "layers" -> layers,
      "load_s" -> loadS.map(_.toSeq), "rates" -> rates.map(_.toSeq),
      "per_op_s" -> perOp.map(_.toMap),
      "traced_passes" -> passStats.map(c => Map("jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "shuffle_write_b" -> c.shuffleWriteB,
        "shuffle_read_b" -> c.shuffleReadB, "records_in" -> c.recordsIn))))
    res.close()
    spark.stop()
  }

  /** Judged catalog queries by name, executed through the noop sink when
    * warm and collected when cold. The sink-node PageRank relabelling
    * check is one more op under its own name. */
  def catalogOps(spark: SparkSession, dir: String, names: Seq[String],
                 trace: Trace): Seq[Op] = {
    val catalog = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    names.map {
      case n @ "pagerank_sink_relabel" => Op(n, "property", None, _ => {
        SinkPageRank.check(spark); None
      }, timed = false)
      case n =>
        val fn = catalog(n)
        Op(n, "catalog", oracles.get(n), cold => {
          val df = trace.time("query.build", n) { fn(spark, dir) }
          // a noop write plans a new command around the analysed plan, so
          // the analysis the listener never sees is read off the built df
          if (!cold) trace.addAnalysis(df.queryExecution)
          if (cold) {
            val rows = trace.time("exec.collect", n) { df.collect().toSeq }
            Some((df.columns.toSeq, rows))
          } else {
            trace.time("exec.noop", n) {
              df.write.format("noop").mode("overwrite").save()
            }
            None
          }
        })
    }
  }
}

/** File kinds of the files_sql directory, as the per-format ingest
  * metrics name them. */
object Formats {
  def of(path: String): String = {
    val l = path.toLowerCase
    if (l.endsWith(".csv.gz")) "csv_gz"
    else if (l.endsWith(".csv")) "csv"
    else if (l.endsWith(".xlsx")) "xlsx"
    else if (l.endsWith(".json")) {
      val in = Files.newBufferedReader(Paths.get(path))
      try {
        var c = in.read()
        while (c >= 0 && Character.isWhitespace(c)) c = in.read()
        if (c == '[') "json_array" else "json"
      } finally in.close()
    } else "other"
  }
}

/** The REPL-style script of files_sql: each statement is run through
  * `Session.sql` and collected, as the REPL does to display rows; the
  * exports go through `io.Save.save`. */
object FilesSql {
  def ops(session: Session, scriptPath: String, exportDir: String,
          trace: Trace): Seq[Harness.Op] = {
    val script = Json.parseStatements(
      new String(Files.readAllBytes(Paths.get(scriptPath)), "UTF-8"))
    new File(exportDir).mkdirs()
    val stmts = script.statements.map { case (name, text) =>
      Harness.Op(name, "statement", None, cold => {
        val df = trace.time("engine.sql", name) { session.sql(text) }
        val rows = trace.timeCollect(name) { df.collect().toSeq }
        if (cold) Some((df.columns.toSeq, rows)) else None
      })
    }
    val exports = script.exports.map { fmt =>
      val path = s"$exportDir/export.$fmt"
      Harness.Op(s"export_$fmt", "export", None, _ => {
        val df = session.sql(script.exportStatement)
        trace.timeSave(fmt) { Save.save(df, path) }
        None
      })
    }
    stmts ++ exports
  }
}

/** The relabelling property of PageRank on a small directed graph with
  * sink nodes: scores computed on string node ids must equal the scores
  * computed on the same graph with long ids. */
object SinkPageRank {
  // 4 is a sink: the only node that is never the source of an arc
  val arcs: Seq[(Long, Long)] = Seq(0L -> 1L, 1L -> 0L, 0L -> 2L, 1L -> 3L,
    3L -> 4L, 2L -> 4L, 3L -> 1L)

  // the long-id scores, computed once per run: each pass recomputes
  // only the string-id side
  private var reference: Option[Map[String, Long]] = None

  def check(spark: SparkSession): Unit = {
    import spark.implicits._
    val byLong = reference.getOrElse {
      val r = Graph.pageRank(arcs.toDF("src", "dst"), 1).collect()
        .map(r => s"v${r.getLong(0)}" -> r.getLong(1)).toMap
      reference = Some(r)
      r
    }
    val strs = arcs.map { case (a, b) => (s"v$a", s"v$b") }.toDF("src", "dst")
    val byStr = Graph.pageRank(strs, 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (byLong != byStr)
      throw new IllegalStateException(
        s"string-id scores ${byStr.toSeq.sorted} != long-id scores ${byLong.toSeq.sorted}")
  }
}
