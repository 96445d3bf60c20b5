package graft
import graft.engine.Conf
import org.apache.spark.sql.{GraftBus, SparkSession}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.LongAdder

/** Benchmark main: runs every judged query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with total + per-query seconds, plus per-query
  * executor TASK time and in-task GC time ("task"/"gc" maps).
  *
  * Usage: runMain graft.Bench [<name>,<name>...]. The optional argument
  * is a comma-separated query-name filter (the form Verify's third
  * argument takes; an unknown name fails before anything runs): the
  * same per-query protocol runs on just those names, so a filtered
  * figure is the one the full record would carry — the tool for
  * re-timing a suspect query in isolation. A filtered record is
  * written only to an explicit SPARK_GRAFT_BENCH_OUT; otherwise it is
  * printed to stdout alone, so it can never overwrite the committed
  * bench_out.json. The session is [[engine.Conf]]'s at
  * SPARK_GRAFT_CPUS cores (default 4).
  *
  * The task-time column exists because wall time on a shared host
  * carries a ±2× noise band (BENCH_NOTES.md round-7 characterization):
  * the SUM of executor task run time is what the PLAN costs, and its
  * minimum across decorrelated runs is the only statistic that moves
  * on a genuine plan regression — round-over-round deltas are
  * adjudicated from this committed column, not ad-hoc reruns.
  *
  * Execution is forced through the `noop` sink rather than `.count()`:
  * count() lets Catalyst prune every non-output column and skip
  * result-row materialization, which would under-measure projection-
  * and sort-heavy queries.
  *
  * == Protocol (revised round 13; survivability rebuilt round 15) ==
  * Per query, BACK TO BACK: run 1 cold (planning + codegen +
  * operator-pinned cache builds — caches kept), run 2 warm (caches
  * released after); reported number = MIN of the runs. Queries whose
  * WARM wall exceeds 2s get a third back-to-back warm sample (p2b,
  * min-of-2-warm — one warm sample is upper-biased on a noisy host;
  * round 13's unadjudicable movers all sat in this tail). One listener
  * drain per timed execution. The top-10 by min wall get a
  * DECORRELATED re-run at suite end (p3), minutes after their first
  * samples — a back-to-back pair can land inside one of the host's
  * multi-second stall windows, a re-run minutes later cannot.
  *
  * == Round-15 revisions (BENCH_r14 post-mortem: rc 124, record lost) ==
  * Two of the last three rounds lost the OFFICIAL bench artifact to the
  * driver's outer timeout on a slow/contended host (r12, r14 — r14's
  * host ran the same prefix 1.8× slower than the builder's and the old
  * degrade path then COLD-RAN the whole remaining tail, 1100+s). The
  * suite now survives a slow host by construction:
  *
  *  - CHEAP-FIRST COST-PRIOR ORDER: queries run in ascending
  *    previous-record wall (committed resource graft/bench_prior.json,
  *    regenerated each round from the latest non-degraded record;
  *    SPARK_GRAFT_BENCH_PRIOR overrides with a flat name→seconds JSON
  *    file; names without a prior — new queries — sort at the median).
  *    A deadline breach therefore sheds only the few most expensive
  *    queries, not an arbitrary alphabetic suffix; on a 2×-slower host
  *    ~95% of the catalog still returns warm numbers. The degraded /
  *    skipped sets are recorded as EXPLICIT name lists (the old
  *    "alphabetic suffix, count+first-name" convention no longer
  *    identifies them).
  *  - SOFT DEADLINE (SPARK_GRAFT_BENCH_DEADLINE_SEC, default 2400s of
  *    Bench-main elapsed): on breach, remaining queries get ONE cold
  *    run each ("degraded":true, names in "degraded_queries") — a
  *    one-sample cold number beats a missing one.
  *  - HARD CEILING (SPARK_GRAFT_BENCH_HARD_DEADLINE_SEC, default
  *    soft+180s): on breach, remaining queries are SKIPPED outright
  *    (names in "skipped", Verify-style) — under cost-prior order the
  *    un-run tail is exactly the heavy cache-pinned tier whose cold
  *    builds are 100+s each; cold-running it is what breached the
  *    driver's outer window in r14.
  *  - INCREMENTAL CHECKPOINTS: the full record is atomically rewritten
  *    every 25 queries (and at each deadline transition) with
  *    "checkpoint":true, and the tiny stdout line is printed at each
  *    checkpoint too — a kill at ANY point leaves a parseable,
  *    attributable on-disk record plus a parseable last stdout line.
  *    The final write/print carries "checkpoint":false.
  *  - FAILED queries ("wall" -1.0 sentinel) are EXCLUDED from the
  *    summed "value"/"task_total" and listed by name in "failed"
  *    (the r14 record silently under-stated its own measured wall by
  *    summing 41 kill-induced -1 sentinels).
  *  - Queries that qualified for p2b (warm wall > 2s) but skipped it
  *    because elapsed passed 85% of the soft deadline are listed in
  *    "p2b_skipped" — their single-warm-sample upper-bias is visible
  *    in the record instead of silent.
  *
  * A degraded record must never be cited as a round's closing number
  * (BENCH_NOTES protocol).
  *
  * After the full record line (~70KB — it can never fit the driver's
  * ~2KB stdout-tail capture), a TINY line is printed last: totals +
  * top-10-by-wall queries + a pointer to the full record file, so the
  * driver tail always ends with parseable JSON. Its "queries" map is
  * the top-10 ONLY (the driver's documented contract wants a "queries"
  * key on the printed line); "queries_is_top10":true marks the
  * truncation explicitly so the tiny line cannot be mistaken for the
  * full per-query record (ADVICE r14).
  */
object Bench {
  /** coldWall/coldTask carry the query's p1 (cold: planning + codegen +
    * pin builds) sample into the record next to the reported min —
    * protocol-ADDITIVE (round 15 verdict #5): the reported min is
    * unchanged, but the one-time cache-build cost of pin-heavy
    * operators is now auditable instead of invisible behind a
    * near-zero warm min. -1 = no cold sample recorded. */
  private case class Timing(wall: Double, task: Double, gc: Double,
                            coldWall: Double = -1.0,
                            coldTask: Double = -1.0) {
    def withCold(cold: Timing): Timing =
      copy(coldWall = cold.wall, coldTask = cold.task)
  }

  /** Flat name→seconds map. Strictly for ORDERING — values never enter
    * the record. Parse is a 2-group regex over the flat JSON object the
    * resource/override file holds (names are [a-z0-9_]; no escapes). */
  private def loadPrior(): Map[String, Double] = {
    val text: Option[String] =
      sys.env.get("SPARK_GRAFT_BENCH_PRIOR").flatMap { p =>
        try Some(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          "UTF-8"))
        catch { case _: Exception =>
          System.err.println(s"[bench] prior override $p unreadable; " +
            "falling back to the committed resource")
          None
        }
      }.orElse {
        Option(getClass.getResourceAsStream("/graft/bench_prior.json"))
          .map(in => try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                     finally in.close())
      }
    text match {
      case None => Map.empty
      case Some(t) =>
        val re = """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.eE+]+)""".r
        re.findAllMatchIn(t)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val only: Option[Set[String]] = args.headOption.map(SparkEntry.names)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "2400").toDouble
    val hardDeadlineSec =
      sys.env.get("SPARK_GRAFT_BENCH_HARD_DEADLINE_SEC").map(_.toDouble)
        .getOrElse(deadlineSec + 180.0)
    val mainT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - mainT0) / 1e9
    val spark = Conf.builder(Conf.cpus, "graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val taskMs = new LongAdder; val gcMs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { taskMs.add(m.executorRunTime); gcMs.add(m.jvmGCTime) }
      }
    })
    // Warm the JVM + register views once so per-query numbers measure the
    // queries, not session bring-up (first action pays codegen warm-up).
    Tables.registerAll(spark, sfDir)
    spark.sql("SELECT count(*) FROM lineitem").collect()
    GraftBus.drain(spark) // quiet bus before the first reset

    // One timed execution: reset adders (bus is quiet — the previous
    // timing's post-drain guarantees it), run through the noop sink,
    // drain, record. `release` controls whether operator-pinned caches
    // are dropped afterwards: run 1 of a query keeps them (run 2 must
    // measure the warm plan, like the old protocol's timed runs did);
    // the query's LAST run releases them so nothing accumulates across
    // the suite (cross-query cache build-up turns into storage-pool
    // pressure + GC stalls that land on unrelated queries).
    def timedOnce(name: String, pass: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                  release: Boolean)
        : Timing = {
      try {
        taskMs.reset(); gcMs.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events post asynchronously: drain the bus (outside
        // the timed span) before reading the adders, so task/gc are
        // exact; a wedged bus throws and the query is recorded failed
        GraftBus.drain(spark)
        System.err.println(
          f"[bench] t=${elapsed()}%.1fs $pass $name wall=$wall%.3f")
        Timing(wall, taskMs.sum / 1e3, gcMs.sum / 1e3)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Timing(-1.0, -1.0, -1.0)
      } finally {
        if (release) graft.ext.CacheRegistry.clearAll()
      }
    }
    // min wall across runs (what a user feels) and, independently, the
    // min-task run's (task, gc) (what the plan costs — the adjudicable
    // column): a wall spike and a task spike rarely coincide, so the
    // two minima may come from different runs by design
    def merge(a: Timing, b: Timing): Timing = {
      // the cold sample (if either side carries one) survives any merge
      val (cw, ct) = if (a.coldWall >= 0) (a.coldWall, a.coldTask)
                     else (b.coldWall, b.coldTask)
      if (a.wall < 0) b.copy(coldWall = cw, coldTask = ct)
      else if (b.wall < 0) a.copy(coldWall = cw, coldTask = ct)
      else {
        val (t, g) = if (b.task >= 0 && (a.task < 0 || b.task < a.task))
          (b.task, b.gc) else (a.task, a.gc)
        Timing(math.min(a.wall, b.wall), t, g, cw, ct)
      }
    }
    // cheap-first cost-prior order (round 15): ascending last-good-record
    // wall, name tiebreak; unknown (new) names take the median prior so
    // they land mid-pack, never in the shed tail
    val prior = loadPrior()
    val defaultPrior =
      if (prior.isEmpty) 0.0
      else { val v = prior.values.toArray.sorted; v(v.length / 2) }
    val names = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy { case (n, _) => (prior.getOrElse(n, defaultPrior), n) }
    System.err.println(s"[bench] order=cost_prior prior_n=${prior.size} " +
      s"catalog_n=${names.size} deadline=${deadlineSec}s " +
      s"hard=${hardDeadlineSec}s")

    val results =
      scala.collection.mutable.LinkedHashMap[String, Timing]()
    var degraded = false
    val degradedQs = scala.collection.mutable.ArrayBuffer[String]()
    val skippedQs = scala.collection.mutable.ArrayBuffer[String]()
    val p2bSkipped = scala.collection.mutable.ArrayBuffer[String]()
    // a filtered run never writes the default record file
    val outPath: Option[String] = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (only.isEmpty) Some("bench_out.json") else None)

    def jlist(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the tiny stdout line must survive a ~2KB tail capture: a degraded
    // run's explicit name lists (full record keeps them complete) are
    // capped here, with the true count next to each capped list
    def jlistCapped(xs: Seq[String], cap: Int = 20): String =
      if (xs.size <= cap) jlist(xs)
      else jlist(xs.take(cap) :+ s"...and_${xs.size - cap}_more")
    def buildRecords(checkpoint: Boolean): (String, String) = {
      def jmap(f: Timing => Double): String = results
        .map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
      val failedQs = results.collect { case (n, t) if t.wall < 0 => n }.toSeq
      // failures' -1 sentinels are EXCLUDED from the totals (r14's
      // degraded record under-stated its measured wall by 41 sentinels)
      val total = results.values.map(_.wall).filter(_ >= 0).sum
      val totalTask = results.values.map(_.task).filter(_ > 0).sum
      def attribution(lst: Seq[String] => String) =
        s""""degraded":$degraded,"degraded_n":${degradedQs.size},""" +
          s""""degraded_queries":${lst(degradedQs.toSeq)},""" +
          s""""skipped_n":${skippedQs.size},""" +
          s""""skipped":${lst(skippedQs.toSeq)},""" +
          s""""failed_n":${failedQs.size},""" +
          s""""failed":${lst(failedQs)},""" +
          s""""p2b_skipped":${lst(p2bSkipped.toSeq)},""" +
          s""""checkpoint":$checkpoint,"order":"cost_prior""""
      val full =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(_.wall)},""" +
          s""""task":${jmap(_.task)},"gc":${jmap(_.gc)},""" +
          s""""cold_wall":${jmap(_.coldWall)},"cold_task":${jmap(_.coldTask)},""" +
          s""""task_total":$totalTask,${attribution(jlist)},"sf":"$sfDir"}"""
      val top10 = results.toSeq.sortBy(-_._2.wall).take(10)
        .map { case (k, v) => "\"" + k + "\":" + v.wall }
        .mkString("{", ",", "}")
      val tiny =
        s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},""" +
          s""""task_total":$totalTask,${attribution(jlistCapped(_))},"sf":"$sfDir",""" +
          s""""queries":$top10,"queries_is_top10":true,""" +
          s""""full_record":"${outPath.getOrElse("stdout")}"}"""
      (full, tiny)
    }
    // Written ATOMICALLY (temp file + rename) so a killed or crashing
    // run can never leave a half-written record: bench_out.json either
    // holds a complete (or flagged-checkpoint) run or the previous one.
    // The committed file is the single source of truth for the closing
    // number — any recorded total must be read FROM it, never
    // transcribed from the console (round-3/4 drift: cited totals
    // disagreed with the tree's file).
    def writeRecord(json: String): Unit = outPath.foreach { path =>
      try {
        val target = java.nio.file.Paths.get(path)
        val dir = Option(target.toAbsolutePath.getParent)
          .getOrElse(java.nio.file.Paths.get("."))
        val tmp = java.nio.file.Files.createTempFile(dir, ".bench_out", ".tmp")
        java.nio.file.Files.write(tmp, (json + "\n").getBytes("UTF-8"))
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    }
    def checkpointNow(): Unit = {
      val (full, tiny) = buildRecords(checkpoint = true)
      writeRecord(full)
      // the tiny line goes to stdout at every checkpoint so the tail a
      // kill leaves behind ends with parseable, attributable JSON
      System.out.println(tiny)
      System.out.flush()
    }

    var announcedSoft = false; var announcedHard = false
    names.zipWithIndex.foreach { case ((n, fn), i) =>
      if (elapsed() > hardDeadlineSec) {
        if (!announcedHard) {
          System.err.println(
            f"[bench] HARD deadline ${hardDeadlineSec}%.0fs hit at " +
              f"t=${elapsed()}%.1fs — skipping the remaining " +
              s"${names.size - i} queries (cost-prior tail)")
          announcedHard = true
          checkpointNow()
        }
        skippedQs += n
      } else if (elapsed() > deadlineSec) {
        if (!announcedSoft) {
          System.err.println(
            f"[bench] deadline ${deadlineSec}%.0fs hit at t=${elapsed()}%.1fs" +
              " — remaining queries get one cold run each until the" +
              f" hard ceiling ${hardDeadlineSec}%.0fs")
          announcedSoft = true
          checkpointNow()
        }
        degraded = true
        degradedQs += n
        val only = timedOnce(n, "p1", fn, release = true)
        results(n) = only.withCold(only) // the one degraded sample IS cold
      } else {
        val a = timedOnce(n, "p1", fn, release = false)
        val b = timedOnce(n, "p2", fn, release = false)
        val t0 = merge(a, b).withCold(a)
        // the heavy tail (warm wall > 2s) gets a SECOND warm sample
        // (min-of-2-warm, the r12 discipline — one warm sample is
        // upper-biased on a noisy host). Membership gates on the WARM
        // wall: a cold-wall gate catches planning + codegen and tripled
        // the tail. The extra sample stops past 85% of the soft
        // deadline; those queries are listed in p2b_skipped (ADVICE
        // r14: their single-sample upper-bias was invisible).
        results(n) =
          if (b.wall > 2.0) {
            if (elapsed() <= 0.85 * deadlineSec)
              merge(t0, timedOnce(n, "p2b", fn, release = true))
            else {
              p2bSkipped += n
              graft.ext.CacheRegistry.clearAll()
              t0
            }
          } else {
            graft.ext.CacheRegistry.clearAll()
            t0
          }
      }
      if ((i + 1) % 25 == 0) checkpointNow()
    }
    // decorrelated third look, capped at the TOP-10 tail: the host shows
    // transient multi-second stall windows (same query: ~1s in
    // isolation, 10-40s mid-suite, a DIFFERENT query each run); a
    // back-to-back pair can land inside one, a re-run minutes later
    // cannot. Each p3 timing re-checks the deadline so this pass can
    // never push a near-deadline run past the driver's window.
    val slow = results.toSeq.filter(_._2.wall > 2.0)
      .sortBy(-_._2.wall).take(10).map(_._1).toSet
    if (!degraded && elapsed() <= deadlineSec)
      names.filter(q => slow.contains(q._1)).foreach { case (n, fn) =>
        if (elapsed() <= deadlineSec)
          results(n) = merge(results(n), timedOnce(n, "p3", fn, release = true))
      }
    val (json, tinyJson) = buildRecords(checkpoint = false)
    writeRecord(json)
    spark.stop()
    // printed AFTER spark.stop() so no executor/log output can
    // interleave, framed by blank lines, and flushed (round 1 the
    // driver failed to parse this out of interleaved sbt/log4j stdout)
    System.out.println()
    System.out.println(json)
    System.out.println(tinyJson)
    System.out.flush()
  }
}
