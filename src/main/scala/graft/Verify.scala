package graft
import graft.engine.Conf
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * == Fail-soft protocol (round 14) ==
  * Round 13's official correctness artifact came back EMPTY (`{}`) while
  * the surface was 100% green — the run left zero attributable trace
  * because this main had no telemetry and wrote the driver's
  * prerequisite (oracle_sql.json) LAST. Lessons ported from Bench:
  *
  *  - oracle_sql.json is written FIRST, before any query runs: it is
  *    the driver compare's prerequisite and must survive a mid-run kill.
  *  - One cumulative-elapsed stderr line per query
  *    ("[verify] t=123.4s 0317/0933 x206_ppjoin ok") so any kill is
  *    attributable to a specific query from the driver's captured tail.
  *  - An optional deadline (SPARK_GRAFT_VERIFY_DEADLINE_SEC; 0/unset =
  *    none) degrades the dump instead of letting the harness kill it:
  *    on breach the remaining queries are SKIPPED (recorded in the
  *    manifest), and everything dumped so far stands.
  *  - verify_manifest.json (ok/failed/skipped counts + per-failure
  *    messages + elapsed) and a run-complete marker `_VERIFY_DONE` are
  *    written at exit — the driver (and the next round's builder) can
  *    distinguish "completed clean", "completed degraded", and "killed"
  *    without rerunning anything. The manifest is written ATOMICALLY
  *    (temp + rename), like Bench's record.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = args.lift(2).map(SparkEntry.names)
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_DEADLINE_SEC", "0").toDouble
    val mainT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - mainT0) / 1e9
    val spark = Conf.builder(Conf.cpus, "graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // `fatal = true` for the driver's compare prerequisite
    // (oracle_sql.json — without it the round has no correctness
    // artifact, so failing loudly is right); the exit-time
    // manifest/_VERIFY_DONE writes are best-effort instead: an
    // exotic-filesystem failure there must not abort a completed dump
    // (ADVICE r14), and the temp file is cleaned up on any error.
    def atomicWrite(path: String, content: String,
                    fatal: Boolean = false): Unit = {
      val target = Paths.get(path)
      val dir = Option(target.toAbsolutePath.getParent)
        .getOrElse(Paths.get("."))
      val tmp = Files.createTempFile(dir, ".verify", ".tmp")
      try {
        Files.write(tmp, content.getBytes("UTF-8"))
        Files.move(tmp, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Exception =>
        try { Files.deleteIfExists(tmp); () } catch { case _: Exception => }
        if (fatal) throw e
        else System.err.println(
          s"[verify] could not write $path: ${e.getMessage}")
      }
    }
    // the driver's prerequisite goes down FIRST — a mid-run kill must
    // not cost the round its compare inputs
    val oracleJson = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    atomicWrite(s"$outDir/oracle_sql.json", oracleJson, fatal = true)
    System.err.println(
      f"[verify] t=${elapsed()}%.1fs oracle_sql.json written " +
        s"(${SparkEntry.oracleSql.size} entries)")
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val total = selected.size
    var ok = 0; var failed = 0; var skipped = 0
    val failures = scala.collection.mutable.ArrayBuffer[(String, String)]()
    // skipped queries are recorded BY NAME (ADVICE r14: a reused outDir
    // can hold stale dumps for now-skipped queries; the name list makes
    // them distinguishable from current output)
    val skippedQs = scala.collection.mutable.ArrayBuffer[String]()
    var announcedDeadline = false
    selected.zipWithIndex.foreach { case ((name, fn), i) =>
      if (deadlineSec > 0 && elapsed() > deadlineSec) {
        if (!announcedDeadline) {
          System.err.println(
            f"[verify] deadline ${deadlineSec}%.0fs hit at " +
              f"t=${elapsed()}%.1fs — skipping the remaining " +
              s"${total - i} queries (dumped-so-far stands)")
          announcedDeadline = true
        }
        skipped += 1
        skippedQs += name
      } else {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          ok += 1
          System.err.println(
            f"[verify] t=${elapsed()}%.1fs ${i + 1}%04d/$total%04d $name ok")
        } catch { case e: Throwable =>
          failed += 1
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          failures += ((name, msg.take(500)))
          System.err.println(
            f"[verify] t=${elapsed()}%.1fs ${i + 1}%04d/$total%04d " +
              s"$name failed: $msg")
        }
      }
    }
    val failJson = failures
      .map { case (n, m) => s"${q(n)}: ${q(m)}" }.mkString("{", ",", "}")
    val manifest =
      s"""{"total":$total,"ok":$ok,"failed":$failed,"skipped":$skipped,""" +
        s""""skipped_queries":${
          skippedQs.map(q(_)).mkString("[", ",", "]")},""" +
        f""""elapsed_sec":${elapsed()}%.1f,""" +
        s""""deadline_degraded":${skipped > 0},"failures":$failJson}"""
    atomicWrite(s"$outDir/verify_manifest.json", manifest)
    atomicWrite(s"$outDir/_VERIFY_DONE", manifest + "\n")
    System.err.println(
      f"[verify] t=${elapsed()}%.1fs DONE ok=$ok failed=$failed " +
        s"skipped=$skipped")
    // release every operator-pinned cache (shingle index, LSH candidates,
    // CC labels, IVF assignments) — the dump is on disk, nothing lazy
    // remains, so pinned blocks are pure leak from here on
    graft.ext.CacheRegistry.clearAll()
    spark.stop()
  }
}
