package graft.cli

import org.scalatest.funsuite.AnyFunSuite

/** REPL prompt-history persistence — the reference's only persistent
  * state (localsql/localsql.py:26-29,336-340): lines typed in one
  * session must be recallable after a restart. Driven on a dumb
  * terminal over scripted streams (no TTY in CI), exactly the degraded
  * mode `Repl.loop` falls back to under a pipe. */
class ReplHistorySpec extends AnyFunSuite {

  // direct DumbTerminal: TerminalBuilder's streams path builds a
  // pty-backed terminal whose pump thread races a ByteArrayInputStream
  // to EOF and drops the buffered line; the dumb terminal reads on
  // demand, so scripted input is deterministic
  private def dumbTerm(input: String): org.jline.terminal.Terminal =
    new org.jline.terminal.impl.DumbTerminal(
      new java.io.ByteArrayInputStream(input.getBytes("UTF-8")),
      new java.io.ByteArrayOutputStream())

  test("a restarted reader replays the previous session's history from disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hist")
    try {
      val hist = dir.resolve("nested").resolve("lsql_history")
      // session 1: two lines accepted, each saved incrementally (the
      // jlineLoop discipline: a killed session keeps everything typed)
      val t1 = dumbTerm("SELECT 1\n\\t\n")
      val r1 = Repl.buildReader(t1, hist)
      assert(r1.readLine("lsql> ").trim == "SELECT 1")
      r1.getHistory.save()
      assert(r1.readLine("lsql> ").trim == "\\t")
      r1.getHistory.save()
      t1.close()
      assert(java.nio.file.Files.exists(hist), "history file not written")
      // session 2: a FRESH reader over the same file sees both lines
      // WITHOUT any readLine call (eager attach in buildReader)
      val t2 = dumbTerm("")
      val r2 = Repl.buildReader(t2, hist)
      import scala.jdk.CollectionConverters._
      val lines = r2.getHistory.iterator().asScala.map(_.line()).toSeq
      assert(lines == Seq("SELECT 1", "\\t"), lines.toString)
      // and the restarted session's own lines append after the replay
      val t3 = dumbTerm("SELECT 2\n")
      val r3 = Repl.buildReader(t3, hist)
      assert(r3.readLine("lsql> ").trim == "SELECT 2")
      r3.getHistory.save()
      t3.close(); t2.close()
      val t4 = dumbTerm("")
      val lines4 = Repl.buildReader(t4, hist).getHistory
        .iterator().asScala.map(_.line()).toSeq
      assert(lines4 == Seq("SELECT 1", "\\t", "SELECT 2"), lines4.toString)
      t4.close()
    } finally graft.SparkSpec.deleteTree(dir)
  }

  test("history path defaults under ~/.local/share/graft and honors GRAFT_HISTORY") {
    val p = Repl.historyPath.toString
    assert(sys.env.get("GRAFT_HISTORY") match {
      case Some(h) => p == h
      case None => p.endsWith("/.local/share/graft/lsql_history")
    }, p)
  }
}
