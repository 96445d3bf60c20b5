package graft.cli

import scala.io.StdIn
import graft.engine.Session
import graft.io.Save
import org.jline.reader.{EndOfFileException, LineReader, LineReaderBuilder,
  UserInterruptException}
import org.jline.terminal.{Terminal, TerminalBuilder}

/** Interactive SQL shell over discovered files — the reference's REPL
  * surface (localsql/localsql.py:269-364) on the Spark engine.
  *
  * Supported, matching the reference:
  *  - positional files, `-d DIR`, `-r` recursive, `-q SQL` one-shot,
  *    `-jn` JSON-normalize mode (CLI: ref :269-279)
  *  - specials: `\t` tables, `\td` table descriptions, `\s file`
  *    export, `\q` quit, unknown `\x` -> help (ref :155-214)
  *  - bare table name -> schema info (ref :226-228)
  *  - `/t` suffix -> transposed (vertical) display (ref :349-358)
  *  - line editing + PERSISTENT prompt history via JLine, seeded from
  *    and saved to `~/.local/share/graft/lsql_history` — the
  *    reference's FileHistory (ref :26-29, :336-340)
  *
  * Not carried over: the `\lpy` raw-Python eval mode — its Spark analog
  * is the spark-shell Dataset API itself (SURVEY.md §2.6).
  */
object Repl {

  val Version = "graft/0.2.0"

  def main(args: Array[String]): Unit = {
    var files = List.empty[String]
    var dir: Option[String] = None
    var recursive = false
    var query: Option[String] = None
    var jsonNormalize = false
    var verbose = false
    var silent = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-d" | "--directory" => dir = Some(args(i + 1)); i += 1
        case "-r" | "--recursive" => recursive = true
        case "-q" | "--query" => query = Some(args(i + 1)); i += 1
        case "-jn" | "--json-normalize" => jsonNormalize = true
        case "-v" | "--verbose" => verbose = true
        case "-s" | "--silent" => silent = true
        case "-V" | "--version" => println(Version); return
        case f => files = files :+ f
      }
      i += 1
    }
    // informational output goes through eprint, suppressed by -s and
    // enriched by -v — the reference's silent/verbose modes
    // (localsql.py:57-64, :306-309)
    def eprint(msg: => String): Unit = if (!silent) println(msg)
    val session = Session.local("graft-repl", jsonNormalize)
    if (verbose) session.spark.sparkContext.setLogLevel("INFO")
    startup(session, files, dir, recursive, verbose,
      haveQuery = query.nonEmpty, eprint)

    query match {
      case Some(q) => run(session, q)
      case None => loop(session)
    }
    session.spark.stop()
  }

  /** The load-and-announce phase of `main`, factored out so the
    * README golden-session spec can drive the EXACT printed startup
    * lines (not just the loaded tables) through the same code path
    * the CLI runs. */
  private[cli] def startup(session: Session, files: List[String],
                           dir: Option[String], recursive: Boolean,
                           verbose: Boolean, haveQuery: Boolean,
                           eprint: (=> String) => Unit): Unit = {
    def describe(name: String): String = {
      val df = session.tables(name)
      if (verbose) s"table=$name, columns=${df.columns.length}, rows=${df.count()}"
      else s"table '$name'"
    }
    files.zip(session.loadFiles(files)).foreach { case (f, loaded) =>
      loaded match {
        case Some(name) => eprint(s"Load '$f' as ${describe(name)}")
        case None => eprint(s"Unknown file type or load error: $f")
      }
    }
    dir.orElse(if (recursive) Some(".") else None).foreach { d =>
      session.loadDir(d, recursive).foreach(n => eprint(s"Load ${describe(n)}"))
    }
    if (session.tables.isEmpty && !haveQuery)
      eprint("Warning: no tables loaded. Try -r, -d or --help")
  }

  /** Prompt-history file — the reference's only persistent state
    * (localsql/localsql.py:26-29,336-340: prompt_toolkit FileHistory
    * under ~/.local/share/localsql/lsql_history). Overridable via
    * GRAFT_HISTORY for tests and sandboxed homes. */
  private[cli] def historyPath: java.nio.file.Path =
    sys.env.get("GRAFT_HISTORY").map(java.nio.file.Paths.get(_)).getOrElse(
      java.nio.file.Paths.get(sys.props.getOrElse("user.home", "."),
        ".local", "share", "graft", "lsql_history"))

  /** Line reader with line editing + up-arrow recall seeded from the
    * persistent history file (JLine ships on the Spark classpath).
    * Factored out so a spec can drive it on a dumb terminal and prove
    * a restarted Repl replays the previous session's lines. */
  private[cli] def buildReader(terminal: Terminal,
                               hist: java.nio.file.Path): LineReader = {
    Option(hist.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val r = LineReaderBuilder.builder()
      .terminal(terminal)
      .variable(LineReader.HISTORY_FILE, hist)
      // csh-style !-event expansion strips backslashes — fatal for a
      // SQL shell (`\t` specials, `LIKE ... ESCAPE '\'` literals):
      // lines must come back exactly as typed
      .option(LineReader.Option.DISABLE_EVENT_EXPANSION, true)
      .build()
    // attach eagerly: JLine otherwise defers the history-file LOAD to
    // the first readLine, so a restarted session would briefly see an
    // empty history (and specs could never observe the replay)
    r.getHistory.attach(r)
    r
  }

  private def loop(session: Session): Unit = {
    val reader =
      try {
        // dumb(true): piped/headless stdin degrades to a plain reader
        // instead of throwing — history still loads and persists
        val term = TerminalBuilder.builder().system(true).dumb(true).build()
        Some(buildReader(term, historyPath))
      } catch { case _: Throwable => None }
    reader match {
      case Some(r) => jlineLoop(session, r)
      case None => stdinLoop(session)
    }
  }

  private[cli] def jlineLoop(session: Session, reader: LineReader): Unit = {
    var done = false
    while (!done) {
      val line =
        try reader.readLine("lsql> ")
        catch {
          case _: EndOfFileException => null
          case _: UserInterruptException => "" // ^C drops the line, keeps the shell
        }
      if (line != null)
        // persist incrementally (readLine already added the line to the
        // in-memory history): a killed session keeps everything typed
        try reader.getHistory.save() catch { case _: Exception => () }
      if (line == null || line.trim == "\\q") done = true
      else if (line.trim.nonEmpty) run(session, line.trim)
    }
  }

  private def stdinLoop(session: Session): Unit = {
    var done = false
    while (!done) {
      print("lsql> ")
      Console.flush()
      val line = StdIn.readLine()
      if (line == null || line.trim == "\\q") done = true
      else if (line.trim.nonEmpty) run(session, line.trim)
    }
  }

  /** `\pp` pretty-print toggle (ref :203-206): truncate + 20 rows vs
    * full-width 50 rows. */
  private var pretty = false

  private[cli] def run(session: Session, raw: String): Unit = {
    val (line, transpose) =
      if (raw.endsWith("/t")) (raw.dropRight(2).trim, true) else (raw, false)
    try {
      if (line.startsWith("\\")) special(session, line)
      else if (session.tables.contains(line)) println(session.info(line))
      else {
        val df = session.sql(line)
        if (transpose) df.show(20, truncate = 0, vertical = true)
        else if (pretty) df.show(20, truncate = 24)
        else df.show(50, truncate = false)
      }
    } catch {
      case e: Exception =>
        // surface Catalyst errors cleanly (ref error rewriting :235-242):
        // keep the message, drop the internal plan fragment / stack noise
        val msg = Option(e.getMessage).getOrElse(e.toString)
        println(msg.linesIterator
          .takeWhile(l => !l.trim.startsWith("'") && !l.contains("SQLSTATE"))
          .take(3).mkString("\n")
          + msg.linesIterator.find(_.contains("SQLSTATE")).map("\n" + _).getOrElse(""))
    }
  }

  private def special(session: Session, cmd: String): Unit =
    cmd.split("\\s+", 2) match {
      case Array("\\t") => session.tableNames.foreach(println)
      case Array("\\td") =>
        session.describeTables().foreach { case (n, r, c, b) =>
          println(f"$n%-30s rows=$r%-10d cols=$c%-5d bytes=$b")
        }
      case Array("\\pp") =>
        pretty = !pretty
        println(s"Pretty print: ${if (pretty) "on" else "off"}")
      case Array("\\s", file) =>
        session.latestResult match {
          case Some(df) => Save.save(df, file); println(s"Saved to $file")
          case None => println("There is no result to save")
        }
      // word completion (ref WordCompleter, localsql.py:323-333): the
      // plain-stdin analog of TAB — list catalog names matching a prefix
      case Array("\\c") =>
        session.completions.foreach(println)
      case Array("\\c", prefix) =>
        graft.engine.Completions.complete(session.completions, prefix)
          .foreach(println)
      case _ =>
        println("""Special commands: \t tables, \td describe, \pp pretty toggle, \s FILE save last result, \c [PREFIX] complete names, \q quit""")
    }
}
