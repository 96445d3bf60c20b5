package graft.cli

import graft.SparkSpec
import graft.engine.Session

/** The reference README's five golden sessions
  * (/root/reference/README.md:42-116) replayed end-to-end through
  * [[Repl.startup]] / [[Repl.run]], diffing the PRINTED output — the
  * presentation layer (announce lines, default show, transpose, pretty
  * toggle, silent one-shot), not just result rows. The pinned text is
  * THIS engine's rendering (Spark show tables, `table=...` announce
  * format); the reference's pandas rendering defines which surfaces
  * must exist and what data they display, per SURVEY.md §2.4/§5.
  *
  * Sessions:
  *  1. `lsql -d examples` — discovery announcements (README.md:44-51)
  *  2. interactive SELECT + NULL-padded LEFT JOIN (README.md:54-71)
  *  3. non-interactive `-q ... -s` GROUP BY with NULL key (README.md:73-78)
  *  4. `-jn` normalize + `/t` transpose (README.md:81-91)
  *  5. `\pp` pretty toggle (README.md:105-116)
  * (The `\lpy` Python-mode session is the documented not-carried-over
  * surface — its Spark analog is the Dataset API itself.)
  */
class ReplGoldenSpec extends SparkSpec {

  private def capture(body: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) { body }
    bos.toString("UTF-8")
  }

  /** The reference's examples/ corpus rebuilt from FIXTURES.md §A
    * (content pinned there from the reference repo; the xlsx is
    * written by the engine's own exporter, which the xlsx ingest
    * specs prove byte-compatible with driver + v2 readers). */
  private def fixtures(): java.nio.file.Path = {
    val d = tmpDir()
    writeFile(d, "csv.csv", "id,b,c\n1,4,7\n2,5,8\n3,6,9\n")
    writeFile(d, "one.json",
      """[{"id":1,"b":4},{"id":2,"c":5},{"id":3,"d":6}]""")
    writeFile(d, "lines.json",
      "{\"id\": 1, \"b\": 4}\n{\"id\": 2, \"b\": 5}\n{\"id\": 3, \"c\": 6}\n")
    writeFile(d, "lines_nested.json",
      "{\"id\":1,\"nest\":{\"a\":1,\"b\":[1,2,3]}}\n" +
        "{\"id\":2,\"nest\":5}\n{\"id\":3,\"c\":6}\n")
    import spark.implicits._
    val ex = Seq((1L, 6L, 11L), (2L, 7L, 12L), (3L, 8L, 13L),
      (4L, 9L, 14L), (5L, 10L, 15L)).toDF("id", "b", "c")
    graft.io.Save.save(ex, d.resolve("excel.xlsx").toString)
    d
  }

  private def freshSession(jn: Boolean = false): Session =
    new Session(spark, jsonNormalize = jn)

  /** Exact-diff up to trailing spaces: Spark's show pads cells to the
    * column width, so every data line carries trailing blanks that no
    * terminal shows and no reader can eyeball in a golden — strip the
    * line tails, keep everything else byte-exact. */
  private def golden(actual: String, expected: String, tag: String): Unit = {
    def norm(x: String) = x.linesIterator
      .map(_.replaceAll("\\s+$", "")).mkString("\n")
    assert(norm(actual) == norm(expected),
      s"\n==== $tag actual ====\n$actual\n==== $tag expected ====\n$expected\n====")
  }

  test("golden session 1: directory discovery announcements (README.md:44-51)") {
    val d = fixtures()
    val s = freshSession()
    val out = capture {
      Repl.startup(s, Nil, Some(d.toString), recursive = false,
        verbose = true, haveQuery = false, msg => println(msg))
    }
    golden(out,
      """Load table=csv_csv, columns=3, rows=3
        |Load table=excel_xlsx, columns=3, rows=5
        |Load table=lines_json, columns=3, rows=3
        |Load table=lines_nested_json, columns=3, rows=3
        |Load table=one_json, columns=4, rows=3
        |""".stripMargin, "discovery")
  }

  test("golden session 2: interactive SELECT and NULL-padded LEFT JOIN (README.md:54-71)") {
    val d = fixtures()
    val s = freshSession()
    s.loadDir(d.toString)
    val out1 = capture { Repl.run(s, "select * from excel_xlsx") }
    golden(out1,
      """+---+---+---+
        ||id |b  |c  |
        |+---+---+---+
        ||1  |6  |11 |
        ||2  |7  |12 |
        ||3  |8  |13 |
        ||4  |9  |14 |
        ||5  |10 |15 |
        |+---+---+---+
        |
        |""".stripMargin, "select")
    val out2 = capture {
      Repl.run(s,
        "SELECT * FROM excel_xlsx e LEFT JOIN one_json j ON e.id = j.id")
    }
    golden(out2,
      """+---+---+---+----+----+----+----+
        ||id |b  |c  |b   |c   |d   |id  |
        |+---+---+---+----+----+----+----+
        ||1  |6  |11 |4   |NULL|NULL|1   |
        ||2  |7  |12 |NULL|5   |NULL|2   |
        ||3  |8  |13 |NULL|NULL|6   |3   |
        ||4  |9  |14 |NULL|NULL|NULL|NULL|
        ||5  |10 |15 |NULL|NULL|NULL|NULL|
        |+---+---+---+----+----+----+----+
        |
        |""".stripMargin, "left join")
  }

  test("golden session 3: one-shot -q with NULL group key (README.md:73-78)") {
    val d = fixtures()
    val s = freshSession()
    s.loadDir(d.toString)
    val out = capture {
      Repl.run(s, "SELECT c, count(*) as cnt FROM one_json " +
        "GROUP BY c ORDER BY 1 ASC NULLS LAST")
    }
    golden(out,
      """+----+---+
        ||c   |cnt|
        |+----+---+
        ||5   |1  |
        ||NULL|2  |
        |+----+---+
        |
        |""".stripMargin, "one-shot")
  }

  test("golden session 4: -jn normalize + /t transpose (README.md:81-91)") {
    // 4a — the FIXTURES.md-faithful file includes the MIXED-TYPE row
    // ({"nest":5}): Spark's schema union reads `nest` as one string
    // column, so there is nothing to dot-split and the stringified
    // value displays whole (the reference's pandas json_normalize
    // instead leaves scalars in a leftover column beside the dotted
    // ones — a documented divergence of the schema-first engine,
    // ReadersSpec "nested values stringified").
    val d = fixtures()
    val s = freshSession(jn = true)
    s.loadDir(d.toString)
    val out = capture {
      Repl.run(s, "SELECT * FROM lines_nested_json LIMIT 1 /t")
    }
    golden(out,
      """-RECORD 0-------------------
        | c    | NULL
        | id   | 1
        | nest | {"a":1,"b":[1,2,3]}
        |
        |""".stripMargin, "transpose mixed")
    // 4b — on a consistently-typed file the -jn dotted columns appear
    // exactly as the README session shows them
    val d2 = tmpDir()
    writeFile(d2, "nested.json",
      "{\"id\":1,\"nest\":{\"a\":1,\"b\":[1,2,3]}}\n{\"id\":3,\"c\":6}\n")
    val s2 = freshSession(jn = true)
    s2.loadDir(d2.toString)
    val out2 = capture {
      Repl.run(s2, "SELECT * FROM nested_json LIMIT 1 /t")
    }
    golden(out2,
      """-RECORD 0---------
        | c      | NULL
        | id     | 1
        | nest.a | 1
        | nest.b | [1,2,3]
        |
        |""".stripMargin, "transpose dotted")
  }

  test("golden session 5: pretty-print toggle (README.md:105-116)") {
    val d = fixtures()
    val s = freshSession()
    s.loadDir(d.toString)
    val out = capture {
      Repl.run(s, "\\pp")
      Repl.run(s, "select * from one_json")
      Repl.run(s, "\\pp") // restore the global toggle for other specs
    }
    golden(out,
      """Pretty print: on
        |+----+----+----+---+
        ||   b|   c|   d| id|
        |+----+----+----+---+
        ||   4|NULL|NULL|  1|
        ||NULL|   5|NULL|  2|
        ||NULL|NULL|   6|  3|
        |+----+----+----+---+
        |
        |Pretty print: off
        |""".stripMargin, "pretty")
  }
}
