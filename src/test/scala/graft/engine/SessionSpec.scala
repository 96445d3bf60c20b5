package graft.engine

import scala.jdk.CollectionConverters._
import scala.util.chaining._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import graft.SparkSpec
import graft.ingest.{Discover, Naming, Readers}
import graft.io.Save

/** End-to-end engine flow over README-shaped fixtures: load -> register
  * -> SQL (the reference's golden sessions, README.md:42-116) -> export. */
class SessionSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def freshSession(): Session = new Session(spark)

  private def loadFixtures(s: Session): java.nio.file.Path = {
    val d = tmpDir()
    writeFile(d, "csv.csv", "id,b,c\n1,4,7\n2,5,8\n3,6,9\n")
    writeFile(d, "one.json", """[{"id":1,"b":4},{"id":2,"c":5},{"id":3,"d":6}]""")
    s.loadDir(d.toString)
    d
  }

  test("load + name sanitization + \\t listing") {
    val s = freshSession()
    loadFixtures(s)
    assert(s.tableNames.toSet == Set("csv_csv", "one_json"))
  }

  test("README flagship: LEFT JOIN keeps unmatched rows with nulls (README.md:65-71)") {
    val s = freshSession()
    loadFixtures(s)
    val r = s.sql(
      """SELECT e.id AS eid, j.b AS jb FROM csv_csv e
        |LEFT JOIN one_json j ON e.id = j.id ORDER BY e.id""".stripMargin).collect()
    assert(r.length == 3)
    assert(r(0).getAs[Any]("jb") == 4L)
    assert(r(1).isNullAt(1)) // id=2 row of one_json has no b -> null, NOT NaN/float
  }

  test("README group-by: NULL is a group key; NULLS LAST ordering (README.md:74-79)") {
    val s = freshSession()
    loadFixtures(s)
    val r = s.sql(
      """SELECT c, count(*) AS cnt FROM one_json
        |GROUP BY c ORDER BY 1 ASC NULLS LAST""".stripMargin).collect()
    assert(r.length == 2)
    assert(r(0).getAs[Any]("c") == 5L)
    assert(r(1).isNullAt(0)) // the NULL group, last
  }

  test("bare table name -> schema info; describeTables has rows/cols") {
    val s = freshSession()
    loadFixtures(s)
    assert(s.info("csv_csv").contains("id"))
    val d = s.describeTables().map(t => (t._1, t._2, t._3)).toSet
    assert(d == Set(("csv_csv", 3L, 3), ("one_json", 3L, 4)))
  }

  test("dialect shims: typeof / glob / quote / julianday") {
    val s = freshSession()
    loadFixtures(s)
    val r = s.sql("""SELECT typeof(id) AS t1, typeof('x') AS t2,
      glob('hello', 'h*o') AS g1, glob('hello', 'h?l') AS g2,
      quote('it''s') AS q,
      julianday(TIMESTAMP '1970-01-01 12:00:00') AS jd
      FROM csv_csv LIMIT 1""").head
    assert(r.getAs[String]("t1") == "integer")
    assert(r.getAs[String]("t2") == "text")
    assert(r.getAs[Boolean]("g1"))
    assert(!r.getAs[Boolean]("g2"))
    assert(r.getAs[String]("q") == "'it''s'")
    assert(math.abs(r.getAs[Double]("jd") - 2440588.0) < 1e-9)
  }

  test("a Session registers the dialect on a bare SparkSession") {
    val bare = spark.newSession()
    val r = new Session(bare).sql("SELECT typeof(1L) AS t, glob('hello', 'h*o') AS g").head
    assert(r.getString(0) == "integer") // Spark's own typeof says "bigint"
    assert(r.getBoolean(1))
    assert(bare.experimental.extraOptimizations.contains(graft.plans.GlobToRLike))
  }

  test("groupsFrame: GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING, hand-computed with ties") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // partition p=a: order values 1,1,2,4 — peer groups {1,1},{2},{4}
    // GROUPS 1 PRECEDING..1 FOLLOWING sums whole neighbor groups:
    //   o=1 rows: groups {1,1}+{2}            = 10+20+30   = 60
    //   o=2 row : groups {1,1}+{2}+{4}        = 10+20+30+40 = 100
    //   o=4 row : groups {2}+{4}              = 30+40      = 70
    val df = Seq(("a", 1, 10L), ("a", 1, 20L), ("a", 2, 30L),
      ("a", 4, 40L), ("b", 7, 5L)).toDF("p", "o", "v")
    val got = Dialect.groupsFrame(df, Seq("p"), "o", 1, 1,
        sum(col("v")), "fs")
      .select("p", "o", "v", "fs").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("a", 1, 10L, 60L), ("a", 1, 20L, 60L),
      ("a", 2, 30L, 100L), ("a", 4, 40L, 70L), ("b", 7, 5L, 5L)))
    // min as the combine: GROUPS frame min over the same peers
    val gotMin = Dialect.groupsFrame(df, Seq("p"), "o", 1, 1,
        min(col("v")), "fm", min)
      .select("p", "o", "fm").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotMin == Set(("a", 1, 10L), ("a", 2, 10L), ("a", 4, 30L),
      ("b", 7, 5L)))
  }

  test("save: csv single file + json NDJSON + xlsx round-trip") {
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def saveDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(tmpRoot)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_save")).toSet
      finally ls.close()
    }
    val before = saveDirs()
    val s = freshSession()
    loadFixtures(s)
    s.sql("SELECT id, b FROM csv_csv ORDER BY id")
    val d = tmpDir()
    val csvOut = d.resolve("out.csv").toString
    Save.save(s.latestResult.get, csvOut)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(csvOut))
    assert(lines.get(0) == "id,b" && lines.size == 4)
    val jsonOut = d.resolve("out.json").toString
    Save.save(s.latestResult.get, jsonOut)
    assert(java.nio.file.Files.readAllLines(java.nio.file.Paths.get(jsonOut)).get(0).startsWith("{\"id\":"))
    val xlsxOut = d.resolve("out.xlsx").toString
    Save.save(s.latestResult.get, xlsxOut)
    assert(graft.ingest.Xlsx.read(spark, xlsxOut).count() == 3)
    // beyond-reference columnar round-trips: one file out, readable back
    // through the ingestion dispatch
    val pqOut = d.resolve("out.parquet").toString
    Save.save(s.latestResult.get, pqOut)
    assert(graft.ingest.Readers.read(spark, pqOut).get.count() == 3)
    val orcOut = d.resolve("out.orc").toString
    Save.save(s.latestResult.get, orcOut)
    assert(graft.ingest.Readers.read(spark, orcOut).get.count() == 3)
    intercept[IllegalArgumentException] { Save.save(s.latestResult.get, d.resolve("out.txt").toString) }
    // every export cleans up its staging directory
    assert(saveDirs() -- before == Set.empty[String])
  }

  test("glob->regex translation corners") {
    assert(Dialect.globToRegex("a[bc]d") == "\\Aa[bc]d\\z")
    assert(Dialect.globToRegex("*.csv") == "\\A.*\\.csv\\z")
    assert("x+y".matches(Dialect.globToRegex("x+y")))
  }

  test("glob: newline-terminated value matches identically via UDF and RLIKE rewrite") {
    // ^...$ anchoring would diverge: String.matches (UDF path) rejects a
    // trailing '\n' while RLike's find-mode '$' matches just before it —
    // \A...\z keeps the two paths bit-identical (ADVICE r2).
    val s = freshSession()
    import spark.implicits._
    val df = Seq("hello", "hello\n", "hello\nworld").toDF("v")
    df.createOrReplaceTempView("nl_vals")
    // literal pattern -> optimizer rewrites to RLIKE (PlanSpec guards this)
    val viaRewrite = s.sql(
      "SELECT v FROM nl_vals WHERE glob(v, 'h*o') ORDER BY v").collect().map(_.getString(0))
    // dynamic pattern -> stays a UDF (rewrite needs a literal)
    val viaUdf = s.sql(
      "SELECT v FROM nl_vals WHERE glob(v, concat('h*', 'o')) ORDER BY v").collect().map(_.getString(0))
    assert(viaRewrite.toSeq == Seq("hello"))
    assert(viaUdf.toSeq == viaRewrite.toSeq)
  }

  test("completions: tables first then deduped columns; quoting rule golden (ref :323-333, :40)") {
    val s = freshSession()
    loadFixtures(s)
    val c = s.completions
    // table names lead, then the union of columns, first-seen, deduped
    assert(c.take(2) == Seq("csv_csv", "one_json"))
    assert(c.count(_ == "id") == 1 && c.count(_ == "b") == 1)
    // prefix completion on the last word of the buffer
    assert(Completions.complete(c, "SELECT i") == Seq("id"))
    assert(Completions.complete(c, "SELECT id, b FROM csv") == Seq("csv_csv"))
    assert(Completions.complete(c, "SELECT ").size == c.size) // fresh word
    // quoting golden: the reference's special-char regex -> backticks
    assert(Completions.quoteIfNeeded("plain_col") == "plain_col")
    assert(Completions.quoteIfNeeded("my col") == "`my col`")
    assert(Completions.quoteIfNeeded("nest.a") == "`nest.a`")
    assert(Completions.quoteIfNeeded("a-b") == "`a-b`")
    assert(Completions.quoteIfNeeded("odd`tick") == "`odd``tick`")
    assert(Completions.quoteIfNeeded("col(1)") == "`col(1)`")
  }

  test("load-error tolerance: bad file skipped, good ones load (ref :302-316)") {
    val s = freshSession()
    val d = tmpDir()
    writeFile(d, "good.csv", "a,b\n1,2\n")
    writeFile(d, "bad.xlsx", "this is not a zip")
    writeFile(d, "skip.txt", "not a known format")
    val loaded = s.loadDir(d.toString)
    assert(loaded == Seq("good_csv"))
  }

  /** One file of each ingest kind: CSV, gzip CSV, NDJSON, a JSON array
    * and XLSX. */
  private def writeIngestFixture(d: java.nio.file.Path): Unit = {
    import spark.implicits._
    writeFile(d, "csv.csv", "id,b,c\n1,4,7\n2,5,8\n3,6,9\n")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(d.resolve("zipped.csv.gz")))
    gz.write("id,v\n1,a\n2,b\n".getBytes("UTF-8")); gz.close()
    writeFile(d, "lines.json", "{\"id\":1,\"n\":{\"x\":1}}\n{\"id\":2,\"n\":{\"x\":2}}\n")
    writeFile(d, "array.json", """[
      |  {"id": 1, "b": 4},
      |  {"id": 2, "c": 5}
      |]""".stripMargin)
    graft.ingest.Xlsx.write(Seq((1L, "p"), (2L, "q")).toDF("id", "s"),
      d.resolve("sheet.xlsx").toString)
  }

  test("loadDir registers like a serial loadFile loop over Discover.inDir") {
    import spark.implicits._
    val d = tmpDir()
    writeIngestFixture(d)
    writeFile(d, "bad.xlsx", "this is not a zip")
    writeFile(d, "skip.txt", "not a known format")
    // both map to a_b_csv; discovery order puts a_b.csv last, so it wins
    writeFile(d, "a.b.csv", "k\n1\n")
    writeFile(d, "a_b.csv", "k,w\n2,3\n4,5\n")

    /** The load's result and its `[graft] skipping` lines, in order. */
    def load(f: Session => Seq[String]): (Session, Seq[String], Seq[String]) = {
      val s = freshSession()
      val buf = new java.io.ByteArrayOutputStream
      val err = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      val names = try f(s) finally System.setErr(err)
      (s, names, buf.toString("UTF-8").linesIterator
        .filter(_.startsWith("[graft] skipping")).toSeq)
    }
    val (serial, serialNames, serialSkips) = load(s =>
      graft.ingest.Discover.inDir(d.toString).flatMap(p => s.loadFile(p.toString)))
    val (conc, concNames, concSkips) = load(_.loadDir(d.toString))

    assert(serialNames == Seq("a_b_csv", "a_b_csv", "array_json", "csv_csv",
      "lines_json", "sheet_xlsx", "zipped_csv_gz"))
    assert(concNames == serialNames)
    assert(conc.tableNames == serial.tableNames)
    for (n <- serial.tableNames) {
      assert(conc.tables(n).schema == serial.tables(n).schema, n)
      assert(conc.tables(n).count() == serial.tables(n).count(), n)
    }
    def rows(s: Session) = s.tables("a_b_csv").as[(Int, Int)].collect().toSeq
    assert(rows(conc) == Seq((2, 3), (4, 5)))
    assert(rows(conc) == rows(serial))
    assert(concSkips.size == 1 && concSkips.head.contains("bad.xlsx"), concSkips)
    assert(concSkips == serialSkips)
  }

  // ---- small files open as one-partition tables ----------------------

  /** Collects `df`; its rows and the shuffles of its final (AQE) plan. */
  private def run(df: DataFrame): (Seq[org.apache.spark.sql.Row], Seq[ShuffleExchangeExec]) = {
    val rows = df.collect().toSeq
    (rows, collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    })
  }

  /** The files of `d` as plain [[Readers.read]] views on a fresh session. */
  private def plainViews(d: java.nio.file.Path): SparkSession = {
    val plain = spark.newSession()
    Discover.inDir(d.toString).map(_.toString).foreach { f =>
      Readers.read(plain, f).foreach(_.createOrReplaceTempView(Naming.tableName(f)))
    }
    plain
  }

  private def coalesced(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[Repartition])

  /** `d` loaded by a Session on a new SparkSession with `conf` set; the
    * shared session's conf is never changed. */
  private def loadedWith(d: java.nio.file.Path, conf: (String, String)*): Session = {
    val own = spark.newSession()
    conf.foreach { case (k, v) => own.conf.set(k, v) }
    new Session(own).tap(_.loadDir(d.toString))
  }

  private val smallFileSql = Seq(
    "filter + ORDER BY" ->
      "SELECT id, b, c FROM csv_csv WHERE c >= 8 ORDER BY b DESC",
    "aggregate + ORDER BY" ->
      "SELECT c IS NULL AS no_c, count(*) AS k, sum(id) AS s FROM array_json GROUP BY 1 ORDER BY 1",
    "broadcast join + aggregate" ->
      """SELECT x.s, count(*) AS k, sum(c.b) AS sb, max(z.v) AS mv FROM csv_csv c
        |JOIN sheet_xlsx x ON c.id = x.id JOIN zipped_csv_gz z ON z.id = c.id
        |GROUP BY x.s ORDER BY x.s""".stripMargin,
    "row_number window" ->
      """SELECT id, n, row_number() OVER (PARTITION BY id % 2 ORDER BY id DESC) AS rn
        |FROM lines_json ORDER BY id""".stripMargin)

  test("small files open as one partition: same rows as plain views, no shuffle") {
    val d = tmpDir()
    writeIngestFixture(d)
    val s = freshSession()
    s.loadDir(d.toString)
    assert(s.tables.values.forall(coalesced))
    val plain = plainViews(d)
    for ((what, q) <- smallFileSql) {
      val (rows, shuffles) = run(s.sql(q))
      val (plainRows, plainShuffles) = run(plain.sql(q))
      assert(rows.nonEmpty && rows == plainRows, what)
      assert(shuffles.isEmpty, s"$what: ${s.sql(q).queryExecution.executedPlan}")
      assert(plainShuffles.nonEmpty, what)
    }
    val join = s.sql(smallFileSql(2)._2)
    join.collect()
    assert(collectWithSubqueries(join.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec => j
    }.size == 2)
    // the filter still reaches the scan through the coalesce
    val filter = s.sql(smallFileSql.head._2).queryExecution.executedPlan.toString
    assert(filter.contains("GreaterThanOrEqual(c,8)"), filter)
  }

  test("a file above the split floor keeps its partitions and exchanges") {
    val d = tmpDir()
    writeFile(d, "csv.csv", "id,b,c\n1,4,7\n2,5,8\n3,6,9\n")
    val q = "SELECT b, count(*) AS k FROM csv_csv GROUP BY b ORDER BY b"
    // the floor is openCostInBytes ...
    val overOpenCost = loadedWith(d, "spark.sql.files.openCostInBytes" -> "16")
    assert(!coalesced(overOpenCost.tables("csv_csv")))
    val (rows, shuffles) = run(overOpenCost.sql(q))
    assert(shuffles.nonEmpty)
    assert(rows == run(plainViews(d).sql(q))._1)
    // ... or maxPartitionBytes when that is lower
    val overMaxPartition = loadedWith(d, "spark.sql.files.maxPartitionBytes" -> "16")
    assert(!coalesced(overMaxPartition.tables("csv_csv")))
    // the shared session keeps its floor
    assert(coalesced(freshSession().tap(_.loadDir(d.toString)).tables("csv_csv")))
  }

  test("a zip is gated on its unpacked size, not the archive's") {
    val d = tmpDir()
    val csv = "id,v\n" + (1 to 400).map(i => s"$i,same\n").mkString
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(d.resolve("big.csv.zip")))
    zip.putNextEntry(new java.util.zip.ZipEntry("big.csv"))
    zip.write(csv.getBytes("UTF-8")); zip.close()
    val archive = java.nio.file.Files.size(d.resolve("big.csv.zip"))
    val floor = (archive + csv.length) / 2
    assert(archive < floor && floor < csv.length)
    val s = loadedWith(d, "spark.sql.files.openCostInBytes" -> floor.toString)
    assert(!coalesced(s.tables("big_csv_zip")))
    assert(s.sql("SELECT count(*) FROM big_csv_zip").head.getLong(0) == 400L)
    assert(coalesced(freshSession().tap(_.loadDir(d.toString)).tables("big_csv_zip")))
  }

  test("catalog tables and pins are not coalesced") {
    val d = tmpDir()
    // one small file: the size gate alone would pass it
    spark.range(10).toDF("r_regionkey").coalesce(1)
      .write.parquet(graft.Tables.path(d.toString, "region"))
    assert(!coalesced(graft.Tables.load(spark, d.toString, "region")))
    val pinned = graft.ext.CacheRegistry.pin(spark.range(0, 100, 1, 4).toDF("id"))
    try {
      assert(!coalesced(pinned))
      assert(pinned.rdd.getNumPartitions == 4)
    } finally graft.ext.CacheRegistry.release(pinned)
  }
}
