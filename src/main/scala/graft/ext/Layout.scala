package graft.ext

import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Par

/** Storage-layout keys (beyond-reference, SURVEY.md §2.8).
  *
  * Z-order (Morton) interleaving maps two clustering dimensions onto one
  * sort key such that rows close in EITHER dimension land close in the
  * linear order. Writing 100 TB sorted by this key gives multi-column
  * data-skipping: min/max footer stats of each file then bound both
  * dimensions, so a predicate on either column prunes files — the same
  * idea behind Delta/Iceberg Z-ORDER clustering, expressed as plain
  * integer arithmetic.
  *
  * The computation is a per-row narrow projection (shifts/masks only, in
  * whole-stage codegen); the expensive part of a real Z-order rewrite is
  * the range-partitioned sort-write, which [[graft.io.Warehouse]]'s
  * partitioned-write path covers.
  */
object Layout {

  /** Layout candidates are evaluated concurrently ([[graft.engine.Par]]):
    * each candidate's zipWithIndex pays an eager count job (plus the
    * range sort feeding it) during QUERY CONSTRUCTION, and the driver
    * would otherwise issue those jobs strictly serially. Result order ==
    * candidate order and each candidate is deterministic in isolation,
    * so overlap changes wall time only, never rows. This bounds the
    * candidates of one audit; they take seconds at sf0.1, so an hour
    * means wedged, not slow. */
  private val CandidatesWithin: FiniteDuration = 1.hour

  /** Interleave the low `bits` bits of a (odd positions) and b (even
    * positions) into a Morton key. Disjoint bit positions, so the
    * combine is a plain sum. */
  def zorderKey(a: Column, b: Column, bits: Int = 8): Column =
    (0 until bits).map { j =>
      (shiftleft(shiftright(a, j).bitwiseAND(1), 2 * j + 1) +
        shiftleft(shiftright(b, j).bitwiseAND(1), 2 * j)).cast("bigint")
    }.reduce(_ + _)

  /** The same key as portable SQL text (identical in Spark and DuckDB:
    * &, <<, >> and + only). */
  def zorderSql(a: String, b: String, bits: Int = 8): String =
    (0 until bits).map { j =>
      s"((($a >> $j) & 1) << ${2 * j + 1}) + ((($b >> $j) & 1) << ${2 * j})"
    }.mkString("CAST(", " + ", " AS BIGINT)")

  /** part table clustered by the (p_size, p_partkey low byte) Morton
    * key: (p_partkey, zkey), ordered by the layout key — the write
    * order a Z-ordered rewrite would use. */
  def partZorder(part: DataFrame): DataFrame =
    part.select(col("p_partkey"),
        zorderKey(col("p_size"), col("p_partkey"), 8).as("zkey"))
      .orderBy("zkey", "p_partkey")

  /** Zone-map pruning audit: BEFORE paying for a 100 TB layout
    * rewrite, measure on the actual data how many "files" each
    * candidate layout would let a predicate skip. Rows are laid out in
    * three orders — natural (by key), sorted by p_size, and Z-ordered
    * by (p_size, p_partkey & 255) — cut into files of `rowsPerFile`
    * rows, and each file keeps parquet-footer-style min/max zone maps
    * of both dimensions. A file must be scanned iff its [min,max]
    * range overlaps the predicate range. The single-column sort wins
    * its own dimension and loses the other; Z-order prunes on BOTH —
    * the number this mart reports is exactly the scan-cost argument
    * for the rewrite.
    *
    * Per-layout global positions come from a range-partitioned sort +
    * zipWithIndex (the epoch-shuffle shape), never a SinglePartition
    * window; zone maps are one keyed agg over file ids.
    *
    * Predicates audited: p_size BETWEEN 10 AND 15, (p_partkey & 255)
    * BETWEEN 0 AND 63, and their conjunction. Output: (layout,
    * n_files, scan_size_pred, scan_key_pred, scan_both), one row per
    * layout, ordered by layout name. */
  def zonemapAudit(part: DataFrame, rowsPerFile: Int = 16): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(rowsPerFile >= 2, s"rowsPerFile >= 2; got $rowsPerFile")
    val spark = part.sparkSession
    val base = part.select(col("p_partkey").cast("bigint").as("pk"),
      col("p_size").cast("bigint").as("sz"),
      col("p_partkey").bitwiseAND(255).cast("bigint").as("pk8"))
    def audit(layout: String, order: Seq[Column]): DataFrame = {
      val sorted = base.orderBy(order: _*)
      Ids.zipIndexed(sorted, "gid", 0L)
        .groupBy((col("gid") / rowsPerFile).cast("bigint").as("file"))
        .agg(min("sz").as("lo_sz"), max("sz").as("hi_sz"),
          min("pk8").as("lo_pk"), max("pk8").as("hi_pk"))
        .select(lit(layout).as("layout"),
          (col("lo_sz") <= 15 && col("hi_sz") >= 10).as("s_sz"),
          (col("lo_pk") <= 63 && col("hi_pk") >= 0).as("s_pk"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("s_sz"), 1L).otherwise(0L)).as("scan_size_pred"),
          sum(when(col("s_pk"), 1L).otherwise(0L)).as("scan_key_pred"),
          sum(when(col("s_sz") && col("s_pk"), 1L).otherwise(0L))
            .as("scan_both"))
    }
    audit("1_natural", Seq(col("pk")))
      .unionByName(audit("2_bysize", Seq(col("sz"), col("pk"))))
      .unionByName(audit("3_zorder",
        Seq(zorderKey(col("sz"), col("pk"), 8), col("pk"))))
      .orderBy("layout")
  }

  /** Hilbert-curve cell index of (a, b) via the native codegen'd
    * expression [[graft.functions.HilbertKey]] — see there for why the
    * rotation loop can't be a composed Column. */
  def hilbertKey(df: DataFrame, a: Column, b: Column, bits: Int = 8): Column = {
    graft.functions.HilbertKey.register(df.sparkSession)
    call_function("hilbert_key", a.cast("bigint"), b.cast("bigint"), lit(bits))
  }

  /** The same walk as portable SQL: returns (roundsCTE, finalRelation)
    * where roundsCTE unrolls the xy2d loop as `bits` chained CTEs over
    * a seed relation `h0(id, x, y, d)` the caller provides. Pure
    * integer CASE/&/xor arithmetic — identical in Spark and DuckDB. */
  def hilbertSqlRounds(bits: Int = 8): String = {
    val rounds = (1 to bits).map { r =>
      val s = 1L << (bits - r)
      val prev = s"h${r - 1}"
      s"""h$r AS (
         |  SELECT id,
         |    CASE WHEN (y & $s) = 0 THEN
         |      (CASE WHEN (x & $s) > 0 THEN $s - 1 - y ELSE y END)
         |    ELSE x END AS x,
         |    CASE WHEN (y & $s) = 0 THEN
         |      (CASE WHEN (x & $s) > 0 THEN $s - 1 - x ELSE x END)
         |    ELSE y END AS y,
         |    d + ${s * s} * xor(
         |      CASE WHEN (x & $s) > 0 THEN 3 ELSE 0 END,
         |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
         |  FROM $prev)""".stripMargin
    }
    rounds.mkString(",\n")
  }

  /** part clustered by the Hilbert index of (p_size, p_partkey & 255):
    * per-row curve positions, totally ordered by (hkey, p_partkey) —
    * the write order a Hilbert-clustered rewrite would use, judged
    * row-exact against the unrolled-SQL oracle. */
  def partHilbert(part: DataFrame, bits: Int = 8): DataFrame = {
    val base = part.select(col("p_partkey"),
      col("p_size").cast("bigint").as("x"),
      col("p_partkey").bitwiseAND(255).cast("bigint").as("y"))
    base.select(col("p_partkey"), col("x"), col("y"),
        hilbertKey(base, col("x"), col("y"), bits).as("hkey"))
      .orderBy("hkey", "p_partkey")
  }

  /** d-dimensional Hilbert index of the axis columns via the native
    * codegen'd expression [[graft.functions.HilbertKeyNd]] (Skilling
    * transpose walk) — see there for why the sweep can't be a composed
    * Column. */
  def hilbertKeyNd(df: DataFrame, axes: Seq[Column], bits: Int): Column = {
    graft.functions.HilbertKeyNd.register(df.sparkSession)
    call_function("hilbert_key_nd",
      axes.map(_.cast("bigint")) :+ lit(bits): _*)
  }

  /** Skilling's d-dimensional walk as portable SQL: unrolls the
    * inverse-undo sweep, Gray encode, correction fold, and interleave
    * as chained CTEs over a seed relation `${p}0(carry..., x0..x{d-1})`
    * the caller provides; the final CTE `${p}f` adds `hkey`. Pure
    * integer CASE/&/xor/shift arithmetic — identical in any engine. */
  def hilbertNdSqlRounds(dims: Int, bits: Int, carry0: Seq[String],
                         p: String = "hs"): String = {
    require(dims >= 2 && dims <= 4 && bits >= 1 && dims * bits <= 63)
    val xs = (0 until dims).map(i => s"x$i")
    // the sweep MUTATES the axes (transpose form); the originals ride
    // along as o0..o{d-1} so the final CTE can emit them under x* names
    val os = (0 until dims).map(i => s"o$i")
    val carry = carry0 ++ os
    val keep = carry.mkString(", ")
    def sel(changed: Map[String, String], from: String, name: String) = {
      val cols = xs.map(x => changed.get(x).map(e => s"$e AS $x").getOrElse(x))
      s"$name AS (SELECT $keep${if (carry.nonEmpty) ", " else ""}${cols.mkString(", ")} FROM $from)"
    }
    var prev = s"${p}p"
    var k = 0
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"${p}p AS (SELECT ${(carry0 ++
      xs.zip(os).map { case (x, o) => s"$x AS $o" } ++ xs).mkString(", ")}" +
      s" FROM ${p}0)"
    var q = 1L << (bits - 1)
    while (q > 1) {
      val pm = q - 1
      for (i <- 0 until dims) {
        k += 1
        val name = s"$p$k"
        val changed =
          if (i == 0)
            Map("x0" -> s"CASE WHEN (x0 & $q) > 0 THEN xor(x0, $pm) ELSE x0 END")
          else Map(
            "x0" -> (s"CASE WHEN (x$i & $q) > 0 THEN xor(x0, $pm)" +
              s" ELSE xor(x0, xor(x0, x$i) & $pm) END"),
            s"x$i" -> (s"CASE WHEN (x$i & $q) > 0 THEN x$i" +
              s" ELSE xor(x$i, xor(x0, x$i) & $pm) END"))
        ctes += sel(changed, prev, name)
        prev = name
      }
      q >>= 1
    }
    for (i <- 1 until dims) {
      k += 1
      val name = s"$p$k"
      ctes += sel(Map(s"x$i" -> s"xor(x$i, x${i - 1})"), prev, name)
      prev = name
    }
    val tTerms = {
      var qq = 1L << (bits - 1)
      val terms = scala.collection.mutable.ArrayBuffer[String]()
      while (qq > 1) {
        terms += s"CASE WHEN (x${dims - 1} & $qq) > 0 THEN ${qq - 1} ELSE 0 END"
        qq >>= 1
      }
      if (terms.isEmpty) "0" else terms.reduce((a, b) => s"xor($a, $b)")
    }
    val tName = s"${p}t"
    ctes += s"$tName AS (SELECT *, $tTerms AS tt FROM $prev)"
    val aName = s"${p}a"
    ctes += sel(xs.map(x => x -> s"xor($x, tt)").toMap, tName, aName)
    val hkey = (for (qi <- (bits - 1) to 0 by -1; i <- 0 until dims)
      yield s"(((x$i >> $qi) & 1) << ${qi * dims + (dims - 1 - i)})")
      .mkString("CAST(", " + ", " AS BIGINT)")
    ctes += s"${p}f AS (SELECT ${(carry0 ++
      os.zip(xs).map { case (o, x) => s"$o AS $x" }).mkString(", ")}, " +
      s"$hkey AS hkey FROM $aName)"
    ctes.mkString(",\n")
  }

  /** lineitem clustered by the 3-D Hilbert index of
    * (l_suppkey & 63, l_partkey & 63, l_quantity & 63): per-row curve
    * positions, totally ordered by (hkey, every column) — the write
    * order a 3-column Hilbert-clustered rewrite would use, judged
    * row-exact against the unrolled-SQL oracle. */
  def lineitemHilbert3(li: DataFrame, bits: Int = 6): DataFrame = {
    val mask = (1 << bits) - 1
    val base = li.select(col("l_orderkey"),
      col("l_linenumber").cast("bigint").as("l_linenumber"),
      col("l_suppkey").bitwiseAND(mask).cast("bigint").as("x0"),
      col("l_partkey").bitwiseAND(mask).cast("bigint").as("x1"),
      floor(col("l_quantity")).cast("bigint").bitwiseAND(mask).as("x2"))
    base.select(col("l_orderkey"), col("l_linenumber"),
        col("x0"), col("x1"), col("x2"),
        hilbertKeyNd(base, Seq(col("x0"), col("x1"), col("x2")), bits)
          .as("hkey"))
      .orderBy("hkey", "l_orderkey", "l_linenumber", "x0", "x1", "x2")
  }

  /** Zone-map pricing of 2-D vs 3-D Hilbert clustering ([[zonemapAudit]]
    * shape, on lineitem): rows are laid out natural / Hilbert-(x,y) /
    * Hilbert-(x,y,z), cut into `rowsPerFile`-row files with min/max
    * zone maps of all three dims, and each candidate predicate counts
    * the files it must scan. The 2-D layout never prunes z; the 3-D
    * layout prunes all three at a small cost on x/y — this mart
    * reports that trade as numbers, the scan-cost argument for (or
    * against) adding the third clustering column BEFORE a 100 TB
    * rewrite pays for it.
    *
    * Per-layout positions come from a range-partitioned sort +
    * zipWithIndex, never a SinglePartition window; zone maps are one
    * keyed agg per layout. Ties: rows identical in every sort column
    * are interchangeable and zone maps are unaffected, so the audit is
    * deterministic without a unique id.
    *
    * Output: (layout, n_files, scan_x, scan_y, scan_z, scan_xyz),
    * ordered by layout. */
  def zonemapAuditHilbert(li: DataFrame, bits: Int = 6,
                          rowsPerFile: Int = 16): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(rowsPerFile >= 2, s"rowsPerFile >= 2; got $rowsPerFile")
    val spark = li.sparkSession
    val mask = (1 << bits) - 1
    // pinned: all three layout sorts re-scanned the parquet source
    val base = CacheRegistry.pin(
      li.select(col("l_orderkey").cast("bigint").as("ok"),
        col("l_linenumber").cast("bigint").as("ln"),
        col("l_suppkey").bitwiseAND(mask).cast("bigint").as("x"),
        col("l_partkey").bitwiseAND(mask).cast("bigint").as("y"),
        floor(col("l_quantity")).cast("bigint").bitwiseAND(mask).as("z")))
    def audit(layout: String, order: Seq[Column]): DataFrame = {
      val sorted = base.orderBy(order: _*)
      Ids.zipIndexed(sorted, "gid", 0L)
        .groupBy((col("gid") / rowsPerFile).cast("bigint").as("file"))
        .agg(min("x").as("lox"), max("x").as("hix"),
          min("y").as("loy"), max("y").as("hiy"),
          min("z").as("loz"), max("z").as("hiz"))
        .select(lit(layout).as("layout"),
          (col("lox") <= 15 && col("hix") >= 8).as("sx"),
          (col("loy") <= 31 && col("hiy") >= 16).as("sy"),
          (col("loz") <= 10 && col("hiz") >= 1).as("sz"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("sx"), 1L).otherwise(0L)).as("scan_x"),
          sum(when(col("sy"), 1L).otherwise(0L)).as("scan_y"),
          sum(when(col("sz"), 1L).otherwise(0L)).as("scan_z"),
          sum(when(col("sx") && col("sy") && col("sz"), 1L).otherwise(0L))
            .as("scan_xyz"))
    }
    val h2 = hilbertKeyNd(base, Seq(col("x"), col("y")), bits)
    val h3 = hilbertKeyNd(base, Seq(col("x"), col("y"), col("z")), bits)
    Par.map(spark, Seq(
        ("1_natural",
          Seq(col("ok"), col("ln"), col("x"), col("y"), col("z"))),
        ("2_hilbert2d", Seq(h2, col("x"), col("y"), col("z"))),
        ("3_hilbert3d", Seq(h3, col("x"), col("y"), col("z")))),
        CandidatesWithin) {
        case (n, o) => audit(n, o)
      }
      .reduce(_ unionByName _)
      .orderBy("layout")
  }

  /** COMPACTION CANDIDATE ranking: which files would a clustering
    * compaction help MOST? Rows in their natural write order are cut
    * into `rowsPerFile`-row files with min/max zone maps of the
    * clustering value; a file's badness is how many OTHER files its
    * [lo, hi] range overlaps — overlapped ranges are exactly what
    * makes zone maps useless (every range predicate touching the span
    * must scan all of them), and the top-overlap files are where a
    * bounded incremental rewrite (compact k files, not the table)
    * buys the most pruning. Emits the `k` worst files.
    *
    * Scale shape: file stats come from one range-partitioned sort +
    * zipWithIndex and one keyed agg; the overlap count is NOT a pair
    * join — n_overlap(f) = #files(lo <= f.hi) - #files(hi < f.lo) - 1,
    * computed by two boundary-sweep windows over the bounded file
    * table (2F rows each; at 100 TB file stats are already collected
    * by the writer — parquet footers — and F << rows). The O(F²)
    * interval join never happens; the DuckDB oracle deliberately uses
    * per-file correlated counts, a different shape.
    *
    * Output: (file, lo, hi, n_overlap), worst first (ties by file),
    * k rows. */
  def compactionCandidates(li: DataFrame, rowsPerFile: Int = 64,
                           k: Int = 20): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(rowsPerFile >= 2 && k >= 1)
    val spark = li.sparkSession
    val base = li.select(col("l_orderkey").cast("bigint").as("ok"),
      col("l_linenumber").cast("bigint").as("ln"),
      col("l_partkey").cast("bigint").as("v"))
    val sorted = base.orderBy("ok", "ln", "v")
    val files = Ids.zipIndexed(sorted, "gid", 0L)
      .groupBy((col("gid") / rowsPerFile).cast("bigint").as("file"))
      .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("nr"))
    // sweep 1: files with lo <= my hi (lo events sort BEFORE the hi
    // probe at equal v, so equality counts)
    val loLe = files.select(col("lo").as("v"), lit(0L).as("typ"),
        lit(-1L).as("file"))
      .unionAll(files.select(col("hi").as("v"), lit(1L).as("typ"),
        col("file")))
      .withColumn("cnt", sum(when(col("typ") === 0, 1L).otherwise(0L))
        .over(Window.orderBy("v", "typ")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("typ") === 1).select(col("file"), col("cnt").as("n_lo_le"))
    // sweep 2: files with hi < my lo (the lo probe sorts BEFORE hi
    // events at equal v, so equality does NOT count)
    val hiLt = files.select(col("lo").as("v"), lit(0L).as("typ"),
        col("file"))
      .unionAll(files.select(col("hi").as("v"), lit(1L).as("typ"),
        lit(-1L).as("file")))
      .withColumn("cnt", sum(when(col("typ") === 1, 1L).otherwise(0L))
        .over(Window.orderBy("v", "typ")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("typ") === 0).select(col("file"), col("cnt").as("n_hi_lt"))
    files.join(loLe, Seq("file")).join(hiLt, Seq("file"))
      .select(col("file"), col("lo"), col("hi"),
        (col("n_lo_le") - col("n_hi_lt") - 1L).as("n_overlap"))
      .orderBy(col("n_overlap").desc, col("file"))
      .limit(k)
  }

  /** SORTEDNESS AUDIT of a table's natural write order w.r.t. a
    * clustering value (one row): adjacent-pair inversions (next < cur)
    * split into the intra-chunk count and the chunk-BOUNDARY count,
    * plus sorted_ppm = non-inverted adjacent pairs per million — the
    * "is this table already close enough to clustered" measurement
    * taken BEFORE paying for a [[hilbertRewrite]]-style rewrite (a
    * table at 990k+ ppm wants [[compactionCandidates]]'s bounded
    * k-file fix, not a full re-sort).
    *
    * Scale shape: rows chunk by natural position (`rowsPerFile`, the
    * file-cut model shared with [[compactionCandidates]]); intra-chunk
    * inversions come from a lag window PARTITIONED BY CHUNK (64-row
    * partitions — embarrassingly parallel, never the single-partition
    * global window the naive formulation wants), and the boundary
    * pairs from one lag over the bounded per-chunk (first, last)
    * stats table. The DuckDB oracle deliberately uses the one global
    * lag this shape avoids.
    *
    * Output: (n_rows, n_chunks, intra_inversions, boundary_inversions,
    * sorted_ppm). */
  def sortednessAudit(li: DataFrame, rowsPerFile: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(rowsPerFile >= 2)
    val spark = li.sparkSession
    val base = li.select(col("l_orderkey").cast("bigint").as("ok"),
      col("l_linenumber").cast("bigint").as("ln"),
      col("l_partkey").cast("bigint").as("v"))
    // the write-order model is the (ok, ln, v) sort — the same
    // deterministic stand-in for "order the rows arrived in" that
    // compactionCandidates uses (raw parquet row order is not an
    // engine-portable contract)
    val rows = Ids.zipIndexed(base.orderBy("ok", "ln", "v"), "gid", 0L)
      .select(col("v"), col("gid"),
        (col("gid") / rowsPerFile).cast("bigint").as("chunk"))
    val wc = Window.partitionBy("chunk").orderBy("gid")
    val intra = rows
      .withColumn("inv",
        when(col("v") < lag("v", 1).over(wc), 1L).otherwise(0L))
      .agg(count(lit(1)).as("n_rows"), sum("inv").as("intra_inversions"))
    val stats = rows.groupBy("chunk")
      .agg(min(struct(col("gid"), col("v"))).as("first"),
        max(struct(col("gid"), col("v"))).as("last"))
      .select(col("chunk"), col("first.v").as("fv"), col("last.v").as("lv"))
    val wb = Window.orderBy("chunk")
    val boundary = stats
      .withColumn("inv",
        when(col("fv") < lag("lv", 1).over(wb), 1L).otherwise(0L))
      .agg(count(lit(1)).as("n_chunks"),
        sum("inv").as("boundary_inversions"))
    intra.crossJoin(boundary)
      .select(col("n_rows"), col("n_chunks"),
        col("intra_inversions"), col("boundary_inversions"),
        expr("(n_rows - 1 - intra_inversions - boundary_inversions)" +
          " * 1000000 div (n_rows - 1)").as("sorted_ppm"))
  }

  /** SORT-KEY CHOOSER matrix: for each candidate clustering column,
    * lay lineitem out sorted by that column (files of `rowsPerFile`
    * rows with min/max zone maps of ALL candidates) and price the
    * same mid-range quarter-width predicate on EVERY candidate
    * dimension — the 4×4 scan-fraction matrix whose diagonal shows
    * what each sort key buys on its own dimension and whose
    * off-diagonal shows what it costs the others. The
    * "which column do we actually sort by" decision, measured on the
    * real data before a 100 TB rewrite (the multi-column compromise
    * tiers live in [[zonemapAudit]] / [[zonemapAuditHilbert]]).
    * Predicate bounds are integer quarter points of each column's
    * global [min, max] (broadcast), so every number is engine-exact.
    *
    * Scale shape: one global min/max pass; per candidate sort, one
    * range-partitioned sort + zipWithIndex (the epoch-shuffle shape,
    * never a SinglePartition window) and one keyed file agg; the
    * pricing join is file-stats × 4 literal predicates — bounded.
    *
    * Output: (sort_key, pred_col, n_files, files_scanned, scan_ppm)
    * ordered by (sort_key, pred_col). */
  def sortKeyChooser(li: DataFrame, rowsPerFile: Int = 256): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(rowsPerFile >= 2)
    val spark = li.sparkSession
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    // pinned: five consumers (the global-bounds pass + four candidate
    // sorts) each re-scanned the parquet source otherwise
    val base = CacheRegistry.pin(
      li.select(cols.map(c => col(c).cast("bigint").as(c)): _*))
    val bounds = base.agg(
      cols.flatMap(c => Seq(min(col(c)).as(s"lo_$c"),
        max(col(c)).as(s"hi_$c"))).head,
      cols.flatMap(c => Seq(min(col(c)).as(s"lo_$c"),
        max(col(c)).as(s"hi_$c"))).tail: _*)
    val perSort = Par.map(spark, cols, CandidatesWithin) { sk =>
      val others = cols.filterNot(_ == sk)
      val sorted = base.orderBy((col(sk) +: others.map(col)): _*)
      val files = Ids.zipIndexed(sorted, "gid", 0L)
        .groupBy((col("gid") / rowsPerFile).cast("bigint").as("file"))
        .agg(cols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"),
          max(col(c)).as(s"mx_$c"))).head,
          cols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"),
            max(col(c)).as(s"mx_$c"))).tail: _*)
      val priced = files.crossJoin(broadcast(bounds))
        .withColumn("pred", explode(array(cols.map(lit): _*)))
      val scanned = cols.map { c =>
        // predicate on c: BETWEEN lo + span/4 AND lo + span/2
        when(col("pred") === c,
          when(col(s"mx_$c") >= expr(s"lo_$c + (hi_$c - lo_$c) div 4")
            && col(s"mn_$c") <= expr(s"lo_$c + (hi_$c - lo_$c) div 2"),
            1L).otherwise(0L))
      }.reduce((a, b) => coalesce(a, b))
      priced
        .groupBy(col("pred").as("pred_col"))
        .agg(count(lit(1)).as("n_files"), sum(scanned).as("files_scanned"))
        .select(lit(sk).as("sort_key"), col("pred_col"), col("n_files"),
          col("files_scanned"),
          expr("files_scanned * 1000000 div n_files").as("scan_ppm"))
    }
    perSort.reduce(_ unionAll _).orderBy("sort_key", "pred_col")
  }

  /** RANGE-PARTITION boundary plan: the exact value cuts a
    * `repartitionByRange(parts)` / range-bucketed write would want,
    * with the partition census those cuts actually produce — the
    * pre-flight that catches the classic range-layout failure (one
    * hot value owning 40% of the rows makes partition i giant no
    * matter where the other cuts land) BEFORE a 100 TB shuffle is
    * committed. Boundaries are discrete quantiles (actual members of
    * the value multiset); a row goes to partition = number of
    * boundaries strictly below its value, so every engine places
    * ties identically. balance_milli = 1000 means perfectly even.
    *
    * Scale shape: one map-side-combinable value histogram; the
    * quantile cuts come from one percentile_disc aggregate; the
    * census is the histogram joined to the broadcast one-row cut
    * table — nothing row-shaped after the first count.
    *
    * Output: (part, lo, hi, n_rows, balance_milli), ordered. */
  def rangeBoundaries(df: DataFrame, value: Column,
                      parts: Int = 8): DataFrame = {
    require(parts >= 2 && parts <= 256,
      s"parts must be in [2, 256]; got $parts")
    val v = df.select(value.as("v"))
    // pinned: the histogram feeds the cut derivation, the census AND
    // the total — one value scan for the whole operator
    val hist = CacheRegistry.pin(v.groupBy("v").agg(count(lit(1)).as("c")))
    // Discrete quantiles FROM THE HISTOGRAM instead of parts-1
    // percentile_disc aggregates: each percentile_disc is an ordered-
    // set aggregate that buffers EVERY value — parts-1 of them
    // serialized the full column (parts-1)x into a one-row exchange
    // and re-sorted it (parts-1)x in a single final-agg task (measured
    // 6.8s single-task at sf0.1, guide §2.3/§5). The cumulative-count
    // window runs over the bounded DISTINCT-value table only, and the
    // integer cross-multiplied threshold (cum * parts >= i * n) is the
    // exact percentile_disc definition — smallest member value whose
    // cumulative fraction reaches i/parts — so results are
    // bit-identical to the aggregate form the oracle still uses.
    // Cut derivation runs over NON-NULL values only: percentile_disc
    // ignores NULLs, whereas a NULL histogram group would sort NULLS
    // FIRST into the cumulative window AND inflate nt, shifting every
    // cut on a nullable column (round-15 advice). The census below
    // keeps the full histogram — NULL rows land in part 0 under the
    // `b < v` placement rule either way, exactly as before.
    val nnHist = hist.where(col("v").isNotNull)
    val cum = nnHist.withColumn("cum",
      org.apache.spark.sql.functions.sum("c").over(
        org.apache.spark.sql.expressions.Window.orderBy("v")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
    val cuts = cum
      .crossJoin(broadcast(nnHist.agg(sum("c").as("nt"))))
      .agg(
        min(when(col("cum") * parts >= col("nt") * 1, col("v")))
          .cast("long").as("b1"),
        (2 until parts).map(i =>
          min(when(col("cum") * parts >= col("nt") * i, col("v")))
            .cast("long").as(s"b$i")): _*)
    val bArr = (1 until parts).map(i => s"b$i").mkString(", ")
    hist.crossJoin(broadcast(cuts))
      .withColumn("part",
        expr(s"CAST(size(filter(array($bArr), b -> b < v)) AS BIGINT)"))
      .groupBy("part")
      .agg(min("v").as("lo"), max("v").as("hi"), sum("c").as("n_rows"))
      .crossJoin(broadcast(hist.agg(sum("c").as("n_total"))))
      .select(col("part"), col("lo"), col("hi"), col("n_rows"),
        expr(s"n_rows * $parts * 1000 div n_total").as("balance_milli"))
      .orderBy("part")
  }
}
