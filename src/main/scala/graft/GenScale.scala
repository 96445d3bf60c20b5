package graft

import graft.engine.Conf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up fixture generator (VERDICT r11 next-round #1): synthesize
  * sf1 (10x sf0.1) from the driver's sf0.1 tree so the heavy operators
  * can be measured one decade above the judged gate and their scaling
  * exponents recorded (BENCH_NOTES).
  *
  * Shape of the scale-up — each copy c of 10 is offset/decorrelated so
  * the workload is a FAITHFUL 10x of sf0.1, not a quadratic trap:
  *  - fact keys move by a per-table stride (FKs move together, so join
  *    cardinalities scale linearly); region/nation stay fixed (the only
  *    tables TPC-H itself holds constant across SF). supplier SCALES
  *    (strided like customer/part, l_suppkey moves with it): holding it
  *    fixed would densify the customer-supplier graph — every
  *    supplier's degree 10x — turning the bounded-probe graph operators
  *    (x396 et al.) super-linear by fixture shape, not by engine cost;
  *  - document text gets a per-copy token suffix: within-copy near-dup
  *    structure (the planted clusters) is preserved EXACTLY, while
  *    cross-copy shingle overlap drops to zero — near-dup pair counts
  *    scale 10x, not 100x (identical copies would square every cluster);
  *  - embeddings get a per-copy cyclic dimension rotation: norms and
  *    within-copy geometry are exactly preserved, cross-copy dots
  *    decorrelate — embedding near-dup pairs stay linear too.
  *
  * Usage: runMain graft.GenScale [srcDir] [outDir] [copies]
  * (defaults /root/testdata/sf0.1 -> target/sf1 x10).
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Conf.builder(Conf.cpus, "graft-genscale")
      // int64 micros like the driver's tree — the streaming readers
      // surface ts as a raw int64 and reject Spark's INT96 default
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = Tables.load(spark, src, name)
    // one FILE per table, like the driver's tree: the streaming stagers
    // symlink "$dir/<table>.parquet" as a single file, and a 100-200MB
    // parquet file still reads as multiple splits (row-group level)
    def write(df: DataFrame, name: String, parts: Int): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.repartition(parts).coalesce(1)
        // ~12MB row groups: a single-file write would otherwise pack
        // everything into one 128MB row group = ONE scan split, which
        // would under-parallelize sf1 scans relative to the 10x data
        // (real 10x data arrives as 10x files/row groups)
        .write.option("parquet.block.size", 12L * 1024 * 1024)
        .mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(q => java.nio.file.Files.deleteIfExists(q))
      } finally walk.close()
    }

    // strides: one above each table's max key so offset ranges never
    // collide; FK columns use the REFERENCED table's stride
    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head.getLong(0) + 1L

    val custStride = strideOf(t("customer"), "c_custkey")
    val suppStride = strideOf(t("supplier"), "s_suppkey")
    val orderStride = strideOf(t("orders"), "o_orderkey")
    val partStride = strideOf(t("part"), "p_partkey")
    val eventStride = strideOf(t("events"), "event_id")
    val userStride = strideOf(t("events"), "user_id")
    val docStride = strideOf(t("documents"), "doc_id")
    val vecStride = strideOf(t("embeddings"), "vec_id")

    /** Union `copies` offset copies of df: each long column named in
      * `offsets` moves by copy * its stride. */
    def scaled(df: DataFrame, offsets: Map[String, Long]): DataFrame =
      (0 until copies).map { c =>
        offsets.foldLeft(df) { case (d, (k, stride)) =>
          d.withColumn(k, (col(k).cast("long") + lit(c * stride)).cast(
            df.schema(k).dataType match {
              case org.apache.spark.sql.types.IntegerType => "int"
              case _ => "long"
            }))
        }.withColumn("copy_", lit(c))
      }.reduce(_.unionByName(_))

    // fixed-size dimension tables: verbatim single-file copies.
    // NOT supplier: TPC-H scales supplier with SF, and keeping it
    // fixed while lineitem grows 10x DENSIFIES the customer-supplier
    // graph (every supplier's degree 10x) instead of growing it —
    // measured 26-300x blowups on the bounded-probe graph family
    // whose cost is |probes| x neighborhood size. Striding supplier
    // keeps the graph 10 disjoint copies = faithful linear scale.
    Seq("region", "nation").foreach { n =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/$n.parquet"),
        java.nio.file.Paths.get(s"$out/$n.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    write(scaled(t("supplier"), Map("s_suppkey" -> suppStride))
      .drop("copy_"), "supplier", 2)

    write(scaled(t("customer"), Map("c_custkey" -> custStride))
      .drop("copy_"), "customer", 4)
    write(scaled(t("part"), Map("p_partkey" -> partStride))
      .drop("copy_"), "part", 4)
    write(scaled(t("orders"), Map(
      "o_orderkey" -> orderStride, "o_custkey" -> custStride))
      .drop("copy_"), "orders", 8)
    write(scaled(t("lineitem"), Map(
      "l_orderkey" -> orderStride, "l_partkey" -> partStride,
      "l_suppkey" -> suppStride))
      .drop("copy_"), "lineitem", 16)
    write(scaled(t("events"), Map(
      "event_id" -> eventStride, "user_id" -> userStride))
      .drop("copy_"), "events", 8)

    // documents: per-copy token suffix (see scaladoc); n_chars re-derived
    val docs = scaled(t("documents"), Map("doc_id" -> docStride))
      .withColumn("text", when(col("copy_") === 0, col("text")).otherwise(
        // suffix EVERY whitespace token — WITHIN the token ([a-z0-9]+
        // keeps 'wordq3' one token; a '(3)' suffix would tokenize into
        // a separate per-copy digit token appearing between every two
        // words, i.e. a universal hot shingle per copy that turns the
        // unfiltered Jaccard verify quadratic — measured 264x on x57).
        // Within-copy token/shingle df structure mirrors the original
        // corpus exactly; cross-copy shingle sets are disjoint.
        expr("array_join(transform(split(text, ' '), " +
          "w -> concat(w, 'q', CAST(copy_ AS STRING))), ' ')")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("copy_")
    write(docs, "documents", 8)

    // embeddings: per-copy cyclic dimension rotation (norm-preserving,
    // cross-copy decorrelating); copy 0 stays bit-identical
    val dim = t("embeddings").select(size(col("embedding"))).head.getInt(0)
    val emb = scaled(t("embeddings"), Map("vec_id" -> vecStride))
      .withColumn("embedding", expr(
        // element_at is 1-based; the [] operator is 0-based and throws
        // under ANSI at the wrap point
        s"transform(sequence(0, ${dim - 1}), " +
          s"i -> element_at(embedding, CAST((i + copy_ * 7) % $dim AS INT) + 1))"))
      .drop("copy_")
    write(emb, "embeddings", 4)

    println(s"GENSCALE done: $out (${copies}x of $src)")
    spark.stop()
  }
}
