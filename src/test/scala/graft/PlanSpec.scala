package graft

/** Plan-quality regression guards: the properties that keep the
  * headline queries scalable are asserted on the PLAN, so a future
  * change that silently un-broadcasts a dimension or stops pushing a
  * filter fails here, not at 100 TB. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q14 multi-join: all five dimension joins broadcast, no SMJ") {
    val p = plan("q14_multi_join_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 5, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q14: region filter is pushed to the parquet scan") {
    val p = plan("q14_multi_join_revenue")
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("q01: scan reads only the seven needed lineitem columns") {
    val p = SparkEntry.queries("q01_pricing_summary")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).get.group(1)
    assert(read.split(",").length == 7, read)
    assert(!read.contains("l_orderkey"), read)
  }

  test("q34 top-k: window stays partitioned (no single-partition global sort before rank)") {
    val p = plan("q34_win_rownum_topk")
    assert(p.contains("hashpartitioning(c_mktsegment"), p)
  }

  test("x59 knn: query side is broadcast (corpus never shuffles for the join)") {
    val p = ext.Similarity.knnQuantized(
      Tables.load(spark, dir, "embeddings"), 5, 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("x59 knn: top-k is a partial aggregation, not a window over all scored pairs") {
    val p = ext.Similarity.knnQuantized(
      Tables.load(spark, dir, "embeddings"), 5, 3)
      .queryExecution.executedPlan.toString
    // bounded-heap TopKAgg plans as ObjectHashAggregate with a partial
    // stage; a Window here would mean the full pair set is shuffled+sorted
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("x77 stop-shingle filter: hot shingles removed via anti-join BEFORE the pair self-join") {
    val docs = Tables.load(spark, dir, "documents")
    val p = ext.Dedup.jaccardPairs(docs, 0.2, maxDocFreq = Some(2))
      .queryExecution.executedPlan.toString
    // the frequency filter must appear as an anti-join in the physical
    // plan — that is the stage that keeps the self-join sub-quadratic
    assert(p.contains("LeftAnti"), p)
  }

  test("x81/x84 argmax ops aggregate partially — no per-key window sort") {
    for (q <- Seq("x81_keep_latest", "x84_tfidf_top_term")) {
      val p = plan(q)
      // max_by/min_by over struct buffers plan as SortAggregate,
      // numeric ones as HashAggregate — both run partial+final (one
      // row per key per partition through the exchange); the failure
      // mode guarded against is a Window shuffling every version
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
    }
  }

  test("kmeans centroid update is distributed: k*dim scalar rows, no collect_list of embeddings") {
    val emb = Tables.load(spark, dir, "embeddings")
    val assigned = emb.select(
      org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding"),
      (org.apache.spark.sql.functions.col("label") % 4).as("cell"))
    val upd = ext.Similarity.centroidUpdate(assigned)
    val p = upd.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("collect_list"), p)
    // only k*dim aggregate rows ever reach the driver — never embeddings
    assert(upd.count() == 4 * 64)
  }

  test("x90/x93 per-row curation ops stay narrow: no join, no agg, one sort exchange") {
    for (q <- Seq("x90_hash_split", "x93_zorder_key")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: $p")
      assert(!p.contains("HashAggregate"), s"$q: $p")
      // the only exchange is the final presentation sort's range partition
      assert("Exchange".r.findAllIn(p).length <= 1, s"$q: $p")
    }
  }

  test("q70: glob-on-literal UDF predicate is rewritten to a native RLIKE") {
    val p = plan("q70_glob")
    assert(p.toLowerCase.contains("rlike"), p)
    assert(!p.contains("UDF"), p)
  }

  test("q71/q87: julianday and quote UDFs are rewritten to native expressions") {
    for (q <- Seq("q71_julianday", "q87_quote")) {
      val p = plan(q)
      assert(!p.contains("UDF"), s"$q: $p")
    }
  }

  test("x101 cosine top-k: broadcast + bounded heap, never a full-pair window") {
    val p = ext.Similarity.cosineTopK(
      Tables.load(spark, dir, "embeddings"), 5, 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ObjectHashAggregate") && !p.contains("Window"), p)
  }

  test("x110 IVF+PQ: ADC scoring join is keyed on the coarse cell, LUT side broadcast") {
    val p = ext.Similarity.knnIvfPq(
      Tables.load(spark, dir, "embeddings"), 5, 3, cells = 4)
      .queryExecution.executedPlan.toString
    // the scoring join must be an equi-join whose keys include the
    // coarse cell with the (tiny, corpus-independent) LUT slice as the
    // broadcast side — never a nested-loop / cross join that would score
    // the full corpus per query
    assert("BroadcastHashJoin \\[ivf_cell".r.findFirstIn(p).isDefined, p)
    // the only BroadcastNestedLoopJoin allowed is the k-means fit's
    // centroid cross-join (bounded: k rows); the corpus-side scoring
    // path must not contain one after the index is built
    assert(p.contains("ObjectHashAggregate"), p) // bounded-heap top-k, not Window
  }

  test("x100 profile reads the table once (single scan for all columns)") {
    val p = plan("x100_profile")
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("x112 approx profile: the HLL operator is single-scan and Expand-free") {
    // the exact tier pays an Expand (one input copy per distinct
    // column); the HLL tier must not — that is its 100 TB advantage.
    // Asserted on the OPERATOR (Profile.profileApprox): since round 15
    // the judged x112 query joins the exact twin in for its oracle
    // bound check, so the composite plan legitimately carries the
    // exact leg's scan + Expand — the operator itself must not.
    val approx = graft.ext.Profile.profileApprox(
      graft.Tables.load(spark, dir, "orders"))
    val p = approx.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Expand"), p)
    // and the composite judged plan: exactly the two scans (approx leg
    // + exact-twin leg), nothing more
    val comp = plan("x112_profile_approx")
    assert("Scan parquet".r.findAllIn(comp).length == 2, comp)
  }

  test("x89/x95/x120 aggregation ops partial-aggregate and never window-sort") {
    for (q <- Seq("x89_repetition_stats", "x95_label_centroids",
        "x120_best_per_source")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: $p")
      assert(p.contains("HashAggregate"), s"$q: $p")
    }
  }

  test("x115 packing: the window is partitioned by bucket, never a global sort") {
    val p = plan("x115_sequence_pack")
    // one Window over hashpartitioning(bucket, ...) — the packing
    // parallelizes by bucket; a Window over a SinglePartition exchange
    // would be the cumsum scale trap
    assert(p.contains("Window"), p)
    assert("hashpartitioning\\(bucket".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("x118 range join plans as an equi-join, not a nested loop") {
    val p = plan("x118_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x126 skewed range join: AQE splits the hot bucket at run time") {
    // the x126 interval distribution pushes ~95% of interval rows into
    // two buckets; with production-shaped AQE thresholds (scaled to the
    // test corpus) the skew-join rule must split the hot partition —
    // the runtime answer to range-join skew the RangeJoin scaladoc
    // defers to AQE
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the SMJ path
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256b",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128b",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the x126 distribution, with multi-partition inputs: AQE splits a
      // skewed reduce partition at MAP-OUTPUT granularity, so a
      // single-file single-mapper scan (the sf0.001 parquet) leaves it
      // nothing to split — exactly as on a real cluster, where the 100 TB
      // scan has thousands of mappers (repartition(8) stands in for that)
      import org.apache.spark.sql.functions._
      val p0 = Tables.load(spark, dir, "events").repartition(8)
        .select((col("event_id") % 2400).cast("bigint").as("d"))
      val iv = Tables.load(spark, dir, "orders").repartition(8)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 4 === 0, lit(1200L))
            .otherwise((col("o_orderkey") % 2400).cast("bigint")).as("st"))
        .withColumn("en", col("st") + 7)
      val out = ext.RangeJoin.bucketed(p0, iv, p0("d"), iv("st"), iv("en"), 4L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_events"))
      // execute THIS Dataset so AQE finalizes its plan, then inspect it
      assert(out.collect().nonEmpty)
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p)
      assert(p.contains("skew=true"), p)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("x213/x216/x217: no shuffle ever carries the raw text column (md5/token keys shuffle instead)") {
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.load(spark, dir, "documents")
      Seq(
        "effectiveTokens" -> ext.TextStats.effectiveTokens(docs),
        "datasetCard" -> ext.TextStats.datasetCard(docs),
        "scoreDrift" -> ext.Profile.scoreDrift(docs, "source", col("n_chars"))
      ).foreach { case (name, df) =>
        val ex = df.queryExecution.executedPlan.collectWithSubqueries {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        assert(ex.nonEmpty, s"$name: expected at least one shuffle")
        ex.foreach { e =>
          assert(!e.child.output.map(_.name).contains("text"),
            s"$name shuffles raw text: ${e.child.output.map(_.name).mkString(",")}")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("x237 hierarchy shares: nation/region dims broadcast, no cartesian beyond 1-row totals") {
    val p = plan("x237_hierarchy_shares")
    // the two hinted dimension joins must be broadcast hash joins
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    // the only nested-loop joins are the 1-row subtotal/total
    // broadcasts — never a cross product of data-sized inputs
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x123 curation pipeline: raw source scanned once — final plan reads only staged boundaries") {
    spark.sharedState.cacheManager.clearCache()
    ext.CacheRegistry.clearAll()
    val out = SparkEntry.queries("x123_curation_pipeline")(spark, dir)
    // every stage reads either the pinned raw projection (InMemoryScan)
    // or a checkpointed survivor boundary (RDD scan); a FileSourceScan
    // of documents.parquet here would mean some stage re-reads the raw
    // 100 TB source instead of the staged frame
    val p = out.queryExecution.executedPlan
    val fileScans = p.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.toString.contains("documents") => f
    }
    assert(fileScans.isEmpty, fileScans.mkString("\n"))
    val ps = p.toString
    assert(ps.contains("InMemoryTableScan") || ps.contains("Scan ExistingRDD")
      || ps.contains("SerializeFromObject"), ps)
    assert(out.count() > 0)
    ext.CacheRegistry.clearAll()
  }

  test("x159 LM-gated curation pipeline keeps the single-raw-scan property") {
    spark.sharedState.cacheManager.clearCache()
    ext.CacheRegistry.clearAll()
    val out = SparkEntry.queries("x159_curation_lm_pipeline")(spark, dir)
    // the LM stage (model counts + scoring + threshold) must be served
    // by the pinned/checkpointed stage boundaries exactly like every
    // other stage — composing it must not smuggle a raw re-scan in
    val p = out.queryExecution.executedPlan
    val fileScans = p.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.toString.contains("documents") => f
    }
    assert(fileScans.isEmpty, fileScans.mkString("\n"))
    assert(out.count() > 0)
    ext.CacheRegistry.clearAll()
  }

  test("x260 near-dup serve: corpus served from the store, never re-shingled") {
    spark.sharedState.cacheManager.clearCache()
    ext.CacheRegistry.clearAll()
    // first construction may BUILD the index (that pass scans the
    // corpus); re-construct so the measured plan is the serve path
    SparkEntry.queries("x260_neardup_index_serve")(spark, dir).count()
    spark.sharedState.cacheManager.clearCache()
    ext.CacheRegistry.clearAll()
    val out = SparkEntry.queries("x260_neardup_index_serve")(spark, dir)
    val p = out.queryExecution.executedPlan
    // at most ONE documents scan (the probe batch; it may also hide
    // inside the batch's cached shingle relation) — a second scan
    // would mean the corpus side is being re-read instead of served
    val docScans = p.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.toString.contains("documents") => f
    }
    assert(docScans.length <= 1, docScans.mkString("\n"))
    // both store legs (bands + shingles) must be read from the index
    // (match the full plan string — FileSourceScanExec.toString
    // truncates long locations)
    assert("graft_ndidx".r.findAllIn(p.toString).length >= 2, p.toString)
    assert(out.count() > 0)
    ext.CacheRegistry.clearAll()
  }

  test("x131 runtime bloom filter: might_contain probe injected on the fact side") {
    import org.apache.spark.sql.functions._
    ext.SessionConf.withConfs(spark)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val li = Tables.load(spark, dir, "lineitem")
      val ord = Tables.load(spark, dir, "orders")
        .where(col("o_totalprice") > 450000.0)
      val out = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"))
      // InjectRuntimeFilter is a logical rule: the Bloom build aggregate
      // over the SELECTIVE order keys appears as a scalar subquery whose
      // might_contain probe filters the lineitem side before its shuffle
      val p = out.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), p)
      assert(p.contains("bloom_filter_agg"), p)
      // and the probe must sit on the FACT side: the filter that carries
      // it references l_orderkey
      assert("might_contain[^\\n]*l_orderkey".r.findFirstIn(p).isDefined, p)
    }
  }

  test("x132 global ids avoid the single-partition window the SQL spelling plans") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    // the naive spelling: row_number over a global order — Catalyst can
    // only satisfy an empty-partition window with a SinglePartition
    // exchange: one task numbers the entire dataset
    val naive = docs.select(col("doc_id"),
        (row_number().over(Window.orderBy("doc_id")) - 1).as("gid"))
      .queryExecution.executedPlan.toString
    assert(naive.contains("SinglePartition"), naive)
    // the distributed spelling: no Window, no SinglePartition exchange —
    // a range-partitioned sort followed by per-partition offset numbering
    val ours = ext.Ids.contiguousIds(docs, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!ours.contains("Window"), ours)
    assert(!ours.contains("SinglePartition"), ours)
  }

  test("x254 quantile normalize: global order statistics via zipWithIndex, never SinglePartition") {
    val p = plan("x254_quantile_normalize")
    // the global order-statistic table must come from the x132
    // machinery (range sort + zipWithIndex -> RDD boundary); a
    // data-sized SinglePartition would mean the corpus-wide
    // row_number spelling sneaked back in. Since round 15 the boundary
    // re-enters SQL through the codegen'd row encoder, which plans as
    // an ExternalRDD scan (was: createDataFrame's
    // ExistingRDD) — detected by its SerializeFromObject boundary.
    assert(p.contains("Scan ExistingRDD")
      || p.contains("SerializeFromObject"), p)
    // the only SinglePartition exchanges allowed are scalar
    // aggregates over zero-column scans (the N total count) — every
    // occurrence must sit on an empty ReadSchema
    "SinglePartition".r.findAllMatchIn(p).map(_.start).foreach { i =>
      val ctx = p.substring(i, math.min(p.length, i + 400))
      assert(ctx.contains("keys=[]"),
        s"data-sized SinglePartition:\n$ctx")
    }
    // the per-stratum rank window stays hash-partitioned by stratum
    assert(p.contains("hashpartitioning(s"), p)
  }

  test("x277 audience overlap: the broadcast side is the pair GRID, never the mask histogram") {
    val p = plan("x277_audience_overlap")
    // the mask histogram's row count is bounded only by
    // min(distinct users, 2^T) — it must be the STREAMED side; only
    // the <=T²/2-row pair grid (built from the driver-side type
    // index, a LocalTableScan) may broadcast. The histogram's
    // signature agg is bit_or: assert it appears in NO broadcast
    // subtree, not merely that "a" broadcast exists.
    val bx = subtrees(p, "BroadcastExchange")
    assert(bx.nonEmpty, p)
    bx.foreach(t => assert(!t.contains("bit_or"),
      s"mask histogram reached a BroadcastExchange:\n$t"))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x289 phrase search: postings joins are equi-joins; top-N is a bounded TakeOrdered") {
    val p = plan("x289_phrase_search")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
    // the top-N bigram pick must never be a global sort-then-limit
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x290 curriculum order: global rank has NO window (zipWithIndex discipline)") {
    val p = plan("x290_curriculum_order")
    assert(!p.contains("Window"), s"curriculum rank regressed to a window:\n$p")
  }

  test("x296 count-min: the d*w sketch is the broadcast side, never the key table") {
    val p = plan("x296_countmin_calibration")
    val bx = subtrees(p, "BroadcastExchange")
    assert(bx.nonEmpty, p)
    // the sketch subtree aggregates on (seed, b); the per-key exact
    // table must stay streamed — its signature is the key groupBy
    bx.foreach { t =>
      assert(t.contains("seed") && !t.contains("exact_cnt"),
        s"wrong broadcast side:\n$t")
    }
  }

  /** Extract each `marker` node's full subtree from a plan tree
    * string (child lines are the ones whose node-name start column is
    * deeper than the parent's). */
  private def subtrees(p: String, marker: String): Seq[String] = {
    val lines = p.split("\n")
    def nameStart(s: String): Int = s.indexWhere(c => !" :+-*(0123456789)".contains(c))
    lines.indices.filter(i => lines(i).contains(marker)).map { i =>
      val d = nameStart(lines(i))
      val buf = new StringBuilder(lines(i)).append('\n')
      var j = i + 1
      while (j < lines.length &&
             (nameStart(lines(j)) < 0 || nameStart(lines(j)) > d)) {
        buf.append(lines(j)).append('\n'); j += 1
      }
      buf.toString
    }
  }

  test("x261/x271/x279: TTL dedup and in-row sequential-state ops plan with NO window function") {
    // each is one keyed aggregation (plus in-row aggregate() folds) —
    // a Window node appearing here would mean a per-row state spelling
    // regressed into a sort-based window
    Seq("x261_ttl_dedup", "x271_cusum_chart", "x279_token_bucket")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("Window"), s"$q plans a window:\n$p")
      }
  }

  test("x252 Pass-Join: corpus candidates are an EQUI-join; only the bounded short-name patch may nest") {
    val p = plan("x252_edit_passjoin")
    assert(!p.contains("CartesianProduct"), p)
    // the pigeonhole candidates themselves must stay an equi-join; the
    // ONLY admissible nested loop is the short-string completion pass
    // (both inputs length-filtered to the <=|alphabet|^2tau-bounded
    // short-name sets) — any BNLJ subtree without those filters means
    // the corpus-sized join regressed to all-pairs
    subtrees(p, "BroadcastNestedLoopJoin").foreach { t =>
      assert("length\\(\\w+#\\d+\\) <= \\d".r.findAllIn(t).length >= 2,
        s"nested loop without length-bounded inputs:\n$t")
    }
  }

  test("x262 purge audit: victim list broadcasts; fact tables never shuffle for the check") {
    val p = plan("x262_purge_audit")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x275 merkle diff: block-checksum compare — no window, no nested loop") {
    val p = plan("x275_merkle_diff")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
  }

  test("x127 block dedup: keyed aggregations only — no window, no nested loop") {
    val p = plan("x127_block_dedup")
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("x130 temperature mix: bounded bottom-k aggregate, no per-stratum window") {
    val p = plan("x130_temperature_mix")
    // selection runs as the BottomKHashAgg bounded aggregate (partial
    // buffers capped at budget), keyed on the stratum — NOT as a
    // row_number window that would route a whole stratum through one
    // task (ADVICE r4)
    assert(!p.toLowerCase.contains("windowspecdefinition"), p)
    assert(p.contains("BottomKHashAgg") || p.contains("bottomkhashagg"), p)
    assert("hashpartitioning\\(source".r.findFirstIn(p).nonEmpty, p)
  }

  test("x152/x158 perceptual near-dup: banded candidates are a keyed join, never cartesian") {
    for (q <- Seq("x152_image_near_dup", "x158_audio_near_dup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoop"), s"$q: $p")
      assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
        || p.contains("ShuffledHashJoin"), s"$q: $p")
    }
  }

  test("x162 token budget mix: the running-sum window is partitioned by stratum") {
    val p = plan("x162_token_budget_mix")
    // a token budget needs a prefix sum (no bounded top-k can carry
    // it), so the window is allowed — but only the bucketed-cumsum
    // shape, never a global order
    assert("windowspecdefinition\\(source".r.findFirstIn(p).nonEmpty, p)
    assert("hashpartitioning\\(source".r.findFirstIn(p).nonEmpty, p)
  }

  test("x163 contamination provenance: keyed shingle join + min_by argmax, no window") {
    val p = plan("x163_contamination_provenance")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.toLowerCase.contains("windowspecdefinition"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
  }

  test("x172 bpe encode: keyed word join + codegen fold — no cartesian, no UDF") {
    val p = plan("x172_bpe_encode")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF("), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
  }

  test("x167 cluster-safe split: no cartesian, no single-partition stage") {
    val p = plan("x167_cluster_safe_split")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("x168 rank fusion ranks without the single-partition window the SQL spelling plans") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val naive = docs.select(col("doc_id"),
        row_number().over(Window.orderBy(col("n_chars").desc, col("doc_id")))
          .as("r"))
      .queryExecution.executedPlan.toString
    assert(naive.contains("SinglePartition"), naive)
    val ours = plan("x168_rank_fusion")
    assert(!ours.contains("Window"), ours)
    assert(!ours.contains("SinglePartition"), ours)
  }

  test("x169 pagerank round: keyed contribution aggregation, no nested loop") {
    val p = plan("x169_graph_pagerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    assert("hashpartitioning\\(dst".r.findFirstIn(p).nonEmpty, p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    // symmetric graph (src = dst = all nodes): the round skips the left
    // join that re-attaches nodes without in-arcs
    assert(!p.contains("LeftOuter"), p)
  }

  // a bigint attribute prints as name#idL
  test("x169/x183/x259 graph loops: the arc pin is hash-partitioned on a bigint dst") {
    for (q <- Seq("x169_graph_pagerank", "x183_label_propagation",
        "x259_personalized_pagerank")) {
      val p = plan(q)
      assert("hashpartitioning\\(dst#\\d+L,".r.findFirstIn(p).nonEmpty, s"$q: $p")
    }
  }

  test("x328 k-core: the arc pin is hash-partitioned on a bigint src") {
    // the trajectory is collected round by round, so its plans are only
    // seen through the actions that run them
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("x328_kcore_trajectory")(spark, dir).collect()
      org.apache.spark.sql.GraftBus.drain(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.mkString("\n")
    assert("hashpartitioning\\(src#\\d+L,".r.findFirstIn(all).nonEmpty, all)
  }

  test("x171 importance select: keyed token joins; window only over the score histogram") {
    val p = plan("x171_importance_select")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
    // the one global-order window must consume an aggregated histogram
    // (grouped by the score), never the document or token stream
    assert("windowspecdefinition".r.findAllIn(p.toLowerCase).length >= 1, p)
    assert("hashpartitioning\\(wpt_cb".r.findFirstIn(p).nonEmpty
      || p.contains("HashAggregate"), p)
  }

  test("x137 tfidf pairs: inverted-index equi-join, no cartesian expansion") {
    val p = plan("x137_tfidf_pairs")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop allowed is the 1-row corpus-count literal
    // broadcast; the pair join itself must be keyed on the term
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("x179 fuzzy entity match: block-keyed candidate join, never all-pairs") {
    val p = plan("x179_fuzzy_entity_match")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    // candidates come through an equi-join on the blocking token
    assert("hashpartitioning\\(blk".r.findFirstIn(p).nonEmpty ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("x180 market basket: pair join keyed on the basket, no window") {
    val p = plan("x180_market_basket")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.toLowerCase.contains("windowspecdefinition"), p)
    assert("hashpartitioning\\(b".r.findFirstIn(p).nonEmpty ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("x181 gap fill: per-key generated calendar — no global calendar cross join") {
    val p = plan("x181_gap_fill")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("SinglePartition"), p)
    // LOCF window partitions by the key
    assert("windowspecdefinition\\(k".r.findFirstIn(p.toLowerCase).nonEmpty
      || "hashpartitioning\\(k".r.findFirstIn(p).nonEmpty, p)
  }

  test("x182 k-anonymity: residual rungs are keyed count joins, no window") {
    val p = plan("x182_k_anonymity")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.toLowerCase.contains("windowspecdefinition"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("x184 attribution: keyed interval join; split windows partition by conversion") {
    val p = plan("x184_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p)
    // the touch-conversion pairing is an equi-join on the user key
    assert("hashpartitioning\\(k".r.findFirstIn(p).nonEmpty ||
      p.contains("BroadcastHashJoin"), p)
    // the apportionment window is per-conversion, never global
    assert("windowspecdefinition".r.findAllIn(p.toLowerCase).nonEmpty, p)
    assert(!p.contains("SinglePartition") ||
      "hashpartitioning\\(pid".r.findFirstIn(p).nonEmpty, p)
  }

  test("x185 containment: rare-shingle inverted-index join, no cartesian") {
    val p = plan("x185_containment_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(!p.toLowerCase.contains("windowspecdefinition"), p)
  }

  test("x187 bm25: probe terms broadcast, top-k never a global sort") {
    val p = plan("x187_bm25_retrieve")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the probe-term join must be a broadcast (the corpus-side
    // inverted index never shuffles for it)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("x243 AUC: exemplars broadcast; the midrank window is per-label, never global") {
    val p = plan("x243_retrieval_auc")
    // the |labels|-row exemplar table must broadcast against the corpus
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    // the rank-sum window runs over the (label, score) grid partitioned
    // by label — a SinglePartition window would be a global corpus sort
    assert("hashpartitioning\\(qlabel".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("x244 source overlap: no shingle self-join, only the bounded source-grid loop") {
    val p = plan("x244_source_overlap")
    // intersections come from the per-shingle source-set explosion, so
    // the only non-equi join is the |sources|^2 broadcast grid
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("x330 boundary overlap: a plain hash equi-join on the gram — never a pair enumeration") {
    val p = plan("x330_boundary_overlap")
    // the tail-gram/head-gram match must plan as an equi-join; a
    // nested-loop or cartesian here would be the all-pairs scan the
    // operator exists to avoid
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x335 kmv: bounded bottom-k aggregate (partial ObjectHashAggregate), no per-group window") {
    val p = plan("x335_kmv_distinct")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("x339 nearest asof: exactly one exchange on the key — the single-shuffle contract") {
    import org.apache.spark.sql.functions._
    val p = ext.AsofJoin.asofNearest(
        Tables.load(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts")),
        Tables.load(spark, dir, "orders")
          .select(col("o_custkey"),
            col("o_orderdate").cast("timestamp").as("odt"),
            col("o_orderkey")),
        col("user_id"), col("o_custkey"), col("ts"), col("odt"),
        Seq(col("event_id")), col("o_orderkey"))
      .queryExecution.executedPlan.toString
    // every exchange is the key shuffle (one per union branch, both
    // hashpartitioning(_k)); the second window rides the first's
    // partitioning with only a re-sort — and an inequality-join
    // formulation would show a nested loop instead
    val allEx = "Exchange [a-zA-Z]+".r.findAllIn(p).toSeq
    assert(allEx.nonEmpty && allEx.size <= 2 &&
      allEx.forall(_ == "Exchange hashpartitioning"), s"$allEx\n$p")
    assert("Exchange hashpartitioning\\(_k".r.findAllIn(p).size == allEx.size,
      p)
    // no exchange sits between the two windows: the plan segment from
    // the outer (second) Window to the inner one is shuffle-free
    val seg = p.substring(p.indexOf("Window ["),
      p.lastIndexOf("Window ["))
    assert(!seg.contains("Exchange"), seg)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x343 silhouette: centroids broadcast back; vectors never pair with vectors") {
    val p = plan("x343_silhouette")
    // the only joins are component-vs-centroid broadcasts (and the
    // dimension equi-join); a SMJ or nested loop here would be the
    // corpus x corpus pairing the centroid form exists to avoid
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x350 assortativity: degree joins are equi-joins, no pair enumeration") {
    val p = plan("x350_degree_assortativity")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x352 scd2: one hash exchange on the user key — run-id window, groupBy, and lead share it") {
    val p = plan("x352_scd2_intervals")
    // the only hash exchange is the user shuffle (the run-id window,
    // the per-run aggregate, and the valid_to lead all reuse it); the
    // remaining exchange is the presentation-order range sort
    val hashEx = "Exchange hashpartitioning\\(\\w+".r.findAllIn(p).toSeq
    assert(hashEx == Seq("Exchange hashpartitioning(user_id"),
      s"$hashEx\n$p")
  }

  test("x358 trigrams: the four consumers share one pinned count table; top-k is a TakeOrdered") {
    val p = plan("x358_event_trigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the tri/bi/prefix/out branches all read the pinned bounded
    // count table (InMemoryTableScan), so the user-key window runs
    // once — the plan text repeats the cached subtree per reference,
    // hence asserting the cache, not counting exchanges
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("x360 stream psi vs x348: serve-time PSI folds the bounded grid, no corpus re-read") {
    val p = plan("x348_psi_drift")
    // every join in the finishing stage is an equi-join or the
    // bounded sources x values grid broadcast — never a SMJ over rows
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x393 decontamination: the window join is keyed, never a nested loop over window text") {
    val p = plan("x393_ngram_decontaminate")
    // train x eval contact is ONE equi-join on the md5 digest column;
    // any nested-loop or cartesian here is the all-pairs contact the
    // digest key exists to avoid
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x394 correlation matrix: the whole moment set comes from ONE lineitem scan") {
    val p = plan("x394_correlation_matrix")
    // every Σx/Σx²/Σxy folds in a single aggregation pass — a second
    // file scan would mean the matrix re-reads the corpus per pair
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p)
  }

  test("x390 skew minhash: stop-filter prunes via anti-join before signatures; candidates stay equi-joined") {
    val p = plan("x390_skew_minhash_stopfiltered")
    // the hot-shingle drop is a left-anti equi-join ahead of the
    // signature aggregation, and no stage degenerates to a nested loop
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("x404 auto-salting: the hot-key plan broadcasts; aggregation is the two-phase salted shape") {
    val p = plan("x404_auto_salting")
    // the (key, salt_factor) plan is hot-keys-only and must join
    // broadcast — a shuffled plan join would cost more than the skew
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x408 shard balance: rank from zipWithIndex; single corpus scan; total from the shard-bounded aggregate") {
    val p = plan("x408_shard_balance")
    // the (n_tok DESC, doc_id) rank must be the x132 machinery (range
    // sort + zipWithIndex -> RDD boundary); a corpus-sized Window would
    // funnel the data through one task at 100 TB (ExternalRDD since the
    // round-15 encoder change)
    assert(p.contains("Scan ExistingRDD")
      || p.contains("SerializeFromObject"), p)
    // r13 (ADVICE): the grand token total is derived from the per-shard
    // aggregate itself — a global window over ≤`shards` rows — so the
    // ONLY documents scan lives behind the zipWithIndex RDD boundary. A
    // visible documents ReadSchema here would mean the corpus is
    // scanned and re-tokenized a second time for one scalar.
    assert(!p.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("documents")), p)
    // the one Window must sit above the shard-keyed aggregate (its
    // input cardinality is bounded by the shards parameter, not the
    // data); the shard aggregate itself must be present and keyed
    assert(p.contains("Window"), p)
    assert(p.contains("keys=[shard"), p)
    // every SinglePartition site must be bounded: its child (the text
    // below it in the tree dump) is either a scalar aggregate
    // (keys=[]) or the ≤shards-row shard aggregate (keys=[shard)
    "SinglePartition".r.findAllMatchIn(p).map(_.start).foreach { i =>
      val ctx = p.substring(i, math.min(p.length, i + 400))
      assert(ctx.contains("keys=[]") || ctx.contains("keys=[shard"),
        s"data-sized SinglePartition:\n$ctx")
    }
  }

}
