package graft.ext

import graft.{SparkSpec, Tables}

/** Extension-operator invariants on the sf0.001 corpus (the oracle gate
  * at sf0.01 checks exact values; these specs check structural
  * properties and the paths the oracle can't reach). */
class ExtSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, dir, "documents")
  private lazy val emb = Tables.load(spark, dir, "embeddings")

  test("BMP decode: parsed header fields round-trip the construction formula") {
    import org.apache.spark.sql.functions._
    val decoded = Multimodal.decodeBmp(Multimodal.withBmpPayload(docs))
      .orderBy("doc_id").collect().toSeq
    // the formula twin, computed from n_chars WITHOUT touching bytes
    val twin = docs.select(col("doc_id"),
        (lit(54) + (floor((lit(3) * (col("n_chars") % 64 + 1) + 3) / 4) * 4)
          * (col("n_chars") % 37 + 1)).cast("long").as("n_bytes"),
        (col("n_chars") % 64 + 1).cast("long").as("width"),
        (col("n_chars") % 37 + 1).cast("long").as("height"),
        lit(24L).as("bpp"),
        ((floor((lit(3) * (col("n_chars") % 64 + 1) + 3) / 4) * 4)
          * (col("n_chars") % 37 + 1)).cast("long").as("px_bytes"))
      .orderBy("doc_id").collect().toSeq
    assert(decoded == twin)
  }

  test("WAV decode: parsed fields round-trip the construction formula; corrupt rejected") {
    import org.apache.spark.sql.functions._
    val decoded = Multimodal.decodeWav(Multimodal.withWavPayload(docs))
      .orderBy("doc_id").collect().toSeq
    val twin = docs.select(col("doc_id"),
        (lit(8000) + (col("n_chars") % 3) * 4000).cast("long").as("sample_rate"),
        (lit(1) + col("n_chars") % 2).cast("long").as("channels"),
        lit(16L).as("bits"),
        (col("n_chars") % 500 + 50).cast("long").as("n_samples"),
        floor(lit(10000.0) * (col("n_chars") % 500 + 50) /
          (lit(8000) + (col("n_chars") % 3) * 4000)).cast("long")
          .as("dur_sec_x10k"))
      .orderBy("doc_id").collect().toSeq
    assert(decoded == twin)
    val bad = docs.limit(1).select(col("doc_id"),
      encode(lit("RIFFxxxxNOPE definitely not audio, padded to length......"),
        "UTF-8").as("payload"))
    val e = intercept[Exception](Multimodal.decodeWav(bad).collect())
    assert(e.getMessage != null)
  }

  test("BMP decode rejects corrupt payloads loudly") {
    import org.apache.spark.sql.functions._
    val bad = docs.limit(1).select(col("doc_id"),
      encode(lit("not a bitmap at all, padded to pass the length check......"),
        "UTF-8").as("payload"))
    val e = intercept[Exception](Multimodal.decodeBmp(bad).collect())
    assert(e.getMessage != null)
  }

  test("decoded pixel histogram sums to the pixel byte count") {
    import org.apache.spark.sql.functions._
    val f = Multimodal.decodeFeatures(Multimodal.withBmpPayload(docs))
      .select(col("doc_id"),
        expr("aggregate(features, 0L, (a, x) -> a + x)").as("total"))
    val px = Multimodal.decodeBmp(Multimodal.withBmpPayload(docs))
      .select("doc_id", "px_bytes")
    assert(f.join(px, "doc_id")
      .where(col("total") =!= col("px_bytes")).count() == 0)
  }

  test("TopKAgg ranking equals the window formulation exactly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    graft.functions.QuantDot.register(spark)
    val pairs = broadcast(q).join(emb, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        call_function("quant_dot", col("qe"), col("embedding")).as("dot_q"))
    val w = Window.partitionBy("qid").orderBy(col("dot_q").desc, col("vec_id"))
    val viaWindow = pairs.withColumn("rn", row_number().over(w).cast("bigint"))
      .where(col("rn") <= 3).orderBy("qid", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val viaAgg = Similarity.knnQuantized(emb, 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaAgg.toSeq == viaWindow.toSeq)
  }

  test("knnQuantized: k rows per query, descending, no self-match") {
    val r = Similarity.knnQuantized(emb, 5, 3).collect()
    assert(r.length == 15)
    r.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L))
      assert(rows.map(_.getLong(2)).toSeq.reverse.sorted.reverse == rows.map(_.getLong(2)).toSeq)
      assert(!rows.exists(_.getLong(1) == qid))
    }
  }

  test("jaccard pairs are symmetric-free (d1 < d2) and within [0, 10000]") {
    val r = Dedup.jaccardPairs(docs, 0.2).collect()
    assert(r.nonEmpty)
    assert(r.forall(x => x.getLong(0) < x.getLong(1)))
    assert(r.forall(x => x.getLong(2) >= 2000 && x.getLong(2) <= 10000))
  }

  test("stop-shingle filter: no-op above max frequency, prunes below") {
    val base = Dedup.jaccardPairs(docs, 0.2).collect().toSeq
    val slack = Dedup.jaccardPairs(docs, 0.2, Some(1000000)).collect().toSeq
    assert(base == slack) // threshold above any real doc-frequency
    // aggressive filtering must only ever shrink the candidate space
    val tight = Dedup.jaccardPairs(docs, 0.2, Some(2)).collect().toSeq
    assert(tight.size <= base.size)
  }

  test("minhash-LSH candidates verify to high jaccard (planted near-dups)") {
    val lsh = Dedup.minhashLshPairs(docs).collect()
    assert(lsh.nonEmpty)
    assert(lsh.forall(_.getLong(2) >= 5000)) // candidates are true near-dups
  }

  test("clusters: labels are component minima (idempotent under re-clustering)") {
    val pairs = Dedup.jaccardPairs(docs, 0.2).select("d1", "d2").cache()
    val labels = Dedup.clusters(docs, pairs).cache()
    // every doc labeled, label <= doc_id
    assert(labels.count() == docs.count())
    assert(labels.where(org.apache.spark.sql.functions.col("cluster_id") >
      org.apache.spark.sql.functions.col("doc_id")).count() == 0)
    // paired docs share a label
    val l = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.collect().foreach { r =>
      assert(l(r.getLong(0)) == l(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} in different clusters")
    }
  }

  test("simhash: 16-bit range, deterministic across runs") {
    val a = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = Dedup.simhash(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sameElements(b))
    assert(a.forall { case (_, h) => h >= 0 && h < 65536 })
  }

  test("LSH is tunable: 16 hashes x 4 bands finds every default-band pair") {
    val base = Dedup.minhashLshPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Dedup.minhashLshPairs(docs, numHashes = 16, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.nonEmpty)
    // more bands of the same row width = strictly higher candidate
    // probability; on the planted near-dups it must recover at least
    // the default configuration's pairs (deterministic: md5 hashes)
    assert(base.subsetOf(wide), s"missing: ${base.diff(wide)}")
    intercept[IllegalArgumentException](Dedup.minhashLshPairs(docs, 10, 4))
  }

  test("CacheRegistry: a full dedup+ivf workload leaves no pinned RDDs after clearAll") {
    spark.sharedState.cacheManager.clearCache()  // isolate from other specs
    Dedup.minhashLshPairs(docs).count()
    Dedup.clusters(docs, Dedup.jaccardPairs(docs, 0.2)).count()
    Similarity.knnIvf(emb, 5, 3, 4).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    CacheRegistry.clearAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(","))
  }

  test("incremental ANN maintenance: frozen-centroid batch assignment equals a full re-assignment") {
    import org.apache.spark.sql.functions._
    // fit once on the base corpus, then assign a new batch against the
    // FROZEN centroids (the x125 maintenance path) — for unchanged
    // centroids this must agree exactly with re-assigning everything
    val base = emb.where(col("vec_id") < 400)
    val batch = emb.where(col("vec_id") >= 400)
    assert(batch.count() > 0)
    val (assigned, centroids) = Similarity.kmeansFit(base, 4, 2)
    val fitLabels = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val incr = Similarity.assignCells(batch, centroids)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(incr.keySet.forall(_ >= 400L))
    assert(incr.values.forall(c => c >= 0 && c < 4))
    val full = Similarity.assignCells(emb, centroids)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // base vectors keep the fit's own labels; batch vectors get exactly
    // the incremental assignment — fit-once/assign-new loses nothing
    fitLabels.foreach { case (id, c) => assert(full(id) == c, s"base $id") }
    incr.foreach { case (id, c) => assert(full(id) == c, s"batch $id") }
  }

  test("assignCells with fitted centroids reproduces the fit's own assignment") {
    val (assigned, centroids) = Similarity.kmeansFit(emb, 4, 2)
    val fitLabels = assigned.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val reassigned = Similarity.assignCells(emb, centroids)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(reassigned == fitLabels)
  }

  test("resize stub: stride-4 byte accounting, payload stays distributed") {
    val r = Multimodal.resize(Multimodal.withBmpPayload(docs), 4).collect()
    assert(r.length == docs.count())
    r.foreach { row =>
      val n = row.getLong(2); val m = row.getLong(3)
      assert(m == (n + 3) / 4, s"$n -> $m")
      assert(row.getAs[Array[Byte]](1).length == m)
    }
  }

  test("incremental dedup / contamination: identity and disjoint-split properties") {
    import org.apache.spark.sql.functions.col
    // a batch checked against itself: nothing is new, everything contaminated
    assert(Dedup.incrementalNew(docs, docs).count() == 0)
    assert(Dedup.contamination(docs, docs).count() == docs.count())
    // all-unique corpus split in two: every new doc is new, exact overlap empty
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 =!= 0)
    assert(Dedup.incrementalNew(a, b).count() == a.count())
    assert(Dedup.contamination(a, b).count() == 0)
  }

  test("text stats: ratios bounded, token counts positive") {
    val r = TextStats.stats(docs).collect()
    assert(r.length == docs.count())
    assert(r.forall(_.getLong(1) > 0))
    assert(r.forall(x => x.getLong(3) > 0 && x.getLong(3) <= 10000))
  }

  test("repetition stats: fractions in (0, 10000], bigram <= token bound") {
    val r = TextStats.repetitionStats(docs).collect()
    assert(r.length == docs.count())
    r.foreach { row =>
      val top = row.getLong(2); val bg = row.getLong(3)
      assert(top > 0 && top <= 10000, s"top-token frac $top")
      assert(bg >= 0 && bg <= 10000, s"top-bigram frac $bg")
    }
  }

  test("hash split: deterministic, total, ~80/10/10") {
    val r1 = Sampling.hashSplit(docs, "doc_id").collect().toSeq
    val r2 = Sampling.hashSplit(docs, "doc_id").collect().toSeq
    assert(r1 == r2) // pure function of the key
    val bySplit = r1.groupBy(_.getString(1)).view.mapValues(_.size).toMap
    assert(bySplit.values.sum == docs.count())
    assert(bySplit("train") > bySplit("valid") && bySplit("train") > bySplit("test"))
  }

  test("stratified sample: every stratum sampled at a similar rate") {
    val r = Sampling.stratifiedSample(docs, "source", "doc_id", 64).collect()
    assert(r.length == 20) // 20 sources in the corpus
    r.foreach { row =>
      val rate = row.getLong(3)
      // 64/256 = 25% nominal; strata of 25 docs swing, but stay sane
      assert(rate > 0 && rate < 6000, s"stratum rate $rate")
    }
  }

  test("zorder key: bounded, and neighbors in either dim stay close") {
    val part = Tables.load(spark, dir, "part")
    val r = graft.ext.Layout.partZorder(part).collect()
    assert(r.forall(x => x.getLong(1) >= 0 && x.getLong(1) < (1L << 16)))
    // interleave(1,1)=3, interleave(2,2)=12: z-distance tracks both dims
    import spark.implicits._
    val z = Seq((1, 1), (2, 2), (255, 255)).toDF("a", "b")
      .select(graft.ext.Layout.zorderKey(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), 8).as("z"))
      .collect().map(_.getLong(0))
    assert(z.sameElements(Array(3L, 12L, 65535L)))
  }

  test("scrub redacts urls, emails, and numbers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val in = Seq("visit https://x.io/a?b=1 or mail a.b@c.de x9",
      "no pii here").toDF("s")
    val out = in.select(TextStats.scrub(col("s"))).collect().map(_.getString(0))
    assert(out(0) == "visit <URL> or mail <EMAIL> x<N>")
    assert(out(1) == "no pii here")
  }

  test("bloom-prefiltered incremental dedup equals the exact anti-join") {
    import org.apache.spark.sql.functions.col
    val nw = docs.where(col("doc_id") % 7 === 0)
    val old = docs.where(col("doc_id") % 7 =!= 0)
    val exact = Dedup.incrementalNew(nw, old).collect().toSeq
    // loose filter (high fpp) forces plenty of maybe-dup verifications
    val viaBloom = Dedup.incrementalNewBloom(nw, old, fpp = 0.5).collect().toSeq
    assert(viaBloom == exact)
    // identity check: a batch against itself is fully filtered
    assert(Dedup.incrementalNewBloom(docs, docs).count() == 0)
  }

  test("cosine top-k: scores bounded by x10k, k rows per query, descending") {
    val r = Similarity.cosineTopK(emb, 5, 3).collect()
    assert(r.length == 5 * 3)
    assert(r.forall(x => math.abs(x.getLong(2)) <= 10000))
    r.groupBy(_.getLong(0)).values.foreach { rows =>
      val byRn = rows.sortBy(_.getLong(3)).map(_.getLong(2))
      assert(byRn.sameElements(byRn.sorted(Ordering[Long].reverse)))
    }
  }

  test("ngram overlap: a corpus against itself is fully contaminated") {
    val r = Dedup.ngramOverlap(docs, docs).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getLong(3) == 10000L))
  }

  test("PQ ANN: deterministic, k rows per query, useful recall vs exact kNN") {
    val pq1 = Similarity.knnPQ(emb, 10, 3).collect()
    assert(pq1.length == 10 * 3)
    val pq2 = Similarity.knnPQ(emb, 10, 3).collect()
    assert(pq1.map(_.toString).toSeq == pq2.map(_.toString).toSeq)
    val exact = Similarity.knnQuantized(emb, 10, 3).collect()
    def tops(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val (p, e) = (tops(pq1), tops(exact))
    val recall = p.keys.toSeq.map(q => (p(q) intersect e(q)).size).sum / (10.0 * 3)
    info(f"PQ recall@3 = $recall%.2f")
    assert(recall >= 0.7, f"recall $recall%.2f")
  }

  test("IVF+PQ composed ANN: deterministic, k rows per query, recall holds vs exact kNN") {
    val r1 = Similarity.knnIvfPq(emb, 10, 3).collect()
    assert(r1.length == 10 * 3)
    r1.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(!rows.exists(_.getLong(1) == qid))
    }
    val r2 = Similarity.knnIvfPq(emb, 10, 3).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    val exact = Similarity.knnQuantized(emb, 10, 3).collect()
    def tops(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val (p, e) = (tops(r1), tops(exact))
    val recall = p.keys.toSeq.map(q => (p(q) intersect e(q)).size).sum / (10.0 * 3)
    info(f"IVF+PQ recall@3 = $recall%.2f")
    // must hold the same floor as the unpruned PQ path (x103's guard):
    // the coarse probe may only cost recall where a true neighbor sits
    // in an unprobed cell
    assert(recall >= 0.7, f"recall $recall%.2f")
  }

  test("IVF-PQ index round-trip: a loaded index answers identically to the fresh build") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_annidx_spec")
    try {
      val idx = Similarity.buildIvfPqIndex(emb)
      val fresh = Similarity.searchIvfPq(idx, emb, 10, 3).collect()
      Similarity.saveIvfPqIndex(idx, tmp.toString)
      val loaded = Similarity.loadIvfPqIndex(spark, tmp.toString)
      assert(loaded.subDim == idx.subDim && loaded.m == idx.m &&
        loaded.residual == idx.residual)
      val served = Similarity.searchIvfPq(loaded, emb, 10, 3).collect()
      assert(fresh.map(_.toString).sorted.toSeq ==
        served.map(_.toString).sorted.toSeq)
      // the serve-time plan reads the parquet store: codes come from a
      // file scan (partitioned by ivf_cell), not a recomputed fit
      val plan = Similarity.searchIvfPq(loaded, emb, 10, 3)
        .queryExecution.executedPlan.toString
      assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
        s"loaded-index search did not read the store:\n$plan")
    } finally {
      CacheRegistry.clearAll()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("IVF recall is non-decreasing in nprobe and reaches 1.0 at nprobe = cells") {
    // a fixed operating point (x72's 0.83@3) can't catch a cell-probe
    // bug that helps one nprobe and hurts another; the sweep pins the
    // structural property: candidates grow with nprobe (the probed
    // cells are a prefix of a fixed ranking), and under the shared
    // deterministic total order (dot_q desc, vec_id) a larger candidate
    // set can only move the returned top-k toward the true top-k —
    // so recall must be monotone, and probing every cell IS the
    // brute-force scan (same scoring, same self-exclusion)
    def tops(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    try {
      val exact = tops(Similarity.knnQuantized(emb, 10, 3).collect())
      val recalls = Seq(1, 2, 4, 8).map { np =>
        val p = tops(Similarity.knnIvf(emb, 10, 3, 8, np).collect())
        np -> p.keys.toSeq.map(q => (p(q) intersect exact(q)).size).sum / (10.0 * 3)
      }
      info(recalls.map { case (np, r) => f"recall@$np=$r%.2f" }.mkString(" "))
      recalls.sliding(2).foreach {
        case Seq((_, a), (npB, b)) =>
          assert(b >= a, f"recall dropped at nprobe=$npB: $b%.2f < $a%.2f")
        case _ =>
      }
      assert(recalls.last._2 == 1.0,
        f"nprobe=cells must equal brute force, got ${recalls.last._2}%.2f")
    } finally CacheRegistry.clearAll()
  }

  test("residual IVF-PQ: recall strictly above the raw-vector encoding at identical cost") {
    def tops(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double = {
      val exact = tops(Similarity.knnQuantized(emb, 10, 3).collect())
      val p = tops(rows)
      p.keys.toSeq.map(q => (p(q) intersect exact(q)).size).sum / (10.0 * 3)
    }
    val res1 = Similarity.knnIvfPq(emb, 10, 3, residual = true).collect()
    assert(res1.length == 10 * 3)
    // deterministic across runs (md5-seeded planes, deterministic init)
    val res2 = Similarity.knnIvfPq(emb, 10, 3, residual = true).collect()
    assert(res1.map(_.toString).toSeq == res2.map(_.toString).toSeq)
    val rRes = recallOf(res1)
    val rRaw = recallOf(Similarity.knnIvfPq(emb, 10, 3).collect())
    info(f"IVF+PQ recall@3: residual $rRes%.2f vs raw $rRaw%.2f")
    // residual codebooks quantize a tighter ball: recall must be at
    // least the raw encoding's, and above the x110 0.83 floor
    assert(rRes >= rRaw, f"residual $rRes%.2f < raw $rRaw%.2f")
    assert(rRes > 0.83, f"residual recall $rRes%.2f")
  }

  test("wide simhash extends the narrow sketch; 60-bit banding finds the planted dups") {
    // same md5 nibbles, same majority votes: low 16 bits must agree
    val s16 = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s60 = Dedup.simhashWide(docs, 15).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s16.keySet == s60.keySet)
    assert(s16.forall { case (id, h) => (s60(id) & 0xFFFFL) == h })
    // banded near-dup matching in the 60-bit space still recalls the
    // corpus's planted near-verbatim duplicates
    val pairs = Dedup.simhashNearDups60(docs).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(p => p.getLong(0) < p.getLong(1) && p.getLong(2) <= 3))
    // far fewer accidental candidates than the 16-bit demo space
    val pairs16 = Dedup.simhashNearDups(docs).count()
    assert(pairs.length <= pairs16)
  }

  test("stratifiedSample: keep256 bounds validated; 256 keeps all, 0 keeps none") {
    intercept[IllegalArgumentException](
      Sampling.stratifiedSample(docs, "source", "doc_id", 257).collect())
    intercept[IllegalArgumentException](
      Sampling.stratifiedSample(docs, "source", "doc_id", -1).collect())
    val all = Sampling.stratifiedSample(docs, "source", "doc_id", 256).collect()
    assert(all.forall(r => r.getLong(1) == r.getLong(2) && r.getLong(3) == 10000L))
    val none = Sampling.stratifiedSample(docs, "source", "doc_id", 0).collect()
    assert(none.forall(r => r.getLong(2) == 0L))
  }

  test("bloom dedup handles null-text rows (kept as new, like the anti-join)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // null out one new-batch document's text: its fingerprint is null,
    // which must route to the definitely-new branch, not NPE in the probe
    val nw = docs.where(col("doc_id") % 7 === 0)
      .withColumn("text",
        when(col("doc_id") === 0, lit(null: String)).otherwise(col("text")))
    val old = docs.where(col("doc_id") % 7 =!= 0)
    val exact = Dedup.incrementalNew(nw, old).collect().toSeq
    val viaBloom = Dedup.incrementalNewBloom(nw, old).collect().toSeq
    assert(viaBloom == exact)
    assert(viaBloom.exists(_.getLong(0) == 0L)) // the null-text row is new
  }

  test("bloom sizing runs zero Spark jobs (plan stats, not a counting scan)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val old = docs.where(org.apache.spark.sql.functions.col("doc_id") % 7 =!= 0)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val cap = Dedup.bloomCapacity(
        old.select(org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")).as("fp")))
      Thread.sleep(1000) // listener bus is async; let any job event land
      assert(cap >= 1024L)
      assert(jobs.get() == 0, s"sizing launched ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    // caller-supplied estimate is honored verbatim too (same answer)
    val nw = docs.where(org.apache.spark.sql.functions.col("doc_id") % 7 === 0)
    val viaEstimate =
      Dedup.incrementalNewBloom(nw, old, expectedItems = Some(500L)).collect().toSeq
    assert(viaEstimate == Dedup.incrementalNew(nw, old).collect().toSeq)
  }

  test("embedding simhash near-dup recovers planted perturbed copies, nothing else") {
    import org.apache.spark.sql.functions._
    // plant one true near-dup per vector (deterministic rescale,
    // cos ~0.9999) — the organic corpus tops out at cos ~0.48
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val pert = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) * " +
        "((9500 + (vec_id + i) % 1000) / 10000.0))").as("embedding"))
    val both = base.unionByName(pert)
    val r1 = Similarity.embedSimhashNearDups(both, minCosX10k = 9900L).collect()
    assert(r1.nonEmpty)
    // every found pair is a planted (v, v+1e6) pair with verified cosine
    assert(r1.forall(p => p.getLong(1) == p.getLong(0) + 1000000L), r1.take(5).toSeq)
    assert(r1.forall(p => p.getLong(2) >= 9900 && p.getLong(2) <= 10000))
    // LSH recall at hamming<=3 banding on near-identical sketches: high
    val n = emb.count()
    assert(r1.length >= 0.95 * n, s"recall ${r1.length}/$n")
    val r2 = Similarity.embedSimhashNearDups(both, minCosX10k = 9900L).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    // cross-check one pair's score against a driver-side fold
    val byId = both.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p0 = r1.head
    def qz(v: Seq[Double]) = v.map(x => math.floor(x * 10000).toLong)
    val (qa, qb) = (qz(byId(p0.getLong(0))), qz(byId(p0.getLong(1))))
    val dot = qa.zip(qb).map { case (x, y) => x * y }.sum
    val cos = math.floor(10000.0 * dot / math.sqrt(
      qa.map(x => x * x).sum.toDouble * qb.map(x => x * x).sum.toDouble)).toLong
    assert(cos == p0.getLong(2))
  }

  test("semdedup drops planted near-dups, keeps originals, and is deterministic") {
    import org.apache.spark.sql.functions._
    // same planting as the judged x116: a rescaled copy (cos ~0.9999)
    // of every vector under vec_id + 1e6
    val base = emb.select(col("vec_id"), col("embedding"))
    val pert = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(CAST(x AS DOUBLE) * " +
        "((9500 + (vec_id + i) % 1000) / 10000.0) AS FLOAT))").as("embedding"))
    val both = base.unionByName(pert)
    val r1 = Similarity.semDedup(both, cells = 8, iters = 3,
      minCosX10k = 9900L).collect()
    val n = emb.count()
    val survivors = r1.map(_.getLong(0)).toSet
    // every original survives: it is the smallest id of its dup group,
    // and organic pair cosines top out at ~0.48, far below 0.99
    assert((0L until n).forall(survivors.contains), "an original was dropped")
    // most planted copies land in their original's cluster and are
    // dropped (a copy can only survive if k-means split the pair across
    // cells — rare at cos ~0.9999)
    val keptCopies = survivors.count(_ >= 1000000L)
    assert(keptCopies <= 0.05 * n, s"$keptCopies of $n planted copies survived")
    // deterministic end to end (exact integer k-means + exact verify)
    val r2 = Similarity.semDedup(both, cells = 8, iters = 3,
      minCosX10k = 9900L).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
  }

  test("semdedup survivors are pairwise below the cosine threshold within every cell") {
    import org.apache.spark.sql.functions._
    // the in-suite oracle for rows-only x116: SemDeDup's defining
    // postcondition — no two SURVIVORS in the same cell at or above the
    // threshold (any such pair would mean the victim sweep missed one)
    val base = emb.select(col("vec_id"), col("embedding"))
    val pert = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      expr("transform(embedding, (x, i) -> CAST(CAST(x AS DOUBLE) * " +
        "((9500 + (vec_id + i) % 1000) / 10000.0) AS FLOAT))").as("embedding"))
    val both = base.unionByName(pert)
    val surv = Similarity.semDedup(both, cells = 8, iters = 3,
      minCosX10k = 9900L)
    val se = surv.join(both, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"),
        aggregate(expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"), lit(0L),
          (acc, x) => acc + x * x).as("n2"))
    graft.functions.QuantDot.register(spark)
    val overThreshold = se.as("a").join(se.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .where(floor(lit(10000.0) *
          call_function("quant_dot", col("a.embedding"), col("b.embedding")) /
          sqrt(col("a.n2").cast("double") * col("b.n2").cast("double")))
          .cast("bigint") >= 9900L)
    assert(overThreshold.count() == 0)
  }

  test("x63 HLL estimates stay within 3x the configured rsd of the exact counts") {
    // the raw-estimate invariant behind x63's judged bound column: the
    // HLL estimate must sit inside 3 standard errors of Spark's
    // default rsd (0.05). Checked on the raw aggregates here (the
    // judged query folds this check into its hll_ok boolean, which the
    // DuckDB oracle asserts as TRUE since round 15).
    import org.apache.spark.sql.functions._
    val raw = Tables.load(spark, dir, "events").groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("a"),
        countDistinct(col("user_id")).as("e")).collect()
    assert(raw.nonEmpty)
    raw.foreach { row =>
      val approx = row.getLong(1); val exact = row.getLong(2)
      assert(math.abs(approx - exact) <= math.max(2.0, 3 * 0.05 * exact),
        s"$row")
    }
    // and the judged output itself: every hll_ok true
    val r = graft.SparkEntry.queries("x63_approx_distinct")(spark, dir).collect()
    assert(r.nonEmpty && r.forall(_.getBoolean(2)), r.mkString(";"))
  }

  test("sequence packing matches a driver-side greedy replay") {
    import org.apache.spark.sql.functions._
    val manifest = Pack.packManifest(docs, 256).collect().toSeq
    // replay: same bucket rule, same doc order, same greedy running sum
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).length.toLong))
      .sortBy(_._1)
    def bucketOf(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      "0123456789abcdef".indexOf(f"${md(0) & 0xff}%02x".charAt(0)).toLong
    }
    val expected = rows.groupBy { case (id, _) => bucketOf(id) }.toSeq
      .flatMap { case (bucket, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (id, nTok) =>
          val off = cum; cum += nTok
          (bucket, math.floorDiv(off, 256L), id, nTok)
        }
      }
      .groupBy { case (b, p, _, _) => (b, p) }.toSeq
      .map { case ((b, p), xs) =>
        (b, p, xs.size.toLong, xs.map(_._4).sum, xs.map(_._3).min, xs.map(_._3).max)
      }
      .sortBy { case (b, p, _, _, _, _) => (b, p) }
    val got = manifest.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got == expected)
    // a pack never starts beyond the window boundary: each doc's offset
    // determines its pack, so consecutive packs within a bucket are
    // monotone and dense in token space
    assert(manifest.nonEmpty)
  }

  test("bucketed range join equals the naive inequality join, as an equi-join plan") {
    import org.apache.spark.sql.functions._
    val p = graft.Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        (col("event_id") % 2400).cast("bigint").as("d"))
    val iv = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_orderkey") % 2400).cast("bigint").as("st"))
      .withColumn("en", col("st") + 10)
    // keyed form: same pairs as the naive keyed inequality join
    val bucketed = RangeJoin.bucketed(p, iv,
        p("d"), iv("st"), iv("en"), 4L,
        keyCond = p("user_id") === iv("o_custkey"))
      .select("event_id", "o_orderkey")
    val naive = p.join(iv, p("user_id") === iv("o_custkey") &&
        p("d") >= iv("st") && p("d") <= iv("en"))
      .select("event_id", "o_orderkey")
    val got = bucketed.orderBy("event_id", "o_orderkey").collect().toSeq
    val want = naive.orderBy("event_id", "o_orderkey").collect().toSeq
    assert(got.nonEmpty && got == want)
    assert(!bucketed.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    // KEY-LESS form — where the raw BETWEEN is the nested-loop trap:
    // the bucketed rewrite must still agree AND plan an equi-join
    val bNoKey = RangeJoin.bucketed(p, iv, p("d"), iv("st"), iv("en"), 4L)
      .select("event_id", "o_orderkey")
    val nNoKey = p.join(iv, p("d") >= iv("st") && p("d") <= iv("en"))
      .select("event_id", "o_orderkey")
    val gotNk = bNoKey.orderBy("event_id", "o_orderkey").collect().toSeq
    val wantNk = nNoKey.orderBy("event_id", "o_orderkey").collect().toSeq
    assert(gotNk.nonEmpty && gotNk == wantNk)
    assert(!bNoKey.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    assert(nNoKey.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("range join property: equals the naive join on random intervals, any width") {
    // deterministic pseudo-random fixture (seeded), negative values
    // included — floor-based bucketing must stay exact across zero
    val rnd = new scala.util.Random(42)
    val spark0 = spark
    import spark0.implicits._
    val points = (1 to 300)
      .map(i => (i.toLong, rnd.nextLong(2000) - 1000))
      .toDF("pid", "ts")
    val intervals = (1 to 120).map { i =>
      val s = rnd.nextLong(2000) - 1000
      (i.toLong, s, s + rnd.nextLong(90))
    }.toDF("iid", "st", "en")
    val naive = points.join(intervals,
        points("ts") >= intervals("st") && points("ts") <= intervals("en"))
      .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    assert(naive.nonEmpty)
    for (w <- Seq(1L, 3L, 7L, 100L, 5000L)) {
      val got = RangeJoin.bucketed(points, intervals,
          points("ts"), intervals("st"), intervals("en"), w)
        .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
      assert(got == naive, s"width $w: ${got.size} vs ${naive.size}")
    }
  }

  test("salted join is row-for-row equal to the plain join") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, dir, "events")
      .select("user_id", "event_type", "event_id")
    val dim = graft.Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    val salted = Salting.saltedJoin(ev, dim, "user_id", col("event_id"), 8)
      .orderBy("event_id").collect().map(_.toString).toSeq
    val plain = ev.join(dim, "user_id")
      .orderBy("event_id").collect().map(_.toString).toSeq
    assert(salted.nonEmpty && salted == plain)
  }

  test("salted join does not clobber a user column named like the salt") {
    import org.apache.spark.sql.functions._
    // a pre-existing "__graft_salt_0" column must survive untouched: the
    // operator picks the next free internal name instead (ADVICE r2 —
    // a fixed name silently overwrote user data)
    val ev = graft.Tables.load(spark, dir, "events")
      .select("user_id", "event_id")
      .withColumn("__graft_salt_0", col("event_id") * 2)
    val dim = graft.Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    val out = Salting.saltedJoin(ev, dim, "user_id", col("event_id"), 4)
    assert(out.columns.contains("__graft_salt_0"))
    assert(out.where(col("__graft_salt_0") =!= col("event_id") * 2).count() == 0)
  }

  test("approx profile matches exact rows/nulls; HLL distincts within 15%") {
    val orders = graft.Tables.load(spark, dir, "orders")
    val exact = Profile.profile(orders).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val approx = Profile.profileApprox(orders).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (c, (rows, nulls, dist)) =>
      assert(rows == exact(c)._1 && nulls == exact(c)._2, c)
      val ed = exact(c)._3.toDouble
      assert(math.abs(dist - ed) <= math.max(2.0, 0.15 * ed),
        s"$c: approx $dist vs exact ${exact(c)._3}")
    }
  }

  test("profile counts nulls and distincts per column") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (2, None), (3, Some("a"))).toDF("id", "s")
    val r = Profile.profile(df).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(("id", 3L, 0L, 3L), ("s", 3L, 1L, 1L)))
  }

  test("clusters: convergence rides the checkpoint job — no per-round count action") {
    import spark.implicits._
    // 4-node chain: min-label propagation needs exactly 4 rounds (3 label
    // moves + the fixpoint round), so the loop issues exactly 4 actions
    val docs4 = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("d1", "d2")
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val labels = Dedup.clusters(docs4, chain).collect()
      assert(labels.forall(_.getLong(1) == 1L)) // one component, min label 1
      // listener delivery is async: wait for the 6 checkpoint actions
      // (pairs + initial labels + 4 rounds), then assert at most the
      // ONE pre-loop count ran (the broadcast-gate arc count taken on
      // the materialized pair checkpoint — O(1) per call): convergence
      // itself must still ride the observed metric on the checkpoint
      // job, never a per-round count (which would add O(rounds)
      // actions)
      import scala.jdk.CollectionConverters._
      val deadline = System.currentTimeMillis + 15000
      def seen = actions.asScala.toList
      while (System.currentTimeMillis < deadline &&
             seen.count(_.toLowerCase.contains("checkpoint")) < 6)
        Thread.sleep(50)
      val cs = seen
      assert(cs.count(_.toLowerCase.contains("checkpoint")) == 6, cs.mkString(","))
      assert(cs.count(_ == "count") <= 1, cs.mkString(","))
      // and that count, if present, precedes the loop: no count after
      // the SECOND checkpoint action (pairs, then initial labels)
      val afterLoopStart = cs.drop(
        cs.zipWithIndex.filter(_._1.toLowerCase.contains("checkpoint"))
          .take(2).lastOption.map(_._2 + 1).getOrElse(0))
      assert(!afterLoopStart.contains("count"), cs.mkString(","))
    } finally spark.listenerManager.unregister(listener)
  }

  test("clusters releases superseded frontiers: held RDDs stay O(corpus) during the loop") {
    spark.sharedState.cacheManager.clearCache()
    CacheRegistry.clearAll()
    import spark.implicits._
    // 8-node chain: 8 rounds — without per-round release the registry
    // would hold 2 + 8 checkpointed RDDs at the end; with release it
    // holds only pairs + the live frontier
    val docs8 = (1L to 8L).toDF("doc_id")
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("d1", "d2")
    Dedup.clusters(docs8, chain).collect()
    val held = spark.sparkContext.getPersistentRDDs.size
    assert(held <= 3, s"$held persistent RDDs held after convergence")
    CacheRegistry.clearAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("checkpointed loops release superseded generations: held RDDs do not grow with the rounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def chain(n: Long) = ((1L to n).toDF("doc_id"),
      (1L until n).map(i => (i, i + 1)).toDF("d1", "d2"))
    // (operator, a run of it at a given size); every operator runs more
    // rounds at the larger size, except harmonic centrality (always 3
    // rounds), whose state grows instead
    val ops: Seq[(String, Int => Unit)] = Seq(
      "clusters" -> { n =>
        val (d, p) = chain(n.toLong) // n rounds on an n-node chain
        Dedup.clusters(d, p).collect(); ()
      },
      "harmonicCentralityBounded" -> { n =>
        Graph.harmonicCentralityBounded(chain(n.toLong)._2
            .select(col("d1").as("src"), col("d2").as("dst")),
          Seq(1L).toDF("node")).collect(); ()
      },
      "learnMerges" -> { k => Bpe.learnMerges(docs, "text", k).collect(); () },
      "kCenterSelect" -> { k => Similarity.kCenterSelect(emb, k).collect(); () })
    ops.foreach { case (name, run) =>
      val held = Seq(2, 6).map { n =>
        spark.sharedState.cacheManager.clearCache()
        CacheRegistry.clearAll()
        run(n)
        spark.sparkContext.getPersistentRDDs.size
      }
      assert(held.distinct.size == 1 && held.head <= 3,
        s"$name: ${held.mkString(" vs ")} persistent RDDs held after 2 vs 6")
      CacheRegistry.clearAll()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty, name)
    }
  }

  test("bloomCapacity clamps the missing-stats sentinel; bloom dedup still exact on RDD-backed input") {
    import org.apache.spark.sql.types._
    // LogicalRDD plans have no row count and report the defaultSizeInBytes
    // sentinel (Long.MaxValue) — sizing a Bloom filter off that raw value
    // would exceed BloomFilter's bit cap and throw (ADVICE r3)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def rddDf(rows: Seq[(Long, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)), 2), schema)
    val corpus = rddDf((1L to 50L).map(i => (i, s"corpus doc number $i")))
    assert(corpus.queryExecution.optimizedPlan.stats.rowCount.isEmpty)
    val cap = Dedup.bloomCapacity(
      corpus.select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("fp")))
    assert(cap <= (1L << 31), s"capacity $cap not clamped")
    val batch = rddDf(Seq((100L, "corpus doc number 7"), (101L, "genuinely new")))
    val got = Dedup.incrementalNewBloom(batch, corpus).collect().map(_.getLong(0))
    val want = Dedup.incrementalNew(batch, corpus).collect().map(_.getLong(0))
    assert(got.toSeq == want.toSeq && got.toSeq == Seq(101L))
  }

  test("range join fails loudly on inverted and bucket-explosive intervals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val points = Seq(5L).toDF("d")
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    val inverted = Seq((10L, 2L)).toDF("st", "en")
    val e1 = intercept[Exception] {
      RangeJoin.bucketed(points, inverted, points("d"),
        inverted("st"), inverted("en"), 4L).count()
    }
    assert(msgs(e1).exists(_.contains("end < start")), msgs(e1).mkString("|"))
    val huge = Seq((0L, Long.MaxValue / 4)).toDF("st", "en")
    val e2 = intercept[Exception] {
      RangeJoin.bucketed(points, huge, points("d"),
        huge("st"), huge("en"), 4L).count()
    }
    assert(msgs(e2).exists(_.contains("raise bucketWidth")), msgs(e2).mkString("|"))
    intercept[IllegalArgumentException] {
      RangeJoin.bucketed(points, huge, points("d"), huge("st"), huge("en"), 0L)
    }
  }

  test("curation survivors: train-only, quality-gated, fingerprint-unique, uncontaminated") {
    import org.apache.spark.sql.functions._
    val surv = Curation.survivors(docs).cache()
    try {
      assert(surv.count() > 0)
      // train split only
      assert(surv.where(col("source") === "src19").count() == 0)
      // every survivor passes the quality gate
      val rejected = TextStats.qualityFilter(docs.where(col("source") =!= "src19"))
        .where(!col("keep")).select("doc_id")
      assert(surv.join(rejected, "doc_id").count() == 0)
      // normalized fingerprints are unique after exact dedup
      val fps = surv.select(Dedup.fingerprint(col("text")).as("fp"))
      assert(fps.count() == fps.distinct().count())
      // no survivor's sketch collides with the held-out eval split
      assert(Dedup.contaminationFuzzy(surv,
        docs.where(col("source") === "src19")).count() == 0)
      // and the packed manifest accounts for every survivor exactly once
      val m = Curation.curate(docs, 256)
      assert(m.agg(sum("n_docs")).head.getLong(0) == surv.count())
    } finally { surv.unpersist(); CacheRegistry.clearAll(); () }
  }

  test("curation with LM gate: survivors quality-gated AND outside the perplexity tail") {
    import org.apache.spark.sql.functions._
    val surv = Curation.survivors(docs, lmGate = true).cache()
    try {
      assert(surv.count() > 0)
      // the gated pipeline only ever removes: every gated survivor also
      // passes the heuristic stage-1 gate
      val train = docs.where(col("source") =!= "src19")
      val q1 = TextStats.qualityFilter(train).where(col("keep")).select("doc_id")
      assert(surv.join(q1, Seq("doc_id"), "left_anti").count() == 0)
      // no gated survivor sits in the LM tail bucket of the gate
      // trained on the stage-1 survivors (the stage's own input)
      val base1 = train.join(q1, "doc_id")
      val tail = LmQuality.lmQualityGate(base1)
        .where(!col("keep")).select("doc_id")
      assert(surv.join(tail, "doc_id").count() == 0)
      // and it filters strictly relative to the ungated pipeline's
      // stage-1 frame: gated survivor count never exceeds base1
      assert(surv.count() <= base1.count())
    } finally { surv.unpersist(); CacheRegistry.clearAll(); () }
  }

  test("pack segments: no pack exceeds the window; every token lands exactly once") {
    import org.apache.spark.sql.functions._
    val window = 64
    val segs = Pack.packSegments(docs, window).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(segs.nonEmpty)
    // split-and-carry really engages: some doc spans multiple packs
    assert(segs.exists(_._4 > 1))
    // capacity: per (bucket, pack) token total never exceeds the
    // window, and only each bucket's LAST pack may be partial
    val byPack = segs.groupBy(s => (s._1, s._2))
      .view.mapValues(_.map(_._6).sum).toMap
    byPack.foreach { case (bp, tot) =>
      assert(tot <= window, s"$bp overflows: $tot") }
    val lastPack = byPack.keys.groupBy(_._1)
      .view.mapValues(_.map(_._2).max).toMap
    byPack.foreach { case ((b, p), tot) =>
      if (p != lastPack(b)) assert(tot == window, s"($b,$p) partial: $tot") }
    // conservation: each document's segments stitch back to exactly
    // its token range — contiguous, non-overlapping, complete
    val nTok = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    segs.groupBy(_._3).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._5 == 0L, s"doc $doc starts at ${sorted.head._5}")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 + a._6 == b._5,
          s"doc $doc gap/overlap between segments")
        case _ =>
      }
      assert(sorted.map(_._6).sum == nTok(doc), s"doc $doc token loss")
    }
  }

  test("stupid backoff: scoring the training corpus itself never backs off") {
    import org.apache.spark.sql.functions._
    val train = docs.where(col("source") =!= "src19")
    val self = LmQuality.stupidBackoffScore(train, train).collect()
    assert(self.nonEmpty)
    // every trigram of the train corpus is in the model -> hit
    self.foreach(r => assert(r.getLong(2) == r.getLong(1),
      s"doc ${r.getLong(0)}: ${r.getLong(2)} hits of ${r.getLong(1)}"))
    // held out, the backoff branch genuinely fires
    val held = LmQuality.stupidBackoffScore(train,
      docs.where(col("source") === "src19")).collect()
    assert(held.exists(r => r.getLong(2) < r.getLong(1)))
    CacheRegistry.clearAll()
  }

  test("cdc: applyDiff(v1, diff(v1, v2)) == v2 for deletes, updates, inserts, no-ops") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val v1 = docs.select(col("doc_id").as("k"), col("n_chars").as("v"))
    // several change shapes, including the empty diff and disjoint keys
    val variants: Seq[org.apache.spark.sql.DataFrame] = Seq(
      v1,                                                    // no change
      v1.where(col("k") % 3 === 0),                          // deletes only
      v1.select(col("k"), (col("v") * 2 + 1).as("v")),       // all updated
      v1.where(col("k") % 2 === 0)                           // mixed +
        .select(col("k"), when(col("k") % 4 === 0, col("v") + 7)
          .otherwise(col("v")).as("v"))
        .unionByName(Seq((-5L, 42L), (-6L, 0L)).toDF("k", "v")),
      Seq((-1L, 1L), (-2L, 2L)).toDF("k", "v"))              // fully replaced
    variants.foreach { v2 =>
      val got = Cdc.applyDiff(v1, Cdc.diff(v1, v2, "k", "v"), "k", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = v2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    }
  }

  test("cdc: NULL values classify by row presence, and the apply identity holds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // every NULL shape at once: NULL unchanged (1), x -> NULL (2),
    // NULL -> x (3), NULL removed (4), NULL added (5), plus plain
    // changed (6) and a non-numeric value column (string)
    val v1 = Seq(1L -> Option.empty[String], 2L -> Some("a"),
      3L -> Option.empty[String], 4L -> Option.empty[String],
      6L -> Some("x")).toDF("k", "v")
    val v2 = Seq(1L -> Option.empty[String], 2L -> Option.empty[String],
      3L -> Some("b"), 5L -> Option.empty[String],
      6L -> Some("y")).toDF("k", "v")
    val d = Cdc.diff(v1, v2, "k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added", 6L -> "changed"))
    val got = Cdc.applyDiff(v1, Cdc.diff(v1, v2, "k", "v"), "k", "v")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val want = v2.collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == want)
  }

  test("rollup: mean truncates toward zero for negative totals, like both engines' div") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // values summing to a negative total with a nonzero remainder:
    // -3.50 cents-sum over 2 rows -> -350 div 2 = -175 (exact), and
    // -3.51 over 2 -> total -351, div truncates to -175 (floor would
    // give -176 and diverge from duckdb 1.0.0's `//`)
    val batch = Seq(("a", -1.00), ("a", -2.51),
      ("b", -1.00), ("b", -2.50)).toDF("k", "value")
    val m = Rollup.withMean(
      Rollup.merge("k", Rollup.partials(batch, "k", col("value"))), "k")
      .collect().map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(m == Map("a" -> -175L, "b" -> -175L))
  }

  test("temperature mix rejects keys without a lossless string round-trip") {
    import org.apache.spark.sql.functions._
    val bad = docs.select(col("source"),
      (col("doc_id") / 2.0).as("fkey"))
    val e = intercept[IllegalArgumentException](
      Sampling.temperatureMix(bad, "source", "fkey", 10L))
    assert(e.getMessage.contains("integral or string"))
    // string keys are first-class: same picks as the long-key run
    val viaString = Sampling.temperatureMix(
      docs.select(col("source"), col("doc_id").cast("string").as("doc_id")),
      "source", "doc_id", 100L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val viaLong = Sampling.temperatureMix(docs, "source", "doc_id", 100L)
      .collect().map(r => (r.getString(0), r.getLong(1).toString)).toSet
    assert(viaString == viaLong && viaString.nonEmpty)
    val tooBig = intercept[IllegalArgumentException](
      Sampling.temperatureMix(docs, "source", "doc_id", (1L << 22) + 1))
    assert(tooBig.getMessage.contains("budget"))
  }

  test("bottom-k hash agg: a near-Int.MaxValue k neither overflows nor re-sorts per row") {
    // 4 * k would overflow Int; the Long-safe threshold must keep the
    // winning set correct and the buffer append-only between prunes
    val agg = new graft.functions.BottomKHashAgg(Int.MaxValue / 2)
    val items = (0 until 1000).map(i =>
      graft.functions.HashedKey(f"h$i%04d", s"k$i"))
    val buf = scala.util.Random.shuffle(items)
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == items)
  }

  test("bpe: learned merges equal an independent python reimplementation on sf0.001") {
    // ground truth computed OUTSIDE Spark and DuckDB (plain python BPE
    // over the same [a-z0-9]+ token stream, tie-break cnt DESC, l, r)
    val got = Bpe.learnMerges(docs, "text", 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    val want = Seq((1, "e", "r", 4650L), (2, "o", "r", 2880L),
      (3, "i", "n", 2858L), (4, "o", "w", 2763L), (5, "s", "t", 2721L),
      (6, "l", "u", 1928L), (7, "a", "r", 1873L), (8, "p", "ar", 1873L))
    assert(got.toSeq == want)
  }

  test("bpe: the merge fold is left-to-right non-overlapping, and exhaustion stops early") {
    import spark.implicits._
    // "aaaa" must segment to [aa][aa] after merging (a,a) — an
    // overlapping fold would produce [aa][a][a] and a different
    // second-round pair count; a single-char corpus exhausts after
    // its final possible merge instead of looping to k
    val tiny = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m = Bpe.learnMerges(tiny, "text", 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("bpe encode: pieces shrink monotonically with merges, bounded by chars and tokens") {
    import org.apache.spark.sql.functions._
    val m = Bpe.learnMerges(docs, "text", 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    def m2 (d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e0 = m2(Bpe.encodePieces(docs, "text", Seq.empty))
    val e4 = m2(Bpe.encodePieces(docs, "text", m.take(4)))
    val e8 = m2(Bpe.encodePieces(docs, "text", m))
    // zero merges: one piece per character of the token stream
    val chars = docs.select(col("doc_id"), expr(
        "aggregate(transform(regexp_extract_all(lower(text), '[a-z0-9]+', 0)," +
          " w -> length(w)), 0L, (a, x) -> a + x)").as("nc"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    e0.foreach { case (id, (_, p)) => assert(p == chars(id)) }
    // merges only ever shrink, never below one piece per token
    e0.keys.foreach { id =>
      assert(e0(id)._2 >= e4(id)._2 && e4(id)._2 >= e8(id)._2)
      assert(e8(id)._2 >= e8(id)._1)
    }
    assert(e0.exists { case (id, (_, p)) => p > e8(id)._2 })
  }

  test("k-center select: equals an independent in-memory greedy; pick distances never increase") {
    import org.apache.spark.sql.functions._
    val got = Similarity.kCenterSelect(emb, 6).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // independent reimplementation over the collected vectors
    val vs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong))
      .sortBy(_._1)
    def dist(a: Seq[Long], b: Seq[Long]): Long = {
      val dq = a.zip(b).map { case (x, y) => x * y }.sum
      val n2 = (v: Seq[Long]) => v.map(x => x * x).sum
      10000L - math.floor(10000.0 * dq /
        math.sqrt(n2(a).toDouble * n2(b).toDouble)).toLong
    }
    var sel = Vector((1, vs.head._1, -1L))
    var mind = vs.map { case (id, v) => id -> dist(v, vs.head._2) }.toMap
    for (round <- 2 to 6) {
      val (pid, pd) = mind.filterNot(kv => sel.exists(_._2 == kv._1))
        .toSeq.maxBy { case (id, d) => (d, -id) }
      sel :+= ((round, pid, pd))
      val pv = vs.find(_._1 == pid).get._2
      mind = mind.map { case (id, d) =>
        id -> math.min(d, dist(vs.find(_._1 == id).get._2, pv)) }
    }
    assert(got == sel)
    // greedy max-min distances are non-increasing
    val ds = got.drop(1).map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b })
    // k beyond the corpus stops early instead of failing
    val tiny = emb.where(col("vec_id") < 3)
    assert(Similarity.kCenterSelect(tiny, 10).count() == 3)
  }

  test("source overlap matrix: conserves the pair count, normalized unordered") {
    import org.apache.spark.sql.functions._
    val pairs = Dedup.jaccardPairs(docs, 0.2, maxDocFreq = Some(2))
    val m = Dedup.sourceOverlap(docs, pairs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m.map(_._3).sum == pairs.count())
    assert(m.forall { case (a, b, _) => a <= b })
  }

  test("matched controls: brute-force nearest within stratum, controls never targets") {
    import org.apache.spark.sql.functions._
    val got = Sampling.matchedControls(docs,
      col("source") === "src19", "n_chars", "lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    val all = docs.select(col("lang"), col("doc_id"), col("n_chars"),
        (col("source") === "src19").as("is_t")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val targets = all.filter(_._4)
    assert(got.length == targets.length && got.nonEmpty)
    got.foreach { case (lang, tid, tcv, cid, ccv) =>
      val ctrls = all.filter(c => c._1 == lang && !c._4)
      if (ctrls.isEmpty) assert(cid.isEmpty)
      else {
        val c = ctrls.find(_._2 == cid.get).get
        assert(!c._4 && c._3 == ccv.get)
        // no other control is strictly nearer by covariate gap
        val best = ctrls.map(x => math.abs(x._3 - tcv)).min
        assert(math.abs(c._3 - tcv) == best, s"target $tid")
      }
    }
  }

  test("vocab growth: conserves the distinct n-gram count, cumulative monotone") {
    import org.apache.spark.sql.functions._
    val g = TextStats.vocabGrowth(docs, 10L, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    val total = docs.select(col("doc_id"),
        TextStats.tokensCol(col("text")).as("t"))
      .select(explode(expr(
        "CASE WHEN size(t) < 3 THEN array() ELSE transform(" +
          "sequence(1, size(t) - 2), i -> array_join(slice(t, i, 3), ' ')) END"))
        .as("w"))
      .select("w").distinct().count()
    assert(g.map(_._2).sum == total && g.last._3 == total)
    assert(g.zip(g.tail).forall { case (a, b) => a._3 < b._3 && a._1 < b._1 })
    // every bucket's cumulative equals the running sum of new tokens
    assert(g.scanLeft(0L)(_ + _._2).tail.zip(g.map(_._3))
      .forall { case (a, b) => a == b })
  }

  test("quota mix: hits the budget exactly, each stratum within 1 of its exact share") {
    import org.apache.spark.sql.functions._
    val n = docs.count()
    for (b <- Seq(1L, 7L, 23L, n, n + 50)) {
      val sel = Sampling.quotaMix(docs, "source", "doc_id", b)
      assert(sel.count() == math.min(b, n), s"budget $b")
    }
    val b = 23L
    val got = Sampling.quotaMix(docs, "source", "doc_id", b)
      .groupBy("source").agg(count(lit(1)).as("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cs = docs.groupBy("source").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    cs.foreach { case (s, c) =>
      val exact = b.toDouble * c / n
      val k = got.getOrElse(s, 0L).toDouble
      assert(k >= math.floor(exact) && k <= math.floor(exact) + 1,
        s"source $s: $k vs exact $exact")
    }
  }

  test("distribution match: per-bin counts equal the independently-computed quotas") {
    import org.apache.spark.sql.functions._
    val b = 40L
    val rows = Sampling.distributionMatch(docs,
      col("source") === "src19", "n_chars", "doc_id", b).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // never a target row, within budget
    val tgt = docs.where(col("source") === "src19")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.forall(r => !tgt.map(_._1).contains(r._2)))
    // independent quota replication: decile edges from the target by
    // the percentile_disc rule (smallest value at cum prob >= q),
    // bins by #edges-below, largest-remainder seats
    val cvs = tgt.map(_._2).sorted
    val edges = (1 until 10).map { i =>
      cvs(math.ceil(i / 10.0 * cvs.length).toInt - 1) }
    def bin(cv: Long) = edges.count(cv > _).toLong
    val tc = tgt.map(t => bin(t._2)).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val t = tc.values.sum
    val q0 = tc.map { case (k, c) => k -> (b * c / t, b * c % t) }
    val spare = (b - q0.values.map(_._1).sum).toInt
    val seats = q0.toSeq.sortBy { case (k, (_, rem)) => (-rem, k) }
      .take(spare).map(_._1).toSet
    val quota = q0.map { case (k, (q, _)) =>
      k -> (q + (if (seats(k)) 1L else 0L)) }
    val pool = docs.where(col("source") =!= "src19")
      .select(col("n_chars")).collect().map(r => bin(r.getLong(0)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    quota.foreach { case (k, q) =>
      val expect = math.min(q, pool.getOrElse(k, 0L))
      assert(got.getOrElse(k, 0L) == expect, s"bin $k: $got vs quota $quota")
    }
    // and every selected row really falls in its claimed bin
    assert(rows.forall { case (bn, _, cv) => bin(cv) == bn })
  }

  test("cluster-safe split: near-dup pairs never straddle train/valid/test") {
    import org.apache.spark.sql.functions._
    val pairs = Dedup.jaccardPairs(docs, 0.2, maxDocFreq = Some(2))
    val split = Sampling.clusterSafeSplit(Dedup.clusters(docs, pairs), "doc_id")
    assert(split.count() == docs.count())
    // one split per cluster, and the corpus still uses several splits
    assert(split.groupBy("cluster_id")
      .agg(countDistinct("split").as("k")).where(col("k") > 1).count() == 0)
    assert(split.select("split").distinct().count() > 1)
    // hence no near-dup candidate pair straddles a split boundary
    val s1 = split.select(col("doc_id").as("d1"), col("split").as("s1"))
    val s2 = split.select(col("doc_id").as("d2"), col("split").as("s2"))
    assert(pairs.join(s1, "d1").join(s2, "d2")
      .where(col("s1") =!= col("s2")).count() == 0)
  }

  test("rank fusion: ranks are 1..n permutations, invariant to repartitioning") {
    import org.apache.spark.sql.functions._
    val sig = docs.select(col("doc_id"), col("n_chars"))
    val f1 = TextStats.rankFusion(sig, "doc_id", Seq(("n_chars", true)))
    val f2 = TextStats.rankFusion(sig.repartition(13), "doc_id",
      Seq(("n_chars", true)))
    assert(f1.collect().toSeq == f2.collect().toSeq)
    val n = sig.count()
    assert(f1.select("rank_n_chars").distinct().count() == n)
    val mm = f1.agg(min("rank_n_chars"), max("rank_n_chars")).head
    assert(mm.getLong(0) == 1L && mm.getLong(1) == n)
    // single-signal borda degenerates to the rank itself
    assert(f1.where(col("borda") =!= col("rank_n_chars")).count() == 0)
  }

  test("pagerank: hand-computed path graph, and repartition invariance") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // undirected path a - b - c, scale 100, one round:
    //   init = 100 div 3 = 33, base = (33*15) div 100 = 4
    //   a: c_in = 33 div 2 = 16      -> 4 + (85*16) div 100 = 17
    //   b: c_in = 33 + 33 = 66       -> 4 + (85*66) div 100 = 60
    //   c: symmetric with a          -> 17
    val und = Seq("a" -> "b", "b" -> "c")
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.pageRank(edges, 1, scale = 100L).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("a" -> 17L, "b" -> 60L, "c" -> 17L))
    // integer arithmetic makes the full run partitioning-independent
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
    val sym = cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
    val a = Graph.pageRank(sym, 3).collect().toSeq
    val b = Graph.pageRank(sym.repartition(17), 3).collect().toSeq
    assert(a == b && a.nonEmpty)
    // the over-cap path (no dictionary, no broadcast hints) on the same
    // string ids is row-identical to the dictionary path
    val c = Graph.pageRank(sym, 3, 1000000000000L, 0L).collect().toSeq
    assert(a == c)
  }

  test("graph loops: string ids = long ids = over-cap path on a directed graph with sinks") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    // 4 is a sink: the only node that is never the source of an arc
    val arcs = Seq(0L -> 1L, 1L -> 0L, 0L -> 2L, 1L -> 3L, 3L -> 4L,
      2L -> 4L, 3L -> 1L)
    val longs = arcs.toDF("src", "dst")
    val strs = arcs.map { case (a, b) => (s"v$a", s"v$b") }.toDF("src", "dst")
    // node and label columns compared as strings: N <-> vN
    def canon(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(r => r.schema.fieldNames.toSeq.map { f =>
        (f, r.getAs[Any](f)) match {
          case ("node" | "label", l: Long) => s"v$l"
          case (_, v) => v
        }
      })
    // (long ids, string ids) x (default cap, cap forced to 0)
    def paths(op: (DataFrame, Long) => DataFrame): Seq[Seq[Seq[Any]]] =
      for (e <- Seq(longs, strs); cap <- Seq(Graph.BroadcastNodeCap, 0L))
        yield canon(op(e, cap))
    def allEqual(ps: Seq[Seq[Seq[Any]]]): Unit =
      ps.foreach(p => assert(p == ps.head && p.nonEmpty, ps.mkString("\n")))

    // one round by hand: N = |src| = 4, init = 2.5e11, base = 3.75e10;
    // every arc counts toward out-degree, 4 takes no score
    val one = paths((e, cap) => Graph.pageRank(e, 1, 1000000000000L, cap))
    allEqual(one)
    assert(one.head == Seq(Seq("v0", 143750000000L), Seq("v1", 250000000000L),
      Seq("v2", 143750000000L), Seq("v3", 143750000000L)))
    allEqual(paths((e, cap) => Graph.pageRank(e, 3, 1000000000000L, cap)))
    // seed 4 is not a source node, so only seed 1 teleports
    allEqual(paths { (e, cap) =>
      val seeds = if (e eq longs) Seq(1L, 4L).toDF("node")
        else Seq("v1", "v4").toDF("node")
      Graph.personalizedPageRank(e, seeds, 3, 1000000000000L, cap)
    })
    allEqual(paths((e, cap) => Graph.labelPropagation(e, 3, cap)))

    import org.apache.spark.sql.functions.col
    // harmonic centrality symmetrizes the arcs into the 5-cycle
    // 0-1-3-4-2-0: every probe has two nodes at each of distances 1, 2
    val harmonic = Seq(longs -> Seq(0L, 2L, 4L, 9L).toDF("node"),
      strs -> Seq("v0", "v2", "v4", "v9").toDF("node"))
      .map { case (e, probes) =>
        canon(Graph.harmonicCentralityBounded(e, probes)) }
    allEqual(harmonic)
    assert(harmonic.head == Seq("v0", "v2", "v4").map(v =>
      Seq(v, 2L, 2L, 0L, 3000L)))

    // min-label clusters, cold and warm-started: zero-padded string ids
    // sort like the longs, so the min label and the row order agree
    def pad(l: Long) = f"n$l%02d"
    def ids(str: Boolean, ps: Seq[(Long, Long)]) =
      if (str) ps.map { case (a, b) => (pad(a), pad(b)) }.toDF("d1", "d2")
      else ps.toDF("d1", "d2")
    def docIds(str: Boolean) =
      if (str) (0L to 11L).map(pad).toDF("doc_id")
      else (0L to 11L).toDF("doc_id")
    def canonIds(df: DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq.map {
        case l: Long => pad(l)
        case v => v
      })
    val ps = Seq(3L -> 2L, 2L -> 1L, 1L -> 0L, 5L -> 6L, 7L -> 9L,
      9L -> 8L, 11L -> 10L)
    val clustered = Seq(false, true).flatMap { str =>
      val (d, p) = (docIds(str), ids(str, ps))
      val prior = Dedup.clusters(d, ids(str, Seq(3L -> 2L, 5L -> 6L)))
      val identity = d.select(col("doc_id"), col("doc_id").as("cluster_id"))
      Seq(Dedup.clusters(d, p), Dedup.clustersWarmStart(d, p, prior)) ++
        Seq(identity, prior).map(init =>
          Dedup.propagateMinLabels(p, init, 0L)._1)
    }.map(canonIds)
    allEqual(clustered)
    assert(clustered.head == Seq(0, 0, 0, 0, 4, 5, 5, 7, 7, 7, 10, 10)
      .zipWithIndex.map { case (c, i) => Seq(pad(i.toLong), pad(c.toLong)) })
  }

  test("importance select: top-quartile semantics and target-slice pull") {
    import org.apache.spark.sql.functions._
    val sel = LmQuality.importanceSelect(docs,
      col("source").isin("src0", "src1", "src2")).cache()
    val n = sel.count()
    val kept = sel.where(col("keep")).count()
    // threshold keeps AT LEAST a quarter, and removing its tie class
    // would drop below a quarter (maximal threshold)
    assert(kept >= (n + 3) / 4)
    val tMin = sel.where(col("keep")).agg(min("wpt_cb")).head.getLong(0)
    assert(kept - sel.where(col("wpt_cb") === tMin).count() < (n + 3) / 4)
    // the selection pulls toward the target: target docs are kept at a
    // strictly higher rate than the rest of the pool
    val tgt = docs.select(col("doc_id"),
      col("source").isin("src0", "src1", "src2").as("is_t"))
    val rates = sel.join(tgt, "doc_id").groupBy("is_t")
      .agg(avg(col("keep").cast("double")).as("rate"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(rates(true) > rates(false))
    sel.unpersist()
    ()
  }

  test("image near-dup: finds exactly the same-group pairs, never across groups") {
    import org.apache.spark.sql.functions._
    val sub = docs.where(col("doc_id") % 10 < 2)
    val pairs = Multimodal.imageNearDup(sub, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty)
    // every reported pair is within-group and within threshold...
    pairs.foreach { case (a, b, d) =>
      assert(a % 8 == b % 8 && d <= 8, s"($a,$b,$d)") }
    // ...and recall is exact: every within-group pair is reported —
    // the <= 3-band hamming budget guarantees a clean LSH band
    val ids = sub.select("doc_id").collect().map(_.getLong(0))
    val expected = (for {
      a <- ids; b <- ids if a < b && a % 8 == b % 8
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expected)
  }

  test("audio near-dup: finds exactly the same-group pairs, never across groups") {
    import org.apache.spark.sql.functions._
    val sub = docs.where(col("doc_id") % 10 < 2)
    val pairs = Multimodal.audioNearDup(sub, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, d) =>
      assert(a % 8 == b % 8 && d <= 8, s"($a,$b,$d)") }
    // recall exact: two flipped adjacent bits per doc corrupt at most
    // 4 of the 8 bands, so a clean band always survives
    val ids = sub.select("doc_id").collect().map(_.getLong(0))
    val expected = (for {
      a <- ids; b <- ids if a < b && a % 8 == b % 8
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expected)
  }

  test("label centroids: |labels| x dim rows, exact sums match a direct fold") {
    val r = Similarity.labelCentroids(emb).collect()
    val labels = emb.select("label").distinct().count()
    assert(r.length == labels * 64)
    // cross-check one cell against a driver-side fold
    val l0p1 = r.find(x => x.getInt(0) == 0 && x.getInt(1) == 1).get
    val direct = emb.collect()
      .filter(_.getInt(2) == 0)
      .map(row => math.floor(
        row.getSeq[Float](1).head.toDouble * 10000).toLong)
    assert(l0p1.getLong(3) == direct.sum)
    assert(l0p1.getLong(2) == direct.length)
  }

  test("block dedup: duplicated blocks keep only their first occurrence; full copies empty out") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 8-token blocks A, B, C; doc1 = A B, doc2 = B C (B duplicates
    // doc1's), doc3 = A B (full copy of doc1 — nothing survives)
    def blk(p: String) = (1 to 8).map(i => s"$p$i").mkString(" ")
    val (a, b, c) = (blk("a"), blk("b"), blk("c"))
    val corpus = Seq(
      (1L, s"$a $b"), (2L, s"$b $c"), (3L, s"$a $b"))
      .toDF("doc_id", "text")
    val got = Dedup.blockDedup(corpus, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)))).toSeq
    def m(s: String) = Some(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(got == Seq(
      (1L, 2L, 2L, m(s"$a $b")),   // first occurrence of A and B
      (2L, 2L, 1L, m(c)),          // B deduped away, C survives
      (3L, 2L, 0L, None)))         // every block seen before
  }

  test("block dedup: partial tail blocks dedup by exact text like any other block") {
    import spark.implicits._
    // 10 tokens = one full block + one 2-token tail; the tail of doc1
    // equals doc2's tail but doc2's FULL block differs -> only the tail
    // dedups
    def blk(p: String) = (1 to 8).map(i => s"$p$i").mkString(" ")
    val corpus = Seq(
      (1L, s"${blk("a")} t1 t2"), (2L, s"${blk("b")} t1 t2"))
      .toDF("doc_id", "text")
    val got = Dedup.blockDedup(corpus, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 2L), (2L, 2L, 1L)))
  }

  test("block novelty: only corpus-unseen blocks survive; fully-seen docs report zero") {
    import spark.implicits._
    def blk(p: String) = (1 to 8).map(i => s"$p$i").mkString(" ")
    val (a, b, c) = (blk("a"), blk("b"), blk("c"))
    val corpus = Seq((1L, s"$a $b")).toDF("doc_id", "text")
    val batch = Seq((10L, s"$a $c"), (11L, s"$a $b")).toDF("doc_id", "text")
    val got = Dedup.blockNovelty(batch, corpus, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)))).toSeq
    def m(s: String) = Some(java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(got == Seq(
      (10L, 2L, 1L, m(c)),    // A already in the corpus, C is new
      (11L, 2L, 0L, None)))   // a full re-crawl: nothing novel
  }

  test("Misra-Gries: candidate superset + undercount bound hold under arbitrary merge order") {
    // zipf-ish stream over 1000 distinct items, deterministic seed
    val rnd = new scala.util.Random(42)
    val n = 20000
    val stream = Vector.fill(n) {
      val r = rnd.nextDouble()
      if (r < 0.5) s"hot${rnd.nextInt(5)}"          // 5 heavy items
      else s"tail${rnd.nextInt(1000)}"
    }
    val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cap = 64
    val mg = new graft.functions.MisraGries(cap)
    // simulate 7 partitions reduced independently, merged in a shuffled
    // order — the distributed execution shape
    val parts = stream.grouped(n / 7 + 1).toSeq.map(
      _.foldLeft(mg.zero)(mg.reduce))
    val sketch = rnd.shuffle(parts).reduce(mg.merge)
    assert(sketch.size <= cap)
    val bound = n.toLong / (cap + 1)
    exact.foreach { case (k, cnt) =>
      // every counter undercounts by at most n/(cap+1)...
      sketch.get(k).foreach(est =>
        assert(est <= cnt && cnt - est <= bound, s"$k: $est vs $cnt"))
      // ...and items above the bound cannot have been dropped
      if (cnt > bound) assert(sketch.contains(k), s"heavy $k dropped")
    }
  }

  test("temperature mix: integer targets honored exactly per stratum, never oversampled") {
    import org.apache.spark.sql.functions._
    val budget = 200L
    val got = Sampling.temperatureMix(docs, "source", "doc_id", budget)
      .groupBy("source").agg(count(lit(1)).as("picked"))
    // expected targets recomputed independently on the driver
    val raw = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = raw.map { case (s, c) => s -> math.floor(math.sqrt(c.toDouble)).toLong }
    val wTot = w.values.sum
    val expect = w.map { case (s, ww) =>
      s -> math.min(budget * ww / wTot, raw(s)) }
    val gotMap = got.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    expect.foreach { case (s, e) =>
      if (e > 0) assert(gotMap(s) == e, s"$s: ${gotMap.get(s)} vs $e")
      else assert(!gotMap.contains(s))
    }
    assert(gotMap.values.sum <= budget)
  }

  test("reproducibility: epoch shuffle, LM gate and temperature mix are repartition-invariant") {
    import org.apache.spark.sql.functions._
    // the "reproducible across cluster sizes" claim, tested directly:
    // a different physical partitioning must not move a single row
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val re = docs.repartition(7)
    try {
      assert(rows(Sampling.epochShuffle(docs, "doc_id", 2)) ==
             rows(Sampling.epochShuffle(re, "doc_id", 2)))
      assert(rows(LmQuality.lmQualityGate(docs)) ==
             rows(LmQuality.lmQualityGate(re)))
      assert(rows(Sampling.temperatureMix(docs, "source", "doc_id", 100L)) ==
             rows(Sampling.temperatureMix(re, "source", "doc_id", 100L)))
    } finally CacheRegistry.clearAll()
  }

  test("token budget mix: every stratum stops within one document of its token target") {
    import org.apache.spark.sql.functions._
    val budget = 3000L
    val got = Sampling.tokenBudgetMix(docs, "source", "doc_id", "text", budget)
      .groupBy("source").agg(sum("n_tok").as("tok"), max("n_tok").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // targets recomputed independently on the driver
    val raw = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = raw.map { case (s, c) => s -> math.floor(math.sqrt(c.toDouble)).toLong }
    val wTot = w.values.sum
    got.foreach { case (s, (tok, mx)) =>
      val target = budget * w(s) / wTot
      // admission is running-sum-at-start < target: the selection can
      // overshoot only by the tail of its last admitted document
      assert(tok - mx < target, s"$s: $tok tokens vs target $target")
    }
    assert(got.values.map(_._1).sum > 0)
  }

  test("x129 approx median tier: estimate inside the sketch's rank-error band of exact") {
    import org.apache.spark.sql.functions._
    // accuracy 100 => rank error <= n/100; assert against the loose
    // p40..p60 band so the guard is robust to sketch internals
    val joined = docs.groupBy("source")
      .agg(percentile_approx(col("n_chars"), lit(0.5), lit(100))
        .cast("double").as("est"))
      .join(docs.groupBy("source").agg(
        expr("CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE)").as("lo"),
        expr("CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY n_chars) AS DOUBLE)").as("hi")),
        "source")
    joined.collect().foreach { r =>
      assert(r.getDouble(1) >= r.getDouble(2) && r.getDouble(1) <= r.getDouble(3),
        r.toString) }
  }

  test("rollup merge: any batch slicing folds to the one-pass answer; merge is associative") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
    val direct = Rollup.withMean(
      Rollup.partials(ev, "event_type", col("value")), "event_type")
      .collect().toSeq
    // three unequal slices, merged pairwise vs all-at-once
    val s = (0 until 3).map(i =>
      Rollup.partials(ev.where(col("event_id") % 3 === i),
        "event_type", col("value")))
    val allAtOnce = Rollup.withMean(
      Rollup.merge("event_type", s: _*), "event_type").collect().toSeq
    val pairwise = Rollup.withMean(
      Rollup.merge("event_type",
        Rollup.merge("event_type", s(0), s(1)), s(2)),
      "event_type").collect().toSeq
    assert(allAtOnce == direct && pairwise == direct)
  }

  test("contiguous ids: dense 0..n-1 in key order across partitions") {
    val got = Ids.contiguousIds(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val keys = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == keys.zipWithIndex.map { case (k, i) => (k, i.toLong) })
  }

  test("contiguous ids: checkUnique accepts unique keys, rejects duplicates loudly") {
    import spark.implicits._
    // unique keys pass through the guard unchanged
    val ok = Ids.contiguousIds(docs, "doc_id", checkUnique = true).collect()
    assert(ok.length == docs.count())
    // duplicate keys would make gid partition-boundary-dependent: loud error
    val dup = Seq(1L, 2L, 2L, 3L).toDF("doc_id")
    val e = intercept[IllegalArgumentException] {
      Ids.contiguousIds(dup, "doc_id", checkUnique = true)
    }
    assert(e.getMessage.contains("unique"))
  }

  test("lexical diversity: repetitive text scores 0, fully distinct text (n^2-n)/n^2") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spam spam spam spam"),          // one type -> gini 0
      (2L, "alpha beta gamma delta"),       // all distinct
      (3L, "x x y y"))                      // two types, 2+2
      .toDF("doc_id", "text")
    val got = TextStats.lexicalDiversity(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 4L, 0L),
      (2L, 4L, 10000L * (16 - 4) / 16),     // 7500
      (3L, 4L, 10000L * (16 - 8) / 16)))    // 5000
  }

  test("tfidf pairs: a single shared rare shingle yields exactly its weight product") {
    import spark.implicits._
    // shingle space: doc1 {"a b c","b c x"}, doc2 {"a b c","b c y"},
    // doc3 {"z z z" x2}; "a b c" df=2 (<= cap), everything else df=1
    val corpus = Seq(
      (1L, "a b c x"),
      (2L, "a b c y"),
      (3L, "z z z z"))
      .toDF("doc_id", "text")
    val got = TextStats.tfidfPairs(corpus, maxDocFreq = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // idf = (100*3) div df: "a b c" -> 150; df=1 shingles -> 300
    // doc1 weights: 150 and 300 -> nsq = 150^2 + 300^2 = 112500
    // pair (1,2): num = 150*150 = 22500; the only pair
    assert(got == Seq((1L, 2L, 22500L, 112500L, 112500L)))
  }

  test("fuzzy entity match: exhaustive within-block recall, exact distances, purge drops hot blocks") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val parts = graft.Tables.load(spark, dir, "part")
    val got = Entity.fuzzyNameMatch(parts, "p_name", maxDist = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
    // exact distances, canonical order, no self-pairs
    assert(got.forall { case (a, b, d) => a < b && d >= 1 && d <= 2 &&
      lev(a, b) == d })
    // recall: EVERY distinct-name pair sharing a token with dist <= 2
    // is present (blocking loses nothing the block key allows)
    val names = parts.select("p_name").distinct()
      .as[String].collect().sorted
    val want = for {
      i <- names.indices; j <- (i + 1) until names.length
      if names(i).split(" ").toSet.intersect(
        names(j).split(" ").toSet).nonEmpty
      if lev(names(i), names(j)) <= 2
    } yield (names(i), names(j))
    assert(got.map(p => (p._1, p._2)).toSet == want.toSet && want.nonEmpty)
    // block purging: a tiny maxBlock drops shared-token blocks entirely
    assert(Entity.fuzzyNameMatch(parts, "p_name", 2, maxBlock = 1L)
      .collect().isEmpty)
  }

  test("market basket: exact supports and lift on a hand-computed corpus; basket cap") {
    import spark.implicits._
    // baskets: {1:a,b,c} {2:a,b} {3:a,b} {4:c} — n=4
    // pair (a,b): cnt 3; (a,c): 1; (b,c): 1; item a:3 b:3 c:2
    val tx = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
      (2L, "b"), (3L, "a"), (3L, "b"), (4L, "c")).toDF("bk", "item")
    val got = Basket.frequentPairs(tx, "bk", "item", minSupport = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // lift(a,b) = 3*4*1e6 / (3*3) = 1333333 (floor)
    assert(got == Seq(
      ("a", "b", 3L, 3L, 3L, 1333333L),
      ("a", "c", 1L, 3L, 2L, 666666L),
      ("b", "c", 1L, 3L, 2L, 666666L)))
    // support filter
    assert(Basket.frequentPairs(tx, "bk", "item", minSupport = 2L)
      .collect().map(_.getLong(2)).toSeq == Seq(3L))
    // basket cap drops the 3-item basket: (a,b) support falls to 2
    val capped = Basket.frequentPairs(tx, "bk", "item", 1L, maxBasket = 2L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(capped.toSeq == Seq(("a", "b", 2L)))
  }

  test("gap fill: contiguous spans, LOCF copies the last observation, span cap drops keys") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // key 1: events on days 1 (two, ids 1<2) and 4 -> gaps on 2,3
    // key 2: single day; key 3: span 40 days -> dropped by cap
    val ev = Seq(
      (1L, ts(1, 3), 1L, 10.5), (2L, ts(1, 9), 1L, 11.25),
      (3L, ts(4, 1), 1L, 7.75),
      (4L, ts(2, 5), 2L, 3.0),
      (5L, ts(1, 1), 3L, 1.0), (6L, ts(30, 1), 3L, 2.0))
      .toDF("event_id", "ts", "user_id", "value")
    val got = TimeSeries.gapFillLocf(ev, "user_id", "ts", "value",
        "event_id", maxSpanDays = 20).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2),
        r.getInt(3))).toSeq
    assert(got == Seq(
      (1L, "2024-01-01", 11.25, 0), // last event of the day wins (id 2)
      (1L, "2024-01-02", 11.25, 1), // LOCF, flagged gap
      (1L, "2024-01-03", 11.25, 1),
      (1L, "2024-01-04", 7.75, 0),
      (2L, "2024-01-02", 3.0, 0))) // key 3 dropped by the span cap
    // default cap keeps key 3: 30 contiguous days
    val full = TimeSeries.gapFillLocf(ev, "user_id", "ts", "value",
      "event_id").where($"user_id" === 3L).collect()
    assert(full.length == 30 && full.count(_.getInt(3) == 0) == 2)
  }

  test("k-anonymity: every non-suppressed class has >= k members, total coverage, level minimality") {
    import org.apache.spark.sql.functions._
    val k = 5L
    val cust = Tables.load(spark, dir, "customer")
    val nation = col("c_nationkey").cast("string")
    val seg = col("c_mktsegment")
    def bal(w: Int) =
      (floor(col("c_acctbal") / w).cast("long") * w).cast("string")
    val out = Privacy.kAnonymize(cust, "c_custkey",
      Seq("nation", "segment", "balance"),
      Seq(Seq(nation, seg, bal(100)), Seq(nation, seg, bal(1000)),
        Seq(lit("*"), seg, lit("*"))), k)
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1),
      (r.getString(2), r.getString(3), r.getString(4))))
    // exactly one row per record
    assert(rows.length == cust.count() &&
      rows.map(_._1).distinct.length == rows.length)
    // the anonymity guarantee: every non-suppressed (level, qi) class
    // has at least k members
    rows.filter(_._2 < 3).groupBy(r => (r._2, r._3)).foreach {
      case (cls, rs) => assert(rs.length >= k, s"class $cls")
    }
    // minimality at level 0: a record is level 0 iff its FULL-table
    // finest class reaches k (residual = all records at rung 0)
    val fine = cust.groupBy(nation.as("n"), seg.as("s"),
        bal(100).as("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1),
        r.getString(2)), r.getLong(3))).toMap
    val byId = cust.select(col("c_custkey"), nation, seg, bal(100))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    rows.foreach { case (id, lvl, _) =>
      assert((lvl == 0) == (fine(byId(id)) >= k), s"id $id level $lvl")
    }
    // suppressed rows are fully starred
    assert(rows.filter(_._2 == 3).forall(r => r._3._1 == "*" && r._3._3 == "*"))
  }

  test("label propagation: disjoint cliques converge to their min label") {
    import spark.implicits._
    def clique(ns: Seq[String]) =
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val edges = (clique(Seq("a", "b", "c")) ++ clique(Seq("x", "y", "z")))
      .toDF("src", "dst")
    val got = Graph.labelPropagation(edges, 4).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"))
    // plurality beats label id: star center adopts the leaves' label
    // (hub h, leaves l1 l2 l3 all pre-wired into one community via a
    // triangle) — after one round h holds the leaves' plurality label
    val star = (clique(Seq("l1", "l2", "l3")) ++
      Seq(("h", "l1"), ("l1", "h"), ("h", "l2"), ("l2", "h"),
        ("h", "l3"), ("l3", "h"))).toDF("src", "dst")
    val one = Graph.labelPropagation(star, 1).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // h's neighbors l1 l2 l3 all carry distinct labels -> tie -> min l1;
    // each leaf sees {h, two other leaves} -> tie -> min h... except
    // l1 whose competitors are {h, l2, l3} -> h
    assert(one("h") == "l1" && one("l1") == "h")
  }

  test("attribution: cents conserved per conversion, remainder to most recent, window respected") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val ev = Seq(
      (1L, ts(2, 0), 7L, "view", 0.0),     // outside the 7-day window
      (2L, ts(8, 0), 7L, "view", 0.0),
      (3L, ts(9, 0), 7L, "click", 0.0),
      (4L, ts(9, 12), 7L, "view", 0.0),
      (5L, ts(10, 0), 7L, "purchase", 1.00),
      (6L, ts(20, 0), 7L, "purchase", 0.50), // no touch in window
      (7L, ts(1, 0), 8L, "signup", 0.0))     // never a touch type
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = TimeSeries.linearAttribution(ev, "user_id", "ts", "event_id",
        "event_type", "value", "purchase", Seq("view", "click"), 7)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    // 100 cents over touches 2,3,4: base 33 each, remainder 1 to the
    // most recent (id 4); purchase 6 unattributable -> absent
    assert(got == Seq((2L, 1L, 33L), (3L, 1L, 33L), (4L, 1L, 34L)))
    // conservation on the real corpus: per-conversion sums equal cents
    val events = Tables.load(spark, dir, "events")
    val touches = events.where(col("event_type").isin("view", "click"))
      .select(col("user_id").as("k"), col("event_id").as("tid"),
        col("ts").as("tts"))
    val convs = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("k"), col("event_id").as("pid"),
        col("ts").as("pts"),
        floor(col("value") * 100).cast("long").as("cents"))
    val attributable = convs.join(touches, Seq("k"))
      .where(col("tts") <= col("pts") &&
        col("tts") > col("pts") - expr("INTERVAL 7 DAYS"))
      .select("pid", "cents").distinct()
      .agg(sum("cents")).collect()(0).getLong(0)
    val attributed = TimeSeries.linearAttribution(events, "user_id", "ts",
        "event_id", "event_type", "value", "purchase",
        Seq("view", "click"), 7)
      .agg(sum("attributed_cents")).collect()(0).getLong(0)
    assert(attributed == attributable)
  }

  test("containment: a subset doc is fully contained; jaccard stays low; direction is right") {
    import spark.implicits._
    // doc 2's shingles are a strict subset of doc 1's; doc 3 unrelated.
    // Every shingle appears in <= 2 docs, so the df cap keeps all.
    val corpus = Seq(
      (1L, "p q r s t u v w"),   // shingles: pqr qrs rst stu tuv uvw
      (2L, "q r s t"),           // shingles: qrs rst  (both inside doc 1)
      (3L, "m n o m n o m n"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(corpus, 5000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    // inter = 2, n1 = 6, n2 = 2: cont(2 in 1) = 10000, cont(1 in 2) = 3333
    assert(got == Seq((1L, 2L, 2L, 6L, 2L, 3333L, 10000L)))
    // the same pair is INVISIBLE to symmetric jaccard at 0.5:
    // j = 2/6 = 0.33
    val jac = Dedup.jaccardPairs(corpus, 0.5).collect()
    assert(jac.isEmpty)
  }

  test("tokenizer fertility: every word >= 1 piece, merges only shrink, docs conserved") {
    import org.apache.spark.sql.functions._
    val merges = Bpe.learnMerges(docs, "text", 4).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    def rollup(ms: Seq[(String, String)]) =
      Bpe.encodePieces(docs, "text", ms)
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tok"), sum("n_pieces").as("n_pieces"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq.sortBy(_._1)
    val merged = rollup(merges)
    val unmerged = rollup(Seq.empty)
    assert(merged.map(_._2).sum == docs.count())
    merged.zip(unmerged).foreach { case ((l, d, t, p), (l2, d2, t2, p0)) =>
      assert(l == l2 && d == d2 && t == t2)
      assert(p >= t, s"$l: every word is at least one piece")
      assert(p <= p0, s"$l: merges never increase the piece count")
    }
    // with zero merges every piece is a single character
    val chars = docs.select(
      sum(expr("aggregate(regexp_extract_all(lower(text)," +
        " '[a-z0-9]+', 0), 0L, (a, w) -> a + length(w))"))).collect()(0)
      .getLong(0)
    assert(unmerged.map(_._4).sum == chars)
  }

  test("bm25 retrieval: near-copy ranks first, probe excluded, tf saturates") {
    import spark.implicits._
    val probe = "alpha beta gamma delta epsilon zeta eta theta"
    // filler docs push N high enough that floor-log2 idf is nonzero
    // (at N = 5 every odds ratio floors to 0 bits — by design, a
    // 5-doc corpus has no meaningful idf)
    val filler = (100L until 130L).map(i =>
      (i, s"filler$i one filler$i two filler$i three filler$i"))
    val corpus = (Seq(
      (7L, probe),
      (1L, "alpha beta gamma delta epsilon zeta"), // near-copy: 4 shared
      (2L, "alpha beta gamma padding padding padding"), // 1 shared
      (3L, "alpha beta gamma " * 10),    // same 1 shared shingle, tf 10
      (4L, "totally unrelated words here and more")) ++ filler)
      .toDF("doc_id", "text")
    val got = TextStats.bm25DocRetrieve(corpus, 7L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // probe never returned; unrelated doc never returned
    assert(!got.exists(r => r._1 == 7L || r._1 == 4L))
    // the near-copy outranks the single-shingle docs
    assert(got.head._1 == 1L && got.head._2 == 4L)
    // tf saturation: doc 3 repeats the shared shingle ~10x but scores
    // far below 10x doc 2's score (k1 bounds the tf component at
    // (k1+1)/1 = 2.2x the tf=1 value)
    val s2 = got.find(_._1 == 2L).get._3
    val s3 = got.find(_._1 == 3L).get._3
    assert(s3 > s2 && s3 < 3 * s2, s"s2=$s2 s3=$s3")
  }

  test("entity canonicalize: canonical is the cluster min, matched pairs share it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val parts = Tables.load(spark, dir, "part")
    val pairs = Entity.fuzzyNameMatch(parts, "p_name", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pairs.nonEmpty)
    val names = parts.select(col("p_name").as("doc_id")).distinct()
    val canon = Dedup.clusters(names, pairs.toDF("d1", "d2"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // canonical never exceeds the name; matched pairs agree
    assert(canon.forall { case (n, c) => c <= n })
    pairs.foreach { case (a, b) =>
      assert(canon(a) == canon(b), s"$a / $b") }
    // each cluster's canonical is exactly its member minimum
    canon.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.keys.min == c, s"cluster $c") }
  }

  test("basket rules: confidence is directional, filter keeps only confident directions") {
    import spark.implicits._
    val tx = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"), (4L, "c")).toDF("bk", "item")
    // pair (a,b): sup 3, cnt_a=3, cnt_b=3 -> conf 1e6 both ways
    // pair (a,c): sup 1, cnt_a=3, cnt_c=2 -> conf(c->a) 500000,
    //   conf(a->c) 333333; pair (b,c): same shape
    val got = Basket.rules(tx, "bk", "item", 1L, 400000L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(5))).toSeq
    assert(got == Seq(
      ("a", "b", 1000000L), ("b", "a", 1000000L),
      ("c", "a", 500000L), ("c", "b", 500000L)))
    // every reported confidence respects the floor-ppm formula
    val all = Basket.rules(tx, "bk", "item", 1L, 0L).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(5)))
    assert(all.length == 6 &&
      all.forall { case (s, ca, conf) => conf == s * 1000000L / ca })
  }

  test("cohort retention: offset 0 is always 100%, cells count distinct actives") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int, d: Int) = Timestamp.valueOf(f"2024-$m%02d-$d%02d 12:00:00")
    // epoch weeks: 2024-01-01 is day 19723 -> week 2817 (days 19719-19725)
    // u1: weeks 0,1,2 rel; u2: weeks 0,2 rel; u3 first seen week 1
    val ev = Seq(
      (1L, ts(1, 1)), (1L, ts(1, 1)), (1L, ts(1, 10)), (1L, ts(1, 16)),
      (2L, ts(1, 2)), (2L, ts(1, 17)),
      (3L, ts(1, 10)))
      .toDF("user_id", "ts")
    val got = TimeSeries.cohortRetention(ev, "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val base = got.map(_._1).min
    val rel = got.map(r => (r._1 - base, r._2, r._3, r._4, r._5))
    assert(rel == Seq(
      (0L, 0L, 2L, 2L, 1000000L),  // u1, u2
      (0L, 1L, 1L, 2L, 500000L),   // u1 only
      (0L, 2L, 2L, 2L, 1000000L),  // u1, u2
      (1L, 0L, 1L, 1L, 1000000L))) // u3's own cohort
    // duplicate events in one week never double-count
    assert(rel.head._3 == 2L)
  }

  test("triangle count: exact on known shapes, hub orientation generates no wedge blowup") {
    import spark.implicits._
    // K4 has 4 triangles, every node in 3; plus a pendant edge (no tri)
    val k4 = for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a.toLong, b.toLong)
    val edges = (k4 :+ (4L, 9L)).toDF("src", "dst")
    val got = Graph.triangleCount(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // star graph: no triangles at all, and (the scale property) the
    // hub generates ZERO wedges under degree orientation — all edges
    // point leaf -> hub
    val star = (1 to 50).map(i => (100L, i.toLong)).toDF("src", "dst")
    assert(Graph.triangleCount(star).collect().isEmpty)
    // triangle reached only through mixed orientation directions:
    // path + closure, duplicate and reversed input edges tolerated
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    assert(Graph.triangleCount(messy).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("weighted systematic sample: draws telescope to exactly k, heavy rows always in") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    for (k <- Seq(1L, 7L, 50L, 120L)) {
      val sel = Sampling.weightedSystematic(docs, "doc_id",
        col("n_chars"), k)
      assert(sel.agg(sum("copies")).collect()(0).getLong(0) == k, s"k=$k")
    }
    // a row holding >= 2/k of the total weight is drawn at least twice
    val heavy = Seq((1L, 1000L), (2L, 10L), (3L, 10L), (4L, 10L))
      .toDF("doc_id", "wt")
    val got = Sampling.weightedSystematic(heavy, "doc_id", col("wt"), 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) >= 9L && got.values.sum == 10L)
    // repartition invariance: the draw is a pure function of content
    val a = Sampling.weightedSystematic(docs, "doc_id", col("n_chars"), 37L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val b = Sampling.weightedSystematic(docs.repartition(7), "doc_id",
      col("n_chars"), 37L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(a == b && a.nonEmpty)
  }

  test("pii audit: hierarchical counts match scrub semantics exactly") {
    import spark.implicits._
    // url contains digits and an @: counted ONCE as url, never email
    // or number; email digits never counted as numbers
    val rows = Seq(
      ("a", "visit https://x.com/42?u=1@b.cc then mail joe9@ex.org ok"),
      ("a", "plain 12 and 7 words"),
      ("b", "nothing here"))
      .toDF("g", "t")
    val got = TextStats.piiAudit(rows, "g", "t").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      ("a", 2L, 2L, 1L, 1L, 2L), // 1 url, 1 email (joe9@), numbers 12,7
      ("b", 1L, 0L, 0L, 0L, 0L)))
    // the audit equals what scrub redacts: scrubbing leaves no class
    val scrubbed = rows.select(TextStats.scrub($"t").as("s"))
    val leftover = TextStats.piiAudit(
      scrubbed.withColumn("g", org.apache.spark.sql.functions.lit("x")),
      "g", "s").collect()(0)
    assert(leftover.getLong(3) == 0L && leftover.getLong(4) == 0L &&
      leftover.getLong(5) == 0L)
  }

  test("source drift: zero for identical distributions, exact on a hand case, scale-free") {
    import spark.implicits._
    def tv(rows: Seq[(Long, String, String)]): Map[(String, String), Long] =
      TextStats.sourceDrift(rows.toDF("doc_id", "text", "source"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
        .toMap
    // s1 == s2 distributionally (s2 = s1 doubled): TV = 0
    // s3: p(a)=1/2 p(b)=1/2 vs s1's p(a)=3/4 p(b)=1/4: TV = 1/4
    val rows = Seq(
      (1L, "a a a b", "s1"),
      (2L, "a a a b a a a b", "s2"),
      (3L, "a b", "s3"))
    val got = tv(rows)
    assert(got(("s1", "s2")) == 0L)
    assert(got(("s1", "s3")) == 250000L && got(("s2", "s3")) == 250000L)
    // on the corpus: symmetric bounds and self-consistency
    val real = TextStats.sourceDrift(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    assert(real.nonEmpty &&
      real.forall(r => r._3 >= 0L && r._3 <= 1000000L && r._1 < r._2))
  }

  test("golden record: plurality brand with smallest tie-break, records conserved") {
    import spark.implicits._
    // "old bolt"~"cold bolt" (dist 1) cluster; "big gear" alone
    val recs = Seq(
      (1L, "old bolt", "B2", 10.0),
      (2L, "old bolt", "B1", 30.0),
      (3L, "cold bolt", "B1", 20.0),
      (4L, "big gear", "B9", 5.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_retailprice")
    val got = Entity.goldenRecords(recs, "p_name", 2, "p_brand",
        Seq("p_retailprice", "p_partkey")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getString(5))).toSeq
    assert(got == Seq(
      ("big gear", 1L, 1L, 5.0, 4L, "B9"),
      // B1 has plurality (2 of 3); max price 30, last key 3
      ("cold bolt", 3L, 2L, 30.0, 3L, "B1")))
    // tie in brand counts resolves to the smaller brand string
    val tied = recs.where($"p_partkey" =!= 3L)
    val g2 = Entity.goldenRecords(tied, "p_name", 2, "p_brand", Seq())
      .collect().map(r => (r.getString(0), r.getString(3))).toMap
    assert(g2("old bolt") == "B1")
    // conservation on the real table
    val parts = Tables.load(spark, dir, "part")
    val all = Entity.goldenRecords(parts, "p_name", 2, "p_brand",
      Seq("p_partkey"))
    assert(all.agg(org.apache.spark.sql.functions.sum("n_records"))
      .collect()(0).getLong(0) == parts.count())
  }

  test("expectations: each check counts exactly its violations") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t = Seq(
      (1L, Some(5L), 10.0), (2L, None, 60.0), (2L, Some(7L), -1.0),
      (3L, Some(8L), 25.0))
      .toDF("k", "v", "x")
    val parent = Seq(1L, 2L).toDF("pk")
    val got = Expectations.suite(Seq(
        Expectations.notNull(t, "v"),          // 1 null
        Expectations.unique(t, Seq("k")),      // k=2 twice -> 1 excess
        Expectations.inRange(t, "x", lit(0), lit(50)), // 60, -1 -> 2
        Expectations.refIntegrity(t, "k", parent, "pk"))) // k=3 -> 1
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == Seq(
      ("in_range:x", 4L, 2L),
      ("not_null:v", 4L, 1L),
      ("ref:k", 4L, 1L),
      ("unique:k", 4L, 1L)))
    // null range values violate the contract too
    val nulls = Seq((1L, Option.empty[Double])).toDF("k", "x")
    assert(Expectations.inRange(nulls, "x", lit(0), lit(1))
      .collect()(0).getLong(2) == 1L)
    // the synthetic lineitem's known contract break is caught
    val li = Tables.load(spark, dir, "lineitem")
    val dupes = Expectations.unique(li, Seq("l_orderkey", "l_linenumber"))
      .collect()(0).getLong(2)
    assert(dupes > 0L)
  }

  test("skew profile: exact stats on a planted hot key") {
    import spark.implicits._
    // key "hot" appears 90x, ten singleton keys: n_keys=11, n_rows=100
    // counts sorted: 1 x10, 90 -> p50 = 1 (6th of 11), p99 = 90
    val rows = (Seq.fill(90)("hot") ++ (1 to 10).map(i => s"k$i"))
      .toDF("k")
    val got = Profile.skewProfile(rows, Seq("k")).collect()(0)
    assert((got.getString(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4), got.getLong(5), got.getLong(6)) ==
      ("k", 100L, 11L, 90L, 1L, 90L, 90L * 11L * 1000000L / 100L))
    // a perfectly uniform key has skew_ppm == 1e6 exactly
    val uni = (1 to 40).map(i => i % 8).toDF("k")
    assert(Profile.skewProfile(uni, Seq("k")).collect()(0)
      .getLong(6) == 1000000L)
  }

  test("boilerplate strip: recurring blocks removed everywhere, fully-chrome doc goes to zero") {
    import spark.implicits._
    // block "aa bb" occurs (block-aligned) in docs 1,3,4 -> dfreq 3
    val planted = Seq(
      (1L, "aa bb cc dd"), (2L, "aa bb ee ff"), // doc2's copy aligned too
      (3L, "gg hh aa bb"), (4L, "aa bb")
    ).toDF("doc_id", "text")
    val got = Dedup.boilerplateStrip(planted, 2, 3)
      .orderBy("doc_id").collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L), (4L, 1L, 0L)))
    // the all-boilerplate doc has NULL kept_md5; survivors do not
    assert(got.filter(_.getLong(0) == 4L).head.isNullAt(3))
    assert(got.filter(_.getLong(0) != 4L).forall(!_.isNullAt(3)))
    // unlike blockDedup, even the FIRST occurrence is stripped
    val firstKept = Dedup.blockDedup(planted, 2)
      .where($"doc_id" === 1L).collect()(0).getLong(2)
    assert(firstKept == 2L) // dedup keeps doc1's copy; strip does not
  }

  test("transition matrix: session gap drops long silences, ppm rows sum per src") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 10L, "A"),
      (2L, "2024-01-01 00:10:00", 10L, "B"), // A->B within 30m
      (3L, "2024-01-01 01:00:00", 10L, "C"), // B->C gap 50m: dropped
      (4L, "2024-01-01 00:00:00", 20L, "A"),
      (5L, "2024-01-01 00:29:00", 20L, "B")  // A->B at the edge: kept
    ).toDF("event_id", "ts_s", "user_id", "event_type")
      .withColumn("ts", to_timestamp($"ts_s"))
    val got = TimeSeries.transitionMatrix(
      ev, "user_id", "ts", "event_id", "event_type", 30).collect().toSeq
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3))) == Seq(("A", "B", 2L, 1000000L)))
  }

  test("decay activity: old volume is halved per period, fresh activity outranks it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: 8 events 14 days ago (2 half-lives -> 8 >> 2 = 2);
    // user 2: 3 events on the newest day (3 >> 0 = 3) — fresher wins
    val ev = (Seq.fill(8)((1L, "2024-01-01 12:00:00")) ++
        Seq.fill(3)((2L, "2024-01-15 12:00:00")))
      .toDF("user_id", "ts_s")
      .withColumn("ts", to_timestamp($"ts_s"))
    val got = TimeSeries.decayActivity(ev, "user_id", "ts", 7, 50)
      .collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((2L, 3L, 3L), (1L, 8L, 2L)))
  }

  test("pareto cover: exactly the minimal prefix reaching the share survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // cents 50/30/20: 80% needs {50, 30}; the 20 row's prior cum is
    // already 80% so it must NOT appear
    val facts = Seq(("a", 50L), ("b", 30L), ("c", 20L)).toDF("k", "v")
    val got = Profile.paretoCover(facts, "k", col("v"), 8000)
      .collect().toSeq
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))) == Seq(("a", 50L, 50L, 5000L), ("b", 30L, 80L, 8000L)))
    // shareBp = 10000 keeps everything
    assert(Profile.paretoCover(facts, "k", col("v"), 10000).count() == 3L)
  }

  test("pmi bigrams: integer ppm equals the hand-computed independence ratio") {
    import spark.implicits._
    // tokens: a b a b a b c d -> bigrams ab x3, ba x2, bc, cd (N=7)
    val d = Seq((1L, "a b a b a b c d")).toDF("doc_id", "text")
    val rows = TextStats.pmiBigrams(d, 1, 10).collect().toSeq
    val byPair = rows
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(byPair(("c", "d")) == ((1L, 7000000L)))     // 1*7e6/(1*1)
    assert(byPair(("a", "b")) == ((3L, 2333333L)))     // 3*7*1e6/(3*3)
    assert(byPair(("b", "a")) == ((2L, 2333333L)))     // 2*7*1e6/(3*2)
    assert(byPair(("b", "c")) == ((1L, 2333333L)))     // 1*7*1e6/(3*1)
    // highest-ratio pair sorts first; ties break on (w1, w2)
    assert((rows.head.getString(0), rows.head.getString(1)) == (("c", "d")))
  }

  test("ppjoin: lossless — equals brute-force jaccardPairs pair set on the corpus") {
    import spark.implicits._
    val pp = Dedup.ppjoinPairs(docs, 300000L)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.jaccardPairs(docs, 0.3, None)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp == brute && pp.nonEmpty)
    // a qualifying pair sharing only CORPUS-HOT shingles: the df-capped
    // heuristic (maxDocFreq=1) misses it; the prefix filter cannot
    val planted = Seq(
      (900001L, "x1 y1 z1 w1 v1"), (900002L, "x1 y1 z1 w1 v2"),
      (900003L, "x1 y1 z1 a b c d e f g h i j k l m n o p q")
    ).toDF("doc_id", "text")
    val hotPairs = Dedup.ppjoinPairs(planted, 500000L)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hotPairs == Set((900001L, 900002L))) // jac = 2/4 = 0.5
    val heuristic = Dedup.jaccardPairs(planted, 0.5, Some(1))
      .select("d1", "d2").collect().toSet
    assert(heuristic.isEmpty) // every shared shingle is df>=2: all dropped
  }

  test("ppjoin positional filter: strictly fewer candidates than AllPairs, same survivors") {
    import org.apache.spark.sql.functions.{count, lit}
    val sh = Dedup.shingles3(docs)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val allPairs = Dedup.ppjoinCandidates(sh, sizes, 300000L,
      positional = false)
    val withPos = Dedup.ppjoinCandidates(sh, sizes, 300000L,
      positional = true)
    val nAll = allPairs.count(); val nPos = withPos.count()
    info(s"candidates: AllPairs+length=$nAll positional=$nPos " +
      f"(${100.0 * (nAll - nPos) / math.max(nAll, 1)}%.1f%% pruned)")
    assert(nPos < nAll, s"positional filter pruned nothing ($nAll -> $nPos)")
    // lossless: the pruned set still contains every qualifying pair
    val truth = Dedup.jaccardPairs(docs, 0.3, None)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val posSet = withPos.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(posSet))
  }

  test("lateness profile: hand-computed p50/p99/max on a planted arrival order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // arrival order arr: ts runs 10:00, 09:59 (60s late), 10:01
    val ev = Seq(
      ("a", 1L, "2024-01-01 10:00:00"),
      ("a", 2L, "2024-01-01 09:59:00"),
      ("a", 3L, "2024-01-01 10:01:00")
    ).toDF("k", "arr", "ts_s").withColumn("ts", to_timestamp($"ts_s"))
    val got = TimeSeries.latenessProfile(ev, "k", "ts", Seq(col("arr")))
      .collect()(0)
    assert((got.getString(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4), got.getLong(5)) ==
      ("a", 3L, 1L, 0L, 60L, 60L))
  }

  test("join-size forecast: out_rows equals the join it predicts, on every pair") {
    import org.apache.spark.sql.functions._
    val orders = graft.Tables.load(spark, dir, "orders")
    val li = graft.Tables.load(spark, dir, "lineitem")
    val fc = Profile.joinSizeForecast(orders, li,
      Seq("o_orderkey" -> "l_orderkey", "o_custkey" -> "l_partkey"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(6), r.getLong(7))).toMap
    val realKey = orders.join(li,
      orders("o_orderkey") === li("l_orderkey")).count()
    val bogus = orders.join(li,
      orders("o_custkey") === li("l_partkey")).count()
    assert(fc("o_orderkey=l_orderkey")._1 == realKey)
    assert(fc("o_custkey=l_partkey")._1 == bogus)
    // hottest value's contribution never exceeds the total
    assert(fc.values.forall { case (out, mx) => mx <= out })
  }

  test("lang agreement: kappa is 1e6 on perfect agreement, 0 when one side is constant") {
    import spark.implicits._
    // markers force predicted == declared: perfect two-label agreement
    val perfect = Seq(
      (1L, "de", "der der der"), (2L, "de", "der der"),
      (3L, "fr", "le le le"), (4L, "fr", "le le")
    ).toDF("doc_id", "lang", "text")
    val k1 = TextStats.langAgreement(perfect)
      .select("kappa_ppm", "agree_ppm").distinct().collect()(0)
    assert((k1.getLong(0), k1.getLong(1)) == ((1000000L, 1000000L)))
    // every declared label identical AND every prediction identical:
    // pe = 1, the kappa rational degenerates (N^2 == S) -> pinned 0
    val constant = Seq(
      (1L, "de", "der der"), (2L, "de", "der der der")
    ).toDF("doc_id", "lang", "text")
    val k2 = TextStats.langAgreement(constant)
      .select("kappa_ppm").distinct().collect()(0)
    assert(k2.getLong(0) == 0L)
  }

  test("effective tokens: unique <= raw, and a planted duplicate is charged once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "alpha beta gamma"), (2L, "s1", "alpha beta gamma"),
      (3L, "s1", "delta"), (4L, "s2", "eps zeta")
    ).toDF("doc_id", "source", "text")
    val r = TextStats.effectiveTokens(docs).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    // s1: 4 docs? no — 3 docs, 7 raw tokens, 2 unique texts, 4 unique tokens
    assert(r("s1") == ((3L, 7L, 2L, 4L, (7L - 4L) * 1000000L / 7L)))
    assert(r("s2") == ((1L, 2L, 1L, 2L, 0L)))
  }

  test("audio gain: decoded sum/peak equal a brute-force byte walk of the payload") {
    import spark.implicits._
    // n_chars chosen to hit both peak branches: nTot < 64 impossible
    // (min 50 with channels 1 -> 50 < 64) and nTot >= 64
    val docs = Seq((1L, 0L), (2L, 13L), (3L, 461L))
      .toDF("doc_id", "n_chars")
    val got = Multimodal.audioGain(Multimodal.withWavPayload(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    docs.collect().foreach { d =>
      val (id, nc) = (d.getLong(0), d.getLong(1))
      val wav = Multimodal.buildWav(nc)
      val buf = java.nio.ByteBuffer.wrap(wav)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val nTot = (wav.length - 44) / 2
      val abs = (0 until nTot).map(j => math.abs(buf.getShort(44 + 2 * j).toLong))
      assert(got(id) == ((nTot.toLong, abs.sum, abs.max,
        30000L * 10000L / abs.max)))
    }
  }

  test("dataset card: internally consistent with direct aggregates") {
    import org.apache.spark.sql.functions._
    val card = TextStats.datasetCard(docs).collect()(0)
    val nDocs = docs.count()
    assert(card.getLong(0) == nDocs)
    assert(card.getLong(3) <= nDocs) // distinct texts
    assert(card.getLong(4) ==
      (nDocs - card.getLong(3)) * 1000000L / nDocs)
    val chars = docs.agg(sum(col("n_chars"))).collect()(0).getLong(0)
    assert(card.getLong(5) == chars)
    assert(card.getLong(7) <= card.getLong(8) &&
      card.getLong(8) <= card.getLong(9)) // p50 <= p99 <= max
  }

  test("funnel steps: strict order enforced on planted events, counts monotone") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // u1 completes in order; u2 views BEFORE signup (must not count);
    // u3 signs up only; u4 never signs up (purchase must not count)
    val ev = Seq(
      (1L, "signup", "2024-01-01 10:00:00"), (1L, "view", "2024-01-01 11:00:00"),
      (1L, "purchase", "2024-01-01 12:00:00"),
      (2L, "view", "2024-01-01 09:00:00"), (2L, "signup", "2024-01-01 10:00:00"),
      (3L, "signup", "2024-01-01 08:00:00"),
      (4L, "view", "2024-01-01 08:00:00"), (4L, "purchase", "2024-01-01 09:00:00")
    ).toDF("u", "ty", "ts_s").withColumn("ts", to_timestamp($"ts_s"))
    val r = TimeSeries.funnelSteps(ev, "u", "ts", "ty",
      Seq("signup", "view", "purchase")).collect()
    val counts = r.map(_.getLong(2)).toSeq
    assert(counts == Seq(3L, 1L, 1L)) // u1,u2,u3 signup; only u1 proceeds
    assert(r.map(_.getLong(4)).toSeq ==
      Seq(1000000L, 333333L, 333333L)) // conv_from_first
    // monotone: each stage can only lose keys
    assert(counts == counts.sortBy(-_))
  }

  test("rfm segments: grid partitions the key set and planted extremes land in corner cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, dir, "events")
    val r = TimeSeries.rfmSegments(ev, "user_id", "ts", "value")
    val users = ev.select("user_id").distinct().count()
    assert(r.agg(sum("n_keys")).collect()(0).getLong(0) == users)
    // every tier value is in 1..3
    r.collect().foreach { row =>
      (0 to 2).foreach(i => assert(row.getInt(i) >= 1 && row.getInt(i) <= 3))
    }
    // planted: one fresh/frequent/big spender must land in (3,3,3)
    val today = "2030-01-01 00:00:00"
    val planted = ev.select(col("user_id"), col("ts"), col("value"))
      .unionByName(spark.range(1000).select(
        lit(999999L).as("user_id"),
        to_timestamp(lit(today)).as("ts"), lit(500.0).as("value")))
    val cell = TimeSeries.rfmSegments(planted, "user_id", "ts", "value")
    assert(cell.where(col("r_tier") === 3 && col("f_tier") === 3 &&
      col("m_tier") === 3).count() >= 1)
  }

  test("streaming drift mart equals the batch scoreDrift audit") {
    import org.apache.spark.sql.functions._
    val batch = Profile.scoreDrift(docs, "source", col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    val streamed = graft.streaming.Streaming.streamDriftMart(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("code switching: planted mixed doc flags a switch, monolingual doc does not") {
    import spark.implicits._
    val de = Seq.fill(20)("der").mkString(" ")
    val en = Seq.fill(20)("the").mkString(" ")
    val docs = Seq(
      (1L, s"$de $en $de"),  // de | en | de: 2 switches, dominant de
      (2L, s"$en $en")       // en | en: 0 switches
    ).toDF("doc_id", "text")
    val r = TextStats.codeSwitching(docs, 20).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2),
        x.getLong(3), x.getLong(4))).toMap
    assert(r(1L) == ((3L, "de", 2L, 333333L)))
    assert(r(2L) == ((2L, "en", 0L, 0L)))
  }

  test("gini: zero for uniform lengths, near (n-1)/n for total concentration") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val uniform = (1 to 100).map(i => ("u", 50L)).toDF("s", "x")
    val concentrated = (("c", 10000L) +: Seq.fill(99)(("c", 0L))).toDF("s", "x")
    val r = Profile.giniConcentration(uniform.unionByName(concentrated), "s", col("x"))
      .collect().map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r("u") == 0L)
    assert(r("c") == 990000L) // (n-1)/n = 99/100 exactly
  }

  test("score normalize: extremes map to 0 and 1e6, singletons to the midpoint") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("b", 9L, 7L)).toDF("src", "id", "sc")
    val r = Profile.scoreNormalize(d, "src", "id", col("sc")).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(3)).toMap
    assert(r(("a", 1L)) == 0L && r(("a", 2L)) == 500000L &&
      r(("a", 3L)) == 1000000L)
    assert(r(("b", 9L)) == 500000L) // singleton stratum pins midpoint
  }

  test("benford: a perfectly Benford-distributed stratum scores 0, a constant-digit one scores high") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1e6 synthetic rows would be exact; instead plant counts directly
    // proportional to the ppm table (scaled 1:1000)
    val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    val good = benford.zipWithIndex.flatMap { case (p, i) =>
      Seq.fill((p / 1000).toInt)(("good", (i + 1) * 100L))
    }
    val bad = Seq.fill(500)(("bad", 900L)) // every amount starts with 9
    val df = (good ++ bad).toDF("s", "cents")
    val r = Profile.benfordAudit(df, "s", col("cents")).collect()
      .map(x => x.getString(0) -> (x.getLong(2), x.getInt(3))).toMap
    // the 1:1000 count truncation costs <= ~5000 ppm TV; the signal
    // being tested (0 vs ~954000) is three orders of magnitude larger
    assert(r("good")._1 < 5000, r("good").toString)
    // constant digit 9: TV = 1 - P(9) = 954243 ppm exactly
    assert(r("bad") == ((954243L, 9)))
  }

  test("near-dup effective tokens: a pure-republisher source reports zero unique tokens") {
    import spark.implicits._
    // s2's only doc is a verbatim copy of s1's doc 1 -> same cluster,
    // rep = min doc_id = 1 (charged to s1); s2 keeps nothing
    val docs = Seq(
      (1L, "s1", "alpha beta gamma delta eps zeta eta theta"),
      (2L, "s2", "alpha beta gamma delta eps zeta eta theta"),
      (3L, "s1", "totally different text about nothing shared here")
    ).toDF("doc_id", "source", "text")
    val clusters = Dedup.clusters(docs, Dedup.jaccardPairs(docs, 0.5, None))
    val r = TextStats.effectiveTokensByCluster(docs, clusters).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5))).toMap
    assert(r("s2") == ((1L, 8L, 0L, 0L, 1000000L)))
    assert(r("s1") == ((2L, 15L, 2L, 15L, 0L))) // 8 + 7 tokens
  }

  test("keywords: a term unique to one doc outranks corpus-wide terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common xylophone"),
      (2L, "common common other"),
      (3L, "common other fill")
    ).toDF("doc_id", "text")
    val top = TextStats.keywords(docs, 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: xylophone df=1 score 1e6 beats common (tf 3, df 3 -> 1e6 tie!)
    // tf*1e6 div df: common = 3*1e6/3 = 1e6; xylophone = 1*1e6/1 = 1e6;
    // tie breaks alphabetically -> 'common'. Use tf 2 instead:
    assert(top(1L) == "common" || top(1L) == "xylophone")
    val docs2 = Seq(
      (1L, "common common xylophone xylophone xylophone"),
      (2L, "common filler"),
      (3L, "common filler2")
    ).toDF("doc_id", "text")
    val top2 = TextStats.keywords(docs2, 1).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top2(1L) == "xylophone") // 3e6 vs common 2*1e6/3
  }

  test("embedding audit: a planted zero vector is counted, norms bracket the corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val planted = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(Seq((999999L, Array.fill(64)(0.0f), 0))
        .toDF("vec_id", "embedding", "label"))
    val r = Similarity.embeddingAudit(planted).collect()
      .map(x => x.getInt(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(0)._2 == 1L && r(0)._3 == 0L) // one zero vec, min norm2 = 0
    val clean = Similarity.embeddingAudit(emb).collect()
    assert(clean.forall(_.getLong(2) == 0L)) // corpus has no zero vectors
    clean.foreach { row =>
      assert(row.getLong(3) <= row.getLong(4) &&
        row.getLong(4) <= row.getLong(5))
    }
  }

  test("cluster size histogram: doc mass conserved and planted dup lands in the 2-bin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "alpha beta gamma delta eps zeta"),
      (2L, "alpha beta gamma delta eps zeta"),
      (3L, "completely different text body here now")
    ).toDF("doc_id", "text")
    val h = Dedup.clusterSizeHistogram(
      Dedup.clusters(docs, Dedup.jaccardPairs(docs, 0.5, None)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h(2L) == ((1L, 2L)) && h(1L) == ((1L, 1L)))
    assert(h.values.map(_._2).sum == 3L) // every doc in exactly one bin
  }

  test("session quality: planted bounce and multi-event sessions count exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // u1: two events 10s apart (one session of 2); u2: one event
    // (bounce); u1 again 2h later (second session, bounce)
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00"), (1L, 2L, "2024-01-01 10:00:10"),
      (1L, 3L, "2024-01-01 13:00:00"),
      (2L, 4L, "2024-01-01 09:00:00")
    ).toDF("u", "id", "ts_s").withColumn("ts", to_timestamp($"ts_s"))
    val r = TimeSeries.sessionQuality(ev, "u", "ts", "id").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 2L, 666666L, 1L, 2L)))
  }

  test("label compactness: a tight planted label is more compact than a scattered one") {
    import spark.implicits._
    // label 100: two identical vectors (max compactness);
    // label 200: two opposite vectors (mean pair dot ~ 0)
    val v = Array.fill(64)(0.5f)
    val nv = v.map(-_)
    val planted = Seq(
      (900001L, v, 100), (900002L, v, 100),
      (900003L, v, 200), (900004L, nv, 200)
    ).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCompactness(planted).collect()
      .map(x => x.getInt(0) -> (x.getLong(2), x.getInt(3))).toMap
    // label 100: S = 2q each comp, S.S = 64*(2*5000)^2 = 6.4e9; /4 = 1.6e9
    assert(r(100)._1 == 64L * 4L * 5000L * 5000L / 4L)
    assert(r(200)._1 == 0L) // vectors cancel exactly
    assert(r(100)._2 == 200 && r(200)._2 == 100)
  }

  test("forward as-of: matches the earliest right at-or-after each left, inclusive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val l = Seq((1L, 10L, 100L), (1L, 25L, 101L), (1L, 99L, 102L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, 10L, 500L), (1L, 30L, 501L), (1L, 40L, 502L))
      .toDF("k", "t", "rid")
    val got = AsofJoin.asofJoinForward(l, r, col("k"), col("k"),
        col("t"), col("t"), Seq(col("lid")), col("rid"))
      .select(col("l.lid"), col("asof")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == Map(100L -> 500L, 101L -> 501L)) // inclusive @10; 99 unmatched
  }

  test("vocab pruning: threshold 1 keeps everything; a planted hapax falls out at 2") {
    import spark.implicits._
    // corpus: 'common' x10, 'mid' x3, hapax x1 -> 3 types, mass 14
    val planted = Seq(
      (1L, ("common " * 10) + "mid mid"),
      (2L, "mid zzzhapax")
    ).toDF("doc_id", "text")
    val r = TextStats.vocabPruning(planted, Seq(1L, 2L, 4L)).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(1L) == ((3L, 1000000L, 1000000L)))
    assert(r(2L) == ((2L, 666666L, 13L * 1000000L / 14L)))
    assert(r(4L) == ((1L, 333333L, 10L * 1000000L / 14L)))
    // monotone on the real corpus too
    val full = TextStats.vocabPruning(docs).collect().map(_.getLong(3)).toSeq
    assert(full == full.sortBy((x: Long) => -x))
  }

  test("source novelty: a verbatim republisher scores zero, a unique source scores 1e6") {
    import spark.implicits._
    val shared = "alpha beta gamma delta eps zeta eta theta iota kappa"
    val docs = Seq(
      (1L, "orig", shared),
      (2L, "copier", shared),
      (3L, "unique", "entirely fresh words nobody else ever wrote here")
    ).toDF("doc_id", "source", "text")
    val r = Dedup.sourceNovelty(docs).collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(r("copier") == 0L && r("orig") == 0L) // shared both ways
    assert(r("unique") == 1000000L)
  }

  test("fk coverage: true keys have zero orphans, the planted wrong edge does not") {
    import org.apache.spark.sql.functions._
    val r = graft.SparkEntry.queries("x234_fk_coverage")(spark, dir).collect()
      .map(x => x.getString(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r("lineitem.l_orderkey->orders") == ((0L, 0L)))
    assert(r("orders.o_custkey->customer") == ((0L, 0L)))
    assert(r("orders.o_orderkey->supplier(WRONG)")._1 > 0L)
  }

  test("minhash calibration: identical docs agree on all 8 hashes at Jaccard 1") {
    import spark.implicits._
    val t = "alpha beta gamma delta eps zeta eta theta iota kappa"
    val docs = Seq((1L, t), (2L, t),
      (3L, "some other text that is entirely different from the rest ok"))
      .toDF("doc_id", "text")
    val r = Dedup.minhashCalibration(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(8L) == ((1L, 10000L))) // the identical pair: est 8/8, J=1
    // mean exact jaccard never exceeds the x10k scale
    assert(r.values.forall(_._2 <= 10000L))
  }

  test("activity histogram: planted counts land in their log2 buckets, mass conserved") {
    import spark.implicits._
    // keys with 1, 3, 4, 9 events -> buckets 1, 2, 4, 8
    val ev = (Seq.fill(1)("a") ++ Seq.fill(3)("b") ++ Seq.fill(4)("c") ++
      Seq.fill(9)("d")).toDF("k")
    val r = Profile.activityHistogram(ev, "k").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r == Map(1L -> ((1L, 1L)), 2L -> ((1L, 3L)),
      4L -> ((1L, 4L)), 8L -> ((1L, 9L))))
  }

  test("hierarchy shares: children sum to parent within bp truncation, never over") {
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.queries("x237_hierarchy_shares")(spark, dir)
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (_, nations) =>
      val bpSum = nations.map(_.getLong(3)).sum
      assert(bpSum <= 10000L && bpSum > 10000L - nations.length,
        s"parent shares sum $bpSum over ${nations.length} children")
    }
    val totBp = rows.map(_.getLong(4)).sum
    assert(totBp <= 10000L && totBp > 10000L - rows.length)
  }

  test("growth accounting: active = new + retained + resurrected every week") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, dir, "events")
    val rows = TimeSeries.growthAccounting(ev, "user_id", "ts").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4),
        s"identity broken: $r")
    }
    // planted: u1 active wk0+wk2 (resurrected at 2, churn into 1);
    // u2 active wk0+wk1 (retained at 1)
    val planted = Seq((1L, "1970-01-01"), (1L, "1970-01-15"),
      (2L, "1970-01-01"), (2L, "1970-01-08"))
      .toDF("u", "d").select(col("u"), to_timestamp(col("d")).as("ts"))
    val g = TimeSeries.growthAccounting(planted, "u", "ts").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(g(0L) == ((2L, 2L, 0L, 0L, 0L)))
    assert(g(1L) == ((1L, 0L, 1L, 0L, 1L))) // u2 retained; u1 churned in
    assert(g(2L) == ((1L, 0L, 0L, 1L, 1L))) // u1 resurrected; u2 churned in
  }

  test("streaming activity histogram equals the batch x236 histogram") {
    val batch = graft.SparkEntry.queries("x236_activity_histogram")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val streamed = graft.streaming.Streaming
      .streamActivityHistogram(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("top decile mass: top docs are <= 10% + ties, source masses conserve") {
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.queries("x241_top_decile_mass")(spark, dir)
      .collect()
    val nDocs = rows.map(_.getLong(1)).sum
    val nTop = rows.map(_.getLong(2)).sum
    assert(nTop > 0 && nTop * 10 <= nDocs + rows.length * 10,
      s"top decile too fat: $nTop of $nDocs")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3)) // top tokens <= all tokens
    }
  }

  test("score deciles: monotone boundaries and exact median per stratum") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, dir, "documents")
    val rows = Profile.scoreDeciles(docs, "source", col("n_chars")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bounds = (2 to 12).map(r.getLong) // min, d1..d9, max
      assert(bounds == bounds.sorted, s"non-monotone deciles: $r")
    }
    // d5 equals the engine-exact percentile_disc median of one stratum
    val src = rows.head.getString(0)
    val d5 = rows.head.getLong(7)
    val want = docs.where(col("source") === src)
      .agg(expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS BIGINT)"))
      .collect()(0).getLong(0)
    assert(d5 == want)
  }

  test("retrieval AUC: separable classes score 1e6, all-ties score exactly 500000") {
    import spark.implicits._
    // two orthogonal clusters: similarity ranks every same-label vector
    // above every cross-label one -> AUC = 1 for both labels
    val sep = (0L until 6L).map { i =>
      val lab = (i % 2).toInt
      val v = if (lab == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i, v, lab)
    }.toDF("vec_id", "embedding", "label")
    val a1 = Similarity.retrievalAuc(sep).collect()
    assert(a1.length == 2 && a1.forall(_.getLong(4) == 1000000L),
      a1.mkString(";"))
    // every vector identical -> every comparison ties -> midrank AUC is
    // exactly 1/2 (the guard that ties count half, not zero or one)
    val ties = (0L until 6L).map(i =>
      (i, Array(1f, 0f, 0f, 0f), (i % 2).toInt))
      .toDF("vec_id", "embedding", "label")
    val a2 = Similarity.retrievalAuc(ties).collect()
    assert(a2.length == 2 && a2.forall(_.getLong(4) == 500000L),
      a2.mkString(";"))
  }

  test("source overlap matrix: full grid with exact Jaccard and zero rows present") {
    import spark.implicits._
    val toy = Seq(
      (1L, "a b c d e", "A"), // shingles: "a b c","b c d","c d e"
      (2L, "a b c d", "B"),   // shingles: "a b c","b c d"
      (3L, "x y z w", "C")    // disjoint: "x y z","y z w"
    ).toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlapMatrix(toy).collect()
    assert(m.length == 3, m.mkString(";")) // all pairs incl. zero overlap
    val ab = m.find(r => r.getString(0) == "A" && r.getString(1) == "B").get
    assert(ab.getLong(2) == 3 && ab.getLong(3) == 2 && ab.getLong(4) == 2)
    assert(ab.getLong(5) == 666666L) // floor(1e6 * 2/3)
    m.filter(_.getString(1) == "C").foreach { r =>
      assert(r.getLong(4) == 0 && r.getLong(5) == 0, r.toString)
    }
  }

  test("split leakage: totals and example match a direct recomputation") {
    import org.apache.spark.sql.functions._
    val out = Dedup.splitLeakage(docs).collect()
    val split = Sampling.hashSplit(docs, "doc_id")
    val direct = Dedup.minhashLshPairs(docs)
      .join(split.select(col("doc_id").as("d1"), col("split").as("s1")), "d1")
      .join(split.select(col("doc_id").as("d2"), col("split").as("s2")), "d2")
      .where(col("s1") =!= col("s2")).collect()
    assert(out.map(_.getLong(2)).sum == direct.length)
    out.foreach { r =>
      val ex = direct.filter(p =>
          Set(p.getAs[String]("s1"), p.getAs[String]("s2")) ==
            Set(r.getString(0), r.getString(1)))
        .map(p => (p.getAs[Long]("d1"), p.getAs[Long]("d2"))).min
      assert((r.getLong(4), r.getLong(5)) == ex, r.toString)
    }
  }

  test("bootstrap CI: ordered bounds, full replicate set, point near the median") {
    import org.apache.spark.sql.functions._
    val rows = Sampling.bootstrapCi(docs, "source", "doc_id",
      col("n_chars"), reps = 32).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, point, reps, lo, med, hi) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(n > 0 && reps == 32, r.toString)
      assert(lo <= med && med <= hi, s"unordered CI: $r")
      // the point estimate sits inside the (generous) bootstrap range
      assert(point >= lo - (hi - lo) && point <= hi + (hi - lo), r.toString)
    }
  }

  test("passJoin: lossless vs brute force incl. insert/delete and no-shared-token pairs") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // crafted to exercise every edit kind and the fuzzyNameMatch blind
    // spot (single-token names share no whitespace block): substitute
    // ("karla"/"karlo"), delete ("karla"/"karl"), insert
    // ("brandt"/"brandta"), far pairs, a length-2 gap that must
    // NOT match at tau=1, and the SHORT-NAME hole (length <= tau has
    // no untouched pigeonhole segment): 'a'/'b' at tau=1, 'ab'/'cd'
    // at tau=2 — both found only by the short-string completion pass
    val names = Seq("karla", "karlo", "karl", "brandt", "brandta",
      "xylophone", "zebra", "ka", "a", "b", "ab", "cd").toDF("nm")
    for (tau <- 1 to 2) {
      val got = Entity.passJoin(names, "nm", tau)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val vs = names.collect().map(_.getString(0))
      val brute = (for {
        a <- vs; b <- vs if a < b
        d = {
          val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
            if (i == 0) j else if (j == 0) i else 0)
          for (i <- 1 to a.length; j <- 1 to b.length)
            m(i)(j) = math.min(math.min(m(i - 1)(j), m(i)(j - 1)) + 1,
              m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
          m(a.length)(b.length)
        } if d <= tau
      } yield (a, b, d.toLong)).sortBy(t => (t._1, t._2))
      assert(got.toSeq == brute.toSeq, s"tau=$tau")
    }
  }

  test("passJoin: lossless on a seeded random corpus (short strings, dense near-pairs)") {
    import spark.implicits._
    // alphabet {a,b,c} and lengths 1-8 make near-pairs dense and hit
    // every edge: short-string completion (len <= tau), cross-length
    // pigeonhole slots, identical prefixes. Seeded -> reproducible.
    val rnd = new scala.util.Random(42)
    val names = (1 to 150)
      .map(_ => (0 to rnd.nextInt(8))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      .distinct
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j), m(i)(j - 1)) + 1,
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val df = names.toDF("nm")
    for (tau <- 1 to 2) {
      val got = Entity.passJoin(df, "nm", tau).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val brute = (for {
        a <- names; b <- names if a < b
        d = lev(a, b) if d <= tau
      } yield (a, b, d.toLong)).sortBy(t => (t._1, t._2))
      assert(got == brute,
        s"tau=$tau: ${got.size} found vs ${brute.size} true; " +
          s"missing=${brute.toSet -- got.toSet}")
    }
  }

  test("ppjoinPairs: lossless vs brute-force Jaccard on a seeded random corpus") {
    import spark.implicits._
    // tiny vocabulary + short docs make 3-gram sets densely
    // overlapping — the regime where a broken prefix/positional
    // filter actually loses pairs; seeded -> reproducible
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val corpus = (1L to 60L).map { i =>
      val len = 3 + rnd.nextInt(10)
      (i, (1 to len).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    def shingleSet(t: String): Set[String] =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
        .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val sets = corpus.map { case (i, t) => i -> shingleSet(t) }.toMap
    for (thr <- Seq(300000L, 600000L)) {
      val got = Dedup.ppjoinPairs(df, thr).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = (for {
        a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
        sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        if inter * 1000000L >= (sa.size + sb.size - inter) * thr
      } yield (a, b, inter.toLong)).toSet
      assert(got == brute, s"thr=$thr missing=${brute -- got} " +
        s"extra=${got -- brute}")
    }
  }

  test("ksDrift: planted shift dominates; self-identical strata score zero") {
    import spark.implicits._
    // two strata drawn identically, one shifted by +100: the shifted
    // stratum's support is disjoint from its rest, so KS = 1 exactly;
    // a and b each see a rest that is half identical (the other of
    // the pair) and half shifted (c), so their sup-gap is exactly
    // 1 - 1/2 = 0.5 at the top of the common support — and identical
    // strata must agree to the ppm
    val base = (1 to 200).map(i => ("a", (i % 50).toLong)) ++
      (1 to 200).map(i => ("b", (i % 50).toLong)) ++
      (1 to 200).map(i => ("c", (i % 50) + 100L))
    val df = base.toDF("source", "x")
    val rows = Profile.ksDrift(df, "source", org.apache.spark.sql.functions.col("x"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rows("c") == 1000000L, s"disjoint support must give KS=1: $rows")
    assert(rows("a") == rows("b") && rows("a") == 500000L, rows.toString)
  }

  test("timeWeightedAvg: equals plain mean under equal spacing; plateau dominates burst") {
    import spark.implicits._
    val equal = Seq((1L, 0L, 1L, 10.0), (1L, 60L, 2L, 20.0),
      (1L, 120L, 3L, 30.0))
      .toDF("k", "sec", "id", "v")
      .selectExpr("k", "timestamp_micros(sec * 1000000) AS ts", "id", "v")
    val r1 = TimeSeries.timeWeightedAvg(equal, "k", "ts", "id", "v").head()
    // last reading carries no duration: twa = (1000+2000)/2 = 1500
    assert(r1.getLong(3) == 1500L && r1.getLong(4) == 2000L)
    // a long plateau at 10.00 then a burst of 99.00 readings at the end:
    // twa must stay near the plateau while the mean chases the burst
    val burst = (Seq((1L, 0L, 1L, 10.0), (1L, 1000L, 2L, 99.0),
      (1L, 1001L, 3L, 99.0), (1L, 1002L, 4L, 99.0)))
      .toDF("k", "sec", "id", "v")
      .selectExpr("k", "timestamp_micros(sec * 1000000) AS ts", "id", "v")
    val r2 = TimeSeries.timeWeightedAvg(burst, "k", "ts", "id", "v").head()
    assert(r2.getLong(3) < 1100L && r2.getLong(4) > 5000L, r2.toString)
  }

  test("quantileNormalize: equal-size strata collapse to identical rollups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two same-size strata with disjoint, differently-shaped
    // distributions: after quantile normalization both must report the
    // SAME (min, med, max, sum) — that equality is the whole point of
    // the batch-effect correction
    val rowsIn = (1 to 100).map(i => ("a", i.toLong, i.toLong * 3)) ++
      (1 to 100).map(i => ("b", 1000L + i, 100000L + i * i))
    val df = rowsIn.toDF("src", "id", "x")
    val out = Profile.quantileNormalize(df, "src", "id", col("x"))
      .collect().map(r => (r.getString(0),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    assert(out.length == 2 && out(0)._2 == out(1)._2, out.mkString(";"))
  }

  test("packingAudit: cross-validated against packSegments on the corpus") {
    import org.apache.spark.sql.functions._
    val w = 96
    val audit = Pack.packingAudit(docs, w).collect()
      .map(r => r.getLong(0) -> r).toMap
    val segs = Pack.packSegments(docs, w)
      .groupBy("bucket")
      .agg(countDistinct(col("pack_id")).as("n_packs"),
        sum(when(col("seg_no") === 1, 0L).otherwise(col("seg_len")))
          .as("carried"),
        countDistinct(when(col("seg_no") >= 2, col("doc_id"))).as("nsplit"))
      .collect()
    assert(segs.nonEmpty)
    segs.foreach { r =>
      val a = audit(r.getLong(0))
      assert(a.getLong(3) == r.getLong(1), s"pack count: $r vs $a")
      assert(a.getLong(6) == r.getLong(2), s"carried tokens: $r vs $a")
      assert(a.getLong(5) == r.getLong(3), s"split docs: $r vs $a")
      // split-and-carry is optimal by construction
      assert(a.getLong(3) == (a.getLong(2) + w - 1) / w)
    }
  }

  test("labelNoiseAudit: clean clusters flag nothing; a planted flip is flagged") {
    import spark.implicits._
    // three tight orthogonal clusters of 6; every member's 5-NN are its
    // own cluster, so consensus == own label everywhere — then flip one
    // label and exactly that probe must be flagged
    def vec(axis: Int, jitter: Int): Array[Float] =
      Array.tabulate(6)(i => if (i == axis) 1.0f
        else if (i == (axis + 1 + jitter % 2) % 6) 0.01f * jitter else 0.0f)
    val base = for {
      c <- 0 until 3; j <- 0 until 6
    } yield ((c * 6 + j).toLong, vec(c * 2, j), c)
    val clean = base.toDF("vec_id", "embedding", "label")
    val r1 = Similarity.labelNoiseAudit(clean, 18, 5).collect()
    assert(r1.map(_.getLong(2)).sum == 0, r1.mkString(";"))
    val flipped = base.map { case (id, v, l) =>
      (id, v, if (id == 7L) 2 else l) }.toDF("vec_id", "embedding", "label")
    val r2 = Similarity.labelNoiseAudit(flipped, 18, 5).collect()
    // probe 7 sits in cluster 1 but claims label 2: flagged under label
    // 2; its five cluster-1 neighbors still out-vote it everywhere else
    val byLabel = r2.map(r => r.getInt(0) -> r).toMap
    assert(byLabel(2).getLong(2) == 1 && byLabel(2).getLong(4) == 7L,
      r2.mkString(";"))
    assert(byLabel(0).getLong(2) == 0, r2.mkString(";"))
  }

  test("trendSlope: exact ppm on a linear series; sign flips with direction") {
    import spark.implicits._
    // y = 2x exactly over 10 weeks -> slope exactly 2.000000; reversed
    // -> same magnitude, negative sign; constant -> zero slope
    def ev(g: String, wk: Int, n: Int) = Seq.fill(n)(
      (g, java.sql.Timestamp.valueOf(
        java.time.LocalDate.ofEpochDay(wk * 7L).atStartOfDay())))
    val rowsIn = (0 until 10).flatMap(w => ev("up", w, 2 * w + 1)) ++
      (0 until 10).flatMap(w => ev("down", w, 2 * (9 - w) + 1)) ++
      (0 until 10).flatMap(w => ev("flat", w, 5))
    val df = rowsIn.toDF("event_type", "ts")
    val out = TimeSeries.trendSlope(df, "event_type", "ts")
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out("up") == (1L, 2000000L), out.toString)
    assert(out("down") == (-1L, 2000000L), out.toString)
    assert(out("flat") == (0L, 0L), out.toString)
  }

  test("contentChunkStats: boundaries re-align after an insertion (the CDC property)") {
    import spark.implicits._
    // doc 2 is doc 1 with one token INSERTED at the front: fixed-grid
    // blocks all shift, but content-defined boundaries re-align after
    // the first chunk — most tokens must land in duplicated chunks
    val t = (1 to 400).map(i => s"w${i % 97}tok$i").mkString(" ")
    val df = Seq((1L, t, "s0"), (2L, "zzz " + t, "s0"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.contentChunkStats(df).head()
    val (nTok, dupTok) = (r.getLong(3), r.getLong(5))
    assert(nTok == 801L, r.toString)
    // both copies' re-aligned tails dedup: well over half of all
    // tokens sit in chunks whose fingerprint occurs twice
    assert(dupTok * 2 > nTok, s"CDC re-alignment failed: $r")
  }

  test("personalizedPageRank: mass stays in the seeds' component") {
    import spark.implicits._
    // two disjoint 3-cycles (symmetrized); seeds only in the first:
    // every node of the second component must score exactly 0, and
    // seed-component scores must be positive
    def cyc(base: Long) = Seq((base, base + 1), (base + 1, base + 2),
      (base + 2, base))
    val e0 = cyc(0) ++ cyc(10)
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(Tuple1(0L)).toDF("node")
    val out = Graph.personalizedPageRank(edges, seeds, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 10L, 11L, 12L), out.toString)
    assert(Seq(10L, 11L, 12L).forall(out(_) == 0L), out.toString)
    assert(Seq(0L, 1L, 2L).forall(out(_) > 0L), out.toString)
    // the seed holds the most mass (teleport lands only there)
    assert(out(0L) > out(1L) && out(0L) > out(2L), out.toString)
  }

  test("windowedDedup: re-admitted next window, suppressed within it") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(day.toLong).atStartOfDay())
    val ev = Seq(
      (1L, "click", ts(0), 10L), (1L, "click", ts(1), 11L), // window 0 dup
      (1L, "click", ts(8), 12L),                            // window 1: re-admitted
      (2L, "view", ts(3), 20L))
      .toDF("user_id", "event_type", "ts", "event_id")
    val out = TimeSeries.windowedDedup(ev, Seq("user_id", "event_type"),
      "ts", "event_id", 7).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, "click", 0L, 2L, 10L),
      (1L, "click", 1L, 1L, 12L),
      (2L, "view", 0L, 1L, 20L)), out.mkString(";"))
  }

  test("purgeAudit: conservation and cascade consistency on the corpus") {
    import org.apache.spark.sql.functions._
    val cust = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val ev = Tables.load(spark, dir, "events")
    val victims = cust.where(col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("k"))
    val out = Privacy.purgeAudit(cust, ord, li, ev, victims)
      .collect().map(r => r.getString(0) -> r).toMap
    val counts = Map("customer" -> cust.count(), "orders" -> ord.count(),
      "lineitem" -> li.count(), "events" -> ev.count())
    counts.foreach { case (t, n) =>
      assert(out(t).getLong(1) + out(t).getLong(2) == n, s"$t not conserved")
    }
    // cascade: lineitem purge count == lineitems of purged orders
    val expectLi = li.join(ord.join(victims,
        col("o_custkey") === col("k"), "left_semi"),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(out("lineitem").getLong(1) == expectLi)
    // an empty victim list purges nothing anywhere
    val none = Privacy.purgeAudit(cust, ord, li, ev,
      victims.where(lit(false))).collect()
    assert(none.forall(_.getLong(1) == 0L), none.mkString(";"))
  }

  test("clustersWarmStart: equals cold start on the corpus; converges faster on a chain") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // UNCAPPED generator: a df-capped candidate set is not
    // addition-monotone (see clustersWarmStart scaladoc — the sf0.1
    // spot-check caught the capped variant violating the warm-start
    // precondition)
    val pairs = Dedup.jaccardPairs(docs, 0.2)
    val old = docs.where(col("doc_id") % 5 =!= 4)
    val prior = Dedup.clusters(old, Dedup.jaccardPairs(old, 0.2))
    val warm = Dedup.clustersWarmStart(docs, pairs, prior).collect().toSeq
    val cold = Dedup.clusters(docs, pairs).collect().toSeq
    assert(warm == cold)
    // a 12-node chain: identity init needs ~diameter rounds; an exact
    // prior verifies in one
    val chainDocs = (1L to 12L).toDF("doc_id")
    val chainPairs = (1L to 11L).map(i => (i, i + 1)).toDF("d1", "d2")
    val (coldLbl, coldRounds) = Dedup.propagateMinLabels(chainPairs,
      chainDocs.select(col("doc_id"), col("doc_id").as("cluster_id")))
    val exact = chainDocs.select(col("doc_id"), lit(1L).as("cluster_id"))
    val (warmLbl, warmRounds) = Dedup.propagateMinLabels(chainPairs, exact)
    assert(coldLbl.collect().forall(_.getLong(1) == 1L))
    assert(warmLbl.collect().forall(_.getLong(1) == 1L))
    assert(warmRounds == 1 && coldRounds > warmRounds,
      s"cold=$coldRounds warm=$warmRounds")
  }

  test("rankCorrelation: exactly +-1.000000 on monotone series") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, m))
    val ev = ((1 to 20).map(i => ("mono", ts(i), i.toLong, i * 1.0)) ++
      (1 to 20).map(i => ("anti", ts(i), 100L + i, (21 - i) * 1.0)))
      .toDF("event_type", "ts", "event_id", "value")
    val out = TimeSeries.rankCorrelation(ev, "event_type", "ts",
      "event_id", "value").collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out("mono") == (1L, 1000000L), out.toString)
    assert(out("anti") == (-1L, 1000000L), out.toString)
  }

  test("sourceCosineMatrix: identical sources score exactly 1.0000; disjoint pairs absent") {
    import spark.implicits._
    // a and b are token-identical (cos^2 = 10000 exactly), c shares
    // nothing with them (pair absent — cos = 0 by omission)
    val df = Seq(
      (1L, "alpha beta beta gamma", "a"), (2L, "alpha beta", "a"),
      (3L, "beta alpha alpha beta gamma", "b"),
      (4L, "zzz qqq rrr", "c"))
      .toDF("doc_id", "text", "source")
    val out = TextStats.sourceCosineMatrix(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // a: alpha 2, beta 3, gamma 1; b: alpha 2, beta 2, gamma 1 — not
    // identical counts, so just assert symmetry-free keys + the exact
    // identical-vector case via a self-built twin
    assert(!out.contains(("a", "c")) && !out.contains(("b", "c")),
      out.toString)
    val twin = Seq((1L, "x y y z", "s1"), (2L, "x y y z", "s2"))
      .toDF("doc_id", "text", "source")
    val t = TextStats.sourceCosineMatrix(twin).head()
    assert((t.getString(0), t.getString(1), t.getLong(2)) ==
      ("s1", "s2", 10000L), t.toString)
  }

  test("cusumChart: flat series never alarms; a sustained spike alarms at its week") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(day.toLong).atStartOfDay())
    // flat: 10 events/week x 10 weeks (mu=10, slack 1 — s pinned at 0);
    // spike: 10/week x 9 then 110 in week 9 (mu=20, slack 2 —
    // s jumps to 88 > 20 exactly at offset 9)
    val ev = ((0 until 10).flatMap(w => (1 to 10).map(i =>
        ("flat", ts(w * 7)))) ++
      (0 until 9).flatMap(w => (1 to 10).map(i => ("spike", ts(w * 7)))) ++
      (1 to 110).map(i => ("spike", ts(9 * 7))))
      .toDF("event_type", "ts")
    val out = TimeSeries.cusumChart(ev, "event_type", "ts").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(out("flat") == (10L, 10L, 0L, -1L, 0L), out.toString)
    assert(out("spike") == (10L, 20L, 1L, 9L, 88L), out.toString)
  }

  test("intervalCoverage: overlaps merge, gaps don't count") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq((1L, at(0), 1L), (1L, at(300), 2L), (1L, at(10000), 3L))
      .toDF("user_id", "ts", "event_id")
    val r = TimeSeries.intervalCoverage(ev, "user_id", "ts", "event_id",
      600L).head()
    // covered = 300 (overlapped head) + 600 + 600 = 1500 s of the
    // 10600 s span
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (3L, 1500L, 10600L),
      r.toString)
    assert(r.getLong(4) == 1500L * 1000000L / 10600L, r.toString)
  }

  test("intervalCoverage: ppm exact past the BIGINT edge (years of covered uptime)") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // 365 day-long covers every other day over ~2 years: covered_us
    // = 365 d = 3.15e13 µs, so covered_us * 1e6 = 3.15e19 > Long.Max
    // — the ppm numerator must run in DECIMAL, not wrap negative
    val day = 86400L
    val ev = (0L until 365L).map(k => (1L, at(k * 2 * day), k))
      .toDF("user_id", "ts", "event_id")
    val r = TimeSeries.intervalCoverage(ev, "user_id", "ts", "event_id",
      day).head()
    val coveredUs = BigInt(365L) * day * 1000000L
    val spanUs = BigInt(364L * 2 * day + day) * 1000000L
    assert(r.getLong(2) == 365L * day && r.getLong(3) == 364L * 2 * day + day,
      r.toString)
    assert(BigInt(r.getLong(4)) == coveredUs * 1000000 / spanUs, r.toString)
    assert(r.getLong(4) > 0, s"ppm wrapped negative: $r")
  }

  test("percentileTrend: exact slope on a deterministic weekly ramp") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(day.toLong).atStartOfDay())
    // week w has the single value w dollars -> weekly p50 = p90 = 100w
    // cents, slope exactly 100 cents/week = 100000000 ppm
    val ev = (0 until 8).map(w => ("ramp", ts(w * 7), w * 1.0))
      .toDF("event_type", "ts", "value")
    val r = TimeSeries.percentileTrend(ev, "event_type", "ts", "value")
      .head()
    assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      (1L, 100000000L, 1L, 100000000L), r.toString)
  }

  test("EXCLUDE emulation: NULL-faithful on empty and all-null surviving sets") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // p=a: single row (EXCLUDE CURRENT ROW survives nothing -> NULL;
    // EXCLUDE GROUP over an isolated date -> NULL; EXCLUDE TIES keeps
    // the current row -> its own value). p=b: the current row's only
    // neighbors carry NULL values -> ex_cur must be NULL, not 0.
    val df = Seq(
      ("a", 0L, 1L, Some(10L)),
      ("b", 0L, 2L, Option.empty[Long]), ("b", 0L, 3L, Some(7L)),
      ("b", 0L, 4L, Option.empty[Long]))
      .toDF("p", "d", "k", "v")
    val rows = Window.partitionBy("p").orderBy(col("d"), col("k"))
      .rowsBetween(-2, 2)
    val range = Window.partitionBy("p").orderBy(col("d"))
      .rangeBetween(-7, 7)
    val peers = Window.partitionBy("p", "d")
    val out = df.select(col("p"), col("k"),
        graft.engine.Dialect.sumExcludeCurrentRow(col("v"), rows)
          .as("ex_cur"),
        graft.engine.Dialect.sumExcludeGroup(col("v"), range, peers)
          .as("ex_grp"),
        graft.engine.Dialect.sumExcludeTies(col("v"), range, peers)
          .as("ex_ties"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(out(("a", 1L)) == (None, None, Some(10L)), out.toString)
    // b/k=3: both neighbors are NULL-valued -> every mode that drops
    // the current row has an all-null surviving set
    assert(out(("b", 3L)) == (None, None, Some(7L)), out.toString)
  }

  test("threeWayMerge: every status reachable; conflicts keep base; identical branches converge") {
    import spark.implicits._
    // base keys 1..8; a: +10 on {1,4,7}, removes 5; b: +10 on {4},
    // +20 on {7}, removes {5,6}
    val base = (1L to 8L).map(k => (k, k * 100)).toDF("k", "v")
    val a = base.where($"k" =!= 5)
      .selectExpr("k", "v + IF(k IN (1, 4, 7), 10, 0) AS v")
    val b = base.where(!$"k".isin(5L, 6L))
      .selectExpr("k", "v + IF(k = 4, 10, IF(k = 7, 20, 0)) AS v")
    val out = Cdc.threeWayMerge(base, a, b, "k", "v").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("a_only", 110L))      // only a changed
    assert(out(4L) == ("both_same", 410L))   // identical change
    assert(out(7L) == ("conflict", 700L))    // divergent -> keep base
    assert(!out.contains(5L))                // both removed -> gone
    assert(!out.contains(6L))                // b removed, a untouched
    assert(out(2L) == ("unchanged", 200L))
    // merging a branch with itself must reproduce it (no conflicts)
    val self = Cdc.threeWayMerge(base, a, a, "k", "v").collect()
    assert(self.forall(_.getString(1) != "conflict"))
    assert(self.map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq ==
      a.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    // ADD-ADD conflict: key 9 absent from base, added divergently on
    // both branches — the merged state reverts to the (absent) base,
    // so a bare present filter would swallow it; it must surface as a
    // conflict with null value / present=false. Key 10 added
    // IDENTICALLY on both sides converges as both_same and survives.
    val a2 = a.union(Seq((9L, 900L), (10L, 1000L)).toDF("k", "v"))
    val b2 = b.union(Seq((9L, 901L), (10L, 1000L)).toDF("k", "v"))
    val out2 = Cdc.threeWayMerge(base, a2, b2, "k", "v").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out2(9L).getString(1) == "conflict", out2(9L).toString)
    assert(out2(9L).isNullAt(2) && !out2(9L).getBoolean(3),
      out2(9L).toString)
    assert(out2(10L).getString(1) == "both_same" &&
      out2(10L).getLong(2) == 1000L && out2(10L).getBoolean(3),
      out2(10L).toString)
  }

  test("matryoshkaRecall: monotone in width; full width is exact") {
    val out = Similarity.matryoshkaRecall(emb, 20, 3, Seq(8, 16, 32, 64))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out(64L) == 1000000L, out.toString)
    assert(out.keySet == Set(8L, 16L, 32L, 64L))
    // wider prefixes cannot lose recall on average... individual
    // non-monotonicity is possible in principle, so assert the weaker
    // sanity bound: every width retrieves something and none exceeds 1
    assert(out.values.forall(v => v > 0L && v <= 1000000L), out.toString)
  }

  test("seasonalOutliers: planted weekday spike flagged hi, silent day flagged lo") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(day.toLong).atStartOfDay())
    // 4 weeks, 10 events every day — except day 10 has 50 (spike) and
    // day 17 has 0 (outage). Weekday means stay ~10, so 50 > 2x mean
    // and 0 < mean/2.
    val days = (0 until 28).filter(_ != 17)
    val ev = days.flatMap(d => (1 to (if (d == 10) 50 else 10)).map(_ =>
      ("t", ts(d)))).toDF("event_type", "ts")
    val r = TimeSeries.seasonalOutliers(ev, "event_type", "ts").head()
    assert(r.getLong(1) == 28L, r.toString)
    assert(r.getLong(2) >= 1L && r.getLong(3) >= 1L, r.toString)
    assert(r.getLong(4) == 10L, s"worst hi day should be the spike: $r")
  }

  test("merkleDiff: identical replicas diff empty; one flipped row flags exactly its block") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = (1L to 2000L).map(k => (k, k * 3)).toDF("k", "v")
    assert(Expectations.merkleDiff(t, t.repartition(7), "k", "v", 256L)
      .collect().isEmpty, "identical content must checksum equal under any layout")
    val flipped = t.selectExpr("k", "v + IF(k = 777, 1, 0) AS v")
    val d = Expectations.merkleDiff(t, flipped, "k", "v", 256L).collect()
    assert(d.length == 1 && d.head.getLong(0) == 777L / 256L, d.mkString(";"))
    assert(d.head.getLong(1) == d.head.getLong(2), "same row count, different content")
  }

  test("merkleDiff: a replica missing whole blocks reports them with zero count and NULL checksum") {
    import spark.implicits._
    val t = (1L to 1024L).map(k => (k, k * 3)).toDF("k", "v")
    val truncated = t.where($"k" < 512L)
    val d = Expectations.merkleDiff(t, truncated, "k", "v", 256L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.isNullAt(4))).toMap
    // blocks 2..4 are entirely absent on the truncated side (block 1
    // loses only part: keys 512..255? no — keys 1..511 survive, so
    // block 1 [256..511] is intact and blocks 2..4 vanish)
    assert(d.keySet == Set(2L, 3L, 4L), d.toString)
    d.values.foreach { case (na, nb, xbNull) =>
      assert(na > 0 && nb == 0L && xbNull, d.toString)
    }
  }

  test("neardupEvidence: evidence phrases genuinely occur in both documents") {
    import org.apache.spark.sql.functions._
    val ev = Dedup.neardupEvidence(docs, 0.2, 2).collect()
    assert(ev.nonEmpty)
    val texts = docs.select(col("doc_id"),
        lower(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    ev.take(10).foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      Seq(4, 5, 6).map(r.get).collect { case s: String => s }.foreach { e =>
        // shingle words all appear in both texts (tokenization strips
        // punctuation, so check word-wise)
        e.split(" ").foreach { w =>
          assert(texts(d1).contains(w) && texts(d2).contains(w),
            s"evidence '$e' not in both of ($d1, $d2)")
        }
      }
    }
  }

  test("audienceOverlap: bitmask grid equals direct distinct counts") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
    val out = Profile.audienceOverlap(ev, "user_id", "event_type")
      .collect()
    assert(out.nonEmpty)
    val per = ev.select("event_type", "user_id").distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet)
      .toMap
    out.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == per(a).size && r.getLong(3) == per(b).size, r)
      assert(r.getLong(4) == (per(a) & per(b)).size, s"n_both: $r")
      assert(r.getLong(5) == (per(a) | per(b)).size, s"n_either: $r")
    }
  }

  test("audienceOverlap: a 64th type throws instead of silently wrapping the bitmask") {
    // shiftleft on BIGINT takes the shift mod 64 — at 64+ types two
    // types would share a bit and every count would be silently wrong;
    // the contract is to fail loudly. 63 types must still work.
    import spark.implicits._
    val wide = (0L until 200L).map(u => (u, s"t${u % 64}"))
      .toDF("user_id", "event_type")
    val e = intercept[IllegalArgumentException] {
      Profile.audienceOverlap(wide, "user_id", "event_type").collect()
    }
    assert(e.getMessage.contains("63"), e.getMessage)
    val ok = (0L until 200L).map(u => (u, s"t${u % 63}"))
      .toDF("user_id", "event_type")
    val out = Profile.audienceOverlap(ok, "user_id", "event_type").collect()
    assert(out.length == 63 * 62 / 2)
    // with users striped u % 63, distinct types co-occur only when a
    // user hit both — u<63*3 ensures some overlap rows exist and the
    // per-type audience counts are exact
    assert(out.forall(r => r.getLong(2) > 0 && r.getLong(3) > 0))
  }

  test("multimodalConsistency: categories partition the union of both pair sets") {
    import org.apache.spark.sql.functions._
    val out = Multimodal.multimodalConsistency(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("both", "image_only", "text_only"))
    val t = Dedup.jaccardPairs(docs, 0.2, Some(2))
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val m = Multimodal.withBmpPayload(docs)
      .select(col("doc_id"), md5(col("payload")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val i = (for {
      (da, ha) <- m; (db, hb) <- m if da < db && ha == hb
    } yield (da, db)).toSet
    assert(out("both") == (t & i).size, out.toString)
    assert(out("text_only") == (t -- i).size, out.toString)
    assert(out("image_only") == (i -- t).size, out.toString)
  }

  test("tokenBucketAudit: burst admits, immediate repeat rejects, refill re-admits") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // rate 1/h burst 1: t=0 admitted (full bucket), t=60s rejected
    // (bucket empty, 1 min refills only 1/60 token), t=3601s admitted
    // (a full hour refilled), t=3610s rejected again
    val ev = Seq((1L, at(0), 1L), (1L, at(60), 2L),
      (1L, at(3601), 3L), (1L, at(3610), 4L))
      .toDF("user_id", "ts", "event_id")
    val r = TimeSeries.tokenBucketAudit(ev, "user_id", "ts", "event_id",
      1L, 1L).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (4L, 2L, 2L, 2L), r.toString)
  }

  test("tokenBucketAudit: a months-long gap at a high rate refills without BIGINT wrap") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // rate 1e6/h: an unclamped refill term gap_us * rate wraps once
    // gap > ~9.2e12 µs ≈ 107 days. Drain the burst-2 bucket at t=0,
    // then return after a YEAR: the bucket must be FULL again (both
    // follow-ups admitted), not poisoned by a negative wrapped refill
    val yr = 365L * 86400L
    val ev = Seq((1L, at(0), 1L), (1L, at(1), 2L), (1L, at(2), 3L),
      (1L, at(yr), 4L), (1L, at(yr + 1), 5L), (1L, at(yr + 2), 6L))
      .toDF("user_id", "ts", "event_id")
    val r = TimeSeries.tokenBucketAudit(ev, "user_id", "ts", "event_id",
      1000000L, 2L).head()
    // at rate 1e6/h every 1 s gap refills 1e12 units >> cost 3.6e9,
    // so ALL six must be admitted. Unclamped, the year gap's refill
    // (3.15e19) wraps to ~-5.4e18, poisons the bucket, and events
    // 4-6 are all rejected — the exact corruption this guards.
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (6L, 6L, 0L),
      r.toString)
  }

  test("weightedMedian: volume-weighted answer differs from the row median by design") {
    import spark.implicits._
    // prices 1,2,3 with weights 1,1,10: half the 12 units of volume
    // sit at price 3 — weighted median 3, row median 2
    val df = Seq(("g", 1L, 1L, 1L), ("g", 2L, 1L, 2L), ("g", 3L, 10L, 3L))
      .toDF("grp", "v", "w", "id")
    val r = Profile.weightedMedian(df, "grp",
      org.apache.spark.sql.functions.col("v"),
      org.apache.spark.sql.functions.col("w"),
      org.apache.spark.sql.functions.col("id")).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == (3L, 12L, 3L),
      r.toString)
  }

  test("timeToConvert and hapaxRatio: structural invariants hold on the corpus") {
    val ev = Tables.load(spark, dir, "events")
    val ttc = TimeSeries.timeToConvert(ev, "user_id", "ts", "event_type",
      "signup", "purchase").collect()
    assert(ttc.nonEmpty)
    ttc.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= 1000000L, r)
      if (!r.isNullAt(4))
        assert(r.getLong(4) <= r.getLong(5), s"p50 > p90: $r")
    }
    val hx = TextStats.hapaxRatio(docs).collect()
    assert(hx.nonEmpty)
    hx.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(2) <= r.getLong(1), r)
      assert(r.getLong(4) <= 1000000L, r)
    }
  }

  test("activityStreaks and rollingActiveUsers: crafted timelines answer exactly") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.ofEpochDay(day.toLong).atStartOfDay())
    val ev = (Seq(1, 2, 3, 7, 8).map(d => (1L, ts(d))) ++
      Seq((2L, ts(10)))).toDF("user_id", "ts")
    val st = TimeSeries.activityStreaks(ev, "user_id", "ts").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(st(1L) == (5L, 3L, 1L), st.toString)
    assert(st(2L) == (1L, 1L, 10L), st.toString)
    val ra = TimeSeries.rollingActiveUsers(ev, "user_id", "ts", 28)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(ra(10L) == (1L, 2L), ra.toString)   // dau 1, trailing-28 2
    assert(ra(5L) == (0L, 1L), ra.toString)    // silent day, u1 trailing
    assert(ra.values.forall { case (d, w) => w >= d }, ra.toString)
  }

  test("rollingActiveUsersApprox: within 5% of the exact tier on the corpus, same calendar") {
    // the sliding-HLL tier's contract: identical day grid, and every
    // dau/wau estimate inside the standard-HLL error envelope of the
    // exact answer (lgK=12 -> rse ~1.6%; 5% is the hard gate)
    val ev = Tables.load(spark, dir, "events")
    val exact = TimeSeries.rollingActiveUsers(ev, "user_id", "ts", 7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = TimeSeries.rollingActiveUsersApprox(ev, "user_id", "ts", 7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet, "calendar grids differ")
    def within(est: Long, truth: Long): Boolean =
      math.abs(est - truth) <= math.max(1L, (truth * 0.05).toLong)
    exact.foreach { case (ep, (dau, wau)) =>
      val (dEst, wEst) = approx(ep)
      assert(within(dEst, dau), s"day $ep dau est $dEst vs exact $dau")
      assert(within(wEst, wau), s"day $ep wau est $wEst vs exact $wau")
    }
  }

  test("nextEventAccuracy and invoiceReconciliation: crafted cases answer exactly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, m))
    // one user alternating A,B,A,B,A: A->B twice, B->A twice — both
    // types perfectly predictable in-sample
    val ev = Seq(("A", 1), ("B", 2), ("A", 3), ("B", 4), ("A", 5))
      .zipWithIndex.map { case ((t, m), i) => (1L, ts(m), i.toLong, t) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val acc = TimeSeries.nextEventAccuracy(ev, "user_id", "ts",
      "event_id", "event_type").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getString(2), r.getLong(4))).toMap
    assert(acc("A") == (2L, "B", 1000000L), acc.toString)
    assert(acc("B") == (2L, "A", 1000000L), acc.toString)
    // order 1 reconciles exactly; order 2 is a cent short; order 3 has
    // no lines
    val ords = Seq((1L, "O", 21.60), (2L, "O", 10.00), (3L, "F", 5.00))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val lis = Seq((1L, 10.00, 0.10, 0.20), (1L, 10.00, 0.00, 0.08),
      (2L, 9.99, 0.00, 0.00))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val rec = Expectations.invoiceReconciliation(ords, lis).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // order 1: 10*0.9*1.2 + 10*1.08 = 10.80 + 10.80 = 21.60 exact
    assert(rec("O") == (2L, 0L, 1L, 1L, 1L), rec.toString)
    assert(rec("F") == (1L, 1L, 0L, 0L, 0L), rec.toString)
  }

  test("phraseSearch: crafted corpus answers exactly; exact is a subset of proximity") {
    import spark.implicits._
    // (big,cat): adjacent twice in doc 1 + once in doc 2; gap-2 in
    // doc 3 (proximity-only); (red,dog): adjacent once in doc 3 and
    // twice in doc 5 — both reach exact-count 3, every other bigram 1
    val docs = Seq(
      (1L, "big cat big cat sits"),
      (2L, "a big cat naps"),
      (3L, "big old cat runs red dog"),
      (4L, "nothing here"),
      (5L, "red dog barks red dog")).toDF("doc_id", "text")
    val out = TextStats.phraseSearch(docs, 2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Set(("big", "cat"), ("red", "dog")), out.toString)
    // big cat: exact 3 in docs {1,2}; within-3 adds doc1's big@1-cat@4
    // (gap 3) and doc3's big@1-cat@3 (gap 2) -> 5 occ in 3 docs
    assert(out(("big", "cat")) == (3L, 2L, 5L, 3L), out.toString)
    assert(out(("red", "dog")) == (3L, 2L, 3L, 2L), out.toString)
    out.values.foreach { case (oe, de, ow, dw) =>
      assert(oe <= ow && de <= dw, "exact must be a subset of proximity")
    }
  }

  test("curriculumOrder: tiers serve in order, deterministic across runs, seed reshuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val rows = (1L to 600L).toDF("doc_id")
    val tier = expr("doc_id % 3")
    val a = Sampling.curriculumOrder(rows, "doc_id", tier, "42").collect()
    val b = Sampling.curriculumOrder(rows, "doc_id", tier, "42").collect()
    assert(a.toSeq == b.toSeq, "curriculum must be reproducible")
    val tiers = a.map(_.getLong(2))
    assert(tiers.sameElements(tiers.sorted), "tiers must be nondecreasing")
    val ranks = a.map(_.getLong(0))
    assert(ranks.forall(r => (r - 1) % 97 == 0) && ranks.head == 1L)
    assert(ranks.length == 7, ranks.mkString(",")) // 600 rows -> 1..583
    // a different seed must reshuffle within tiers: 7 sampled slots
    // from 200-row tiers agreeing by chance is ~(1/200)^7
    val c = Sampling.curriculumOrder(rows, "doc_id", tier, "7").collect()
    assert(c.map(_.getLong(1)).toSeq != a.map(_.getLong(1)).toSeq,
      "seed must change the within-tier order")
  }

  test("blockingQuality: degenerate blockings bound the metrics; lost pair detected exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, lit}
    // aa~ab (dist 1, same first char: found), xy~zy (dist 1, first
    // chars differ: LOST by first-char blocking), qq far from all
    val recs = Seq("aa", "ab", "xy", "zy", "qq").toDF("nm")
    val r = Entity.blockingQuality(recs, "nm", 1,
      expr("substr(name, 1, 1)")).head()
    // n=5, all_pairs=10, candidates: only (aa,ab) share a first char
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (5L, 10L, 1L, 2L, 1L), r.toString)
    assert(r.getLong(5) == 900000L, s"reduction: $r")   // (10-1)/10
    assert(r.getLong(6) == 500000L, s"completeness: $r") // 1 of 2
    // all-in-one-block: completeness 1e6, reduction 0
    val full = Entity.blockingQuality(recs, "nm", 1, lit("k")).head()
    assert(full.getLong(6) == 1000000L && full.getLong(5) == 0L,
      full.toString)
    // the Column => Column overload needs no alias knowledge and
    // must agree exactly with the aliased-Column form
    val viaFn = Entity.blockingQuality(recs, "nm", 1,
      (nm: org.apache.spark.sql.Column) =>
        org.apache.spark.sql.functions.substring(nm, 1, 1)).head()
    assert(viaFn == r, s"overload disagrees: $viaFn vs $r")
  }

  test("audioClippingAudit: real sample decode matches the capture-formula twin per doc") {
    val out = Multimodal.audioClippingAudit(
      Multimodal.withWavPayload(docs)).collect()
    val twin = docs.select("doc_id", "n_chars").collect().map { r =>
      val words = ((r.getLong(1) % 500 + 50) * (1 + r.getLong(1) % 2)).toInt
      def v(j: Int): Long =
        514L * j + 256 - (if (j >= 64) 65536L else 0L)
      val vals = (0 until words).map(w => math.abs(v(w % 128)))
      (r.getLong(0), words.toLong, vals.count(_ >= 32000L).toLong,
        vals.max, vals.min)
    }.sortBy(_._1).toSeq
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == twin)
  }

  test("labelCentroidDrift: identical populations drift zero; a planted shift is exact") {
    import spark.implicits._
    // quarters are exactly representable floats, so the +0.5 shift
    // quantizes to EXACTLY 5000 per dim (0.1f would floor to 999/1000
    // asymmetries)
    val base = (0 until 8).map(_.toFloat / 4f).toArray
    val shifted = base.map(_ + 0.5f)
    val emb2 = ((1L to 4L).map(i => (i, base, 0)) ++
      (5L to 8L).map(i => (i, base, 1)) ++
      (9L to 12L).map(i => (i, shifted, 2)))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroidDrift(emb2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(out((0L, 1L)) == 0L, out.toString)
    // shift of +0.5 on every dim: quantized 5000 per dim, 8 dims
    assert(out((0L, 2L)) == 8L * 5000L * 5000L, out.toString)
    assert(out((1L, 2L)) == out((0L, 2L)), out.toString)
  }

  test("lDiversityAudit: homogeneous class caught by l even when k passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A: 5 rows, ONE sensitive value (k ok at 3, l-violating at 2);
    // B: 2 rows, two values (k-violating, l ok); C: 4 rows, 3 values
    val rows = Seq.fill(5)(("A", "x", 1L)) ++
      Seq(("B", "y", 1L), ("B", "y", 2L)) ++
      Seq(("C", "z", 1L), ("C", "z", 2L), ("C", "z", 3L), ("C", "z", 1L))
    val df = rows.toDF("q1", "q2", "s")
    val r = Privacy.lDiversityAudit(df, Seq("q1", "q2"), col("s"), 3L, 2L)
      .head()
    assert((r.getLong(0), r.getLong(1)) == (3L, 11L), r.toString)
    assert((r.getLong(2), r.getLong(3)) == (1L, 2L), s"k axis: $r")
    assert((r.getLong(4), r.getLong(5)) == (1L, 5L), s"l axis: $r")
    assert((r.getLong(6), r.getLong(7)) == (2L, 1L), r.toString)
  }

  test("ewmaChart: hand-computed integer fold; spike alarms on the doubling rule") {
    import spark.implicits._
    def ts(day: Int, i: Int) = new java.sql.Timestamp(
      day * 86400000L + i * 1000L)
    // 4 events/day for days 0-3 (e stays 4), 16 on day 4: 16 > 2*4 ->
    // alarm at x=4, e' = (16 + 28) div 8 = 5
    val ev = ((0 to 3).flatMap(d => (1 to 4).map(i => ("t", ts(d, i)))) ++
      (1 to 16).map(i => ("t", ts(4, i)))).toDF("event_type", "ts")
    val r = TimeSeries.ewmaChart(ev, "event_type", "ts").head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (5L, 1L, 4L, 5L), r.toString)
    // a silent (zero-filled) day decays the level: days 0,2 active
    // only -> day1 y=0: e = (0 + 7*4) div 8 = 3; day2 y=16 > 6 alarms
    val ev2 = ((1 to 4).map(i => ("u", ts(0, i))) ++
      (1 to 16).map(i => ("u", ts(2, i)))).toDF("event_type", "ts")
    val r2 = TimeSeries.ewmaChart(ev2, "event_type", "ts").head()
    assert((r2.getLong(1), r2.getLong(2), r2.getLong(3)) == (3L, 1L, 2L),
      r2.toString)
  }

  test("countMinCalibration: estimates only overcount; a wide sketch is exact here") {
    val ev = Tables.load(spark, dir, "events")
    val out = graft.ext.Rollup.countMinCalibration(ev, "event_type")
      .collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"count-min undercounted: $r"))
    // 5 types into 65536 buckets x 4 rows: no all-rows collision, so
    // the estimate equals truth — the calibration says "wide enough"
    val wide = graft.ext.Rollup
      .countMinCalibration(ev, "event_type", 4, 65536).collect()
    wide.foreach(r => assert(r.getLong(2) == r.getLong(1), r.toString))
  }

  test("bradleyTerry: strength-of-schedule separates equal win rates; counts exact") {
    import spark.implicits._
    def duel(u: Long, winT: String, loseT: String) = Seq(
      (u, new java.sql.Timestamp(1000L), u * 10, winT, 2.0),
      (u, new java.sql.Timestamp(2000L), u * 10 + 1, loseT, 1.0))
    // A>B x2, B>C x2, D>B x1, E>C x1: D and E both 1.0 win rate, but
    // D beat the STRONGER opponent — BT must rank D above E, which a
    // plain win-rate table cannot do
    val ev = (duel(1, "A", "B") ++ duel(2, "A", "B") ++
      duel(3, "B", "C") ++ duel(4, "B", "C") ++
      duel(5, "D", "B") ++ duel(6, "E", "C"))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = graft.ext.Preference.bradleyTerry(ev, 3).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out("A")._1 == 2L && out("A")._2 == 2L, out.toString)
    assert(out("B")._1 == 2L && out("B")._2 == 5L, out.toString)
    assert(out("C")._1 == 0L && out("C")._2 == 3L, out.toString)
    val rank = out.view.mapValues(_._4).toMap
    assert(rank("D") < rank("E"), s"schedule strength lost: $out")
    assert(rank("A") < rank("B") && rank("B") < rank("C"), out.toString)
    assert(rank("C") == 5L, out.toString)
    assert(out("C")._3 == 0L, s"zero-win type must fix to 0: $out")
    // reproducible bit-for-bit, and more rounds keep the ordering
    val again = graft.ext.Preference.bradleyTerry(ev, 3).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(again == rank, s"not reproducible: $again vs $rank")
    val deeper = graft.ext.Preference.bradleyTerry(ev, 6).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(deeper("D") < deeper("E") && deeper("C") == 5L,
      s"ordering unstable in later rounds: $deeper")
  }

  test("contrastiveNegatives: k per anchor, never the anchor's label, reproducible") {
    val out = Similarity.contrastiveNegatives(emb, 20, 5).collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val byAnchor = out.groupBy(_.getLong(0))
    assert(byAnchor.keySet == labels.keySet.filter(_ < 20), "anchor set")
    byAnchor.foreach { case (a, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 5L),
        s"anchor $a ranks")
      rows.foreach { r =>
        assert(labels(r.getLong(2)) == r.getLong(3), r.toString)
        assert(r.getLong(3) != labels(a),
          s"anchor $a drew a same-label negative: $r")
      }
    }
    val again = Similarity.contrastiveNegatives(emb, 20, 5).collect()
    assert(again.map(_.toString).toSeq == out.map(_.toString).toSeq)
  }

  test("ragChunks: exact manifests, full coverage, natural short tail, no empty docs") {
    import spark.implicits._
    // 10 tokens at N=4/overlap=1 (step 3): starts 1,4,7 all len 4;
    // 11 tokens: starts 1,4,7,10 with a natural len-2 tail;
    // 3 tokens (< N): one whole-doc chunk; empty text: absent
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 11).map(i => s"w$i").mkString(" ")),
      (3L, "a b c"), (4L, "")).toDF("doc_id", "text")
    val out = TextStats.ragChunks(docs, 4, 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(!out.keySet.exists(_._1 == 4L), "empty doc must have no chunks")
    assert(out((1L, 0L)) == (1L, 4L, "w1", "w4"), out.toString)
    assert(out((1L, 2L)) == (7L, 4L, "w7", "w10"), out.toString)
    assert(out((2L, 3L)) == (10L, 2L, "w10", "w11"), out.toString)
    assert(out((3L, 0L)) == (1L, 3L, "a", "c"), out.toString)
    // coverage: chunk spans tile each doc with no gap (next start =
    // prev start + step) and the last chunk ends at n_tok
    Seq(1L -> 10L, 2L -> 11L, 3L -> 3L).foreach { case (d, n) =>
      val ch = out.collect { case ((`d`, c), v) => (c, v._1, v._2) }
        .toSeq.sortBy(_._1)
      ch.sliding(2).foreach {
        case Seq((_, s1, _), (_, s2, _)) => assert(s2 == s1 + 3)
        case _ =>
      }
      assert(ch.last._2 + ch.last._3 - 1 == n, s"doc $d tail")
    }
  }

  test("snapshotDrift: added/removed/null-shift/row-shift all surface exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val v1 = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("b")),
      (4L, None)).toDF("k", "s")
    val v2 = Seq((1L, Option.empty[String], 7L),
      (2L, Some("b"), 8L)).toDF("k", "s", "extra")
      .drop("zzz")
    val out = Profile.snapshotDrift(v1, v2).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("k", "s", "extra"))
    assert(out("extra").getString(1) == "added" &&
      out("extra").getLong(2) == -1L && out("extra").getLong(6) == -1L)
    assert(out("k").getString(1) == "common" &&
      out("k").getLong(2) == 4L && out("k").getLong(3) == 2L)
    // null rate: v1 1/4 = 250000 ppm; v2 1/2 = 500000 ppm
    assert(out("s").getLong(4) == 250000L &&
      out("s").getLong(5) == 500000L, out("s").toString)
    // distinct: countDistinct ignores nulls -> v1 {a,b}=2, v2 {b}=1
    assert(out("s").getLong(6) == 2L && out("s").getLong(7) == 1L)
    // a removed column: diff against a narrower v2
    val out2 = Profile.snapshotDrift(v1, v2.drop("s")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out2("s") == "removed", out2.toString)
    // EMPTY-but-present side: 0 ppm with rows=0, never the -1
    // column-absent sentinel — schema drift and an empty snapshot
    // must stay distinguishable
    val out3 = Profile.snapshotDrift(v1, v2.where(lit(false))).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out3("k").getString(1) == "common" &&
      out3("k").getLong(3) == 0L && out3("k").getLong(5) == 0L,
      out3("k").toString)
  }

  test("joinCardinalityAudit: uniform FK estimates exactly; skew exposes the estimator") {
    import spark.implicits._
    // uniform: 12 facts over 4 keys joining a 4-row dim -> est =
    // 12*4/4 = 12 = actual (err 0)
    val factU = (1L to 12L).map(i => i % 4).toDF("fk")
    val dim = (0L to 3L).toDF("k")
    // skewed: 12 facts ALL on key 0 -> actual 12, est still 12*4/4
    // ... so skew the DIM side instead: dim2 has key 0 duplicated 4x
    // -> actual = 12*4 = 48 but est = 12*7/max(4,4)... craft exact:
    val factS = Seq.fill(12)(0L).toDF("fk")
    val dimS = (Seq.fill(4)(0L) ++ Seq(1L, 2L, 3L)).toDF("k")
    val out = Profile.joinCardinalityAudit(Seq(
      ("uniform", factU, "fk", dim, "k"),
      ("skewed", factS, "fk", dimS, "k"))).collect()
      .map(r => r.getString(0) -> r).toMap
    val u = out("uniform")
    assert((u.getLong(1), u.getLong(3), u.getLong(5), u.getLong(6),
      u.getLong(7)) == (12L, 4L, 12L, 12L, 0L), u.toString)
    // skewed: n_l=12 n_r=7 ndv_l=1 ndv_r=4 -> est = 12*7 div 4 = 21;
    // actual = 12 facts x 4 copies of key 0 = 48; err = 27/48
    val s = out("skewed")
    assert((s.getLong(5), s.getLong(6)) == (21L, 48L), s.toString)
    assert(s.getLong(7) == 27L * 1000000L / 48L, s.toString)
  }

  test("provenanceChains: identical histories agree; any reorder/injection flips the hash") {
    import spark.implicits._
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val base = Seq((1L, at(1), 10L), (1L, at(2), 11L), (1L, at(3), 12L),
      (2L, at(1), 10L), (2L, at(2), 11L), (2L, at(3), 12L))
      .toDF("user_id", "ts", "event_id")
    val out = Expectations.provenanceChains(base, "user_id", "ts",
      "event_id").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == out(2L), "identical histories must fingerprint equal")
    // injection: one extra event for user 2 flips only user 2
    val inj = base.union(Seq((2L, at(4), 13L)).toDF("user_id", "ts",
      "event_id"))
    val out2 = Expectations.provenanceChains(inj, "user_id", "ts",
      "event_id").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out2(1L) == out(1L) && out2(2L) != out(2L), out2.toString)
    // reorder: same ids at swapped times is a DIFFERENT history
    val swap = Seq((3L, at(1), 11L), (3L, at(2), 10L), (3L, at(3), 12L))
      .toDF("user_id", "ts", "event_id")
    val out3 = Expectations.provenanceChains(base.union(swap), "user_id",
      "ts", "event_id").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out3(3L) != out3(1L), "reorder must flip the fingerprint")
  }

  test("zone-map audit: conserved file counts and conjunction-dominance invariants") {
    val rows = graft.ext.Layout.zonemapAudit(
      graft.Tables.load(spark, dir, "part")).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("1_natural", "2_bysize", "3_zorder"))
    val nFiles = rows.map(_.getLong(1)).distinct
    assert(nFiles.length == 1, "layouts must cut the same file count")
    rows.foreach { r =>
      val (nf, ssz, spk, both) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ssz <= nf && spk <= nf, r.toString)
      assert(both <= math.min(ssz, spk), s"conjunction must dominate: $r")
    }
  }
}
