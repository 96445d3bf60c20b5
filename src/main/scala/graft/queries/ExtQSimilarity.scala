package graft.queries

import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AsofJoin, Basket, Bpe, Cdc, Curation, Dedup, Entity, Expectations, Experiment, Graph, Ids, LmQuality, Multimodal, Pack, Privacy, Profile, Rollup, Sampling, SessionConf, Similarity, TextStats, TimeSeries}
import graft.streaming.Streaming
import graft.queries.ExtShared._

/** §2.8 judged queries — similarity search / ANN / retrieval-quality gates. */
private[queries] object ExtQSimilarity {

  val qs: Seq[Q] = Seq(

    // ---- similarity search --------------------------------------------
    Q.df("x59_knn_quantized",
      (s, dir) => Similarity.knnQuantized(Tables.load(s, dir, "embeddings"), 20, 3),
      exactKnnOracleSql(nQueries = 20, k = 3, dim = 64)),


    // the judged ANN RECALL gate (r11 advice): recall@3 of each
    // approximate tier against the exact brute-force twin, as exact
    // integers — hits out of k*nQueries. The tiers themselves are
    // oracle-exact (x72/x103/x110/x124); this row set is the
    // QUANTITATIVE accuracy readout that used to live only in specs.
    // The oracle re-derives every tier AND the exact twin in DuckDB,
    // so recall is judged end to end, not trusted from the engine.
    Q.df("x402_ann_recall",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val exact = graft.ext.CacheRegistry.pin(
          Similarity.knnQuantized(emb, 20, 3).select("qid", "vec_id"))
        def leg(tier: String, df: org.apache.spark.sql.DataFrame) =
          df.select(col("qid"), col("vec_id"))
            .join(exact, Seq("qid", "vec_id"))
            .agg(count(lit(1)).as("hits"))
            .select(lit(tier).as("tier"), col("hits"),
              expr("CAST(hits * 1000000 div 60 AS BIGINT)")
                .as("recall_ppm"))
        // The four tiers are independent until the union, and each
        // tier's FIT runs driver-side collect rounds during query
        // construction — ~45 sub-0.5s-task jobs end to end, so the
        // wall was serial job-launch latency, not compute. Building
        // the tiers concurrently (graft.engine.Par) overlaps the fit
        // rounds. Each tier's fitted centroids/codes — and the judged
        // rows — are untouched; only the driver-side serialization of
        // the fit loops changes. The fits take seconds at sf0.1, so
        // the bound of an hour means wedged, not slow.
        val tiers: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
          ("ivf", () => Similarity.knnIvf(emb, 20, 3, 8)),
          ("pq", () => Similarity.knnPQ(emb, 20, 3)),
          ("ivfpq", () => Similarity.searchIvfPq(
            Similarity.ivfPqIndexAt(s, annIndexPath(dir, "ivfpq_raw"), emb),
            emb, 20, 3)),
          ("residual", () => Similarity.searchIvfPq(
            Similarity.ivfPqIndexAt(s, annIndexPath(dir, "ivfpq_res"),
              emb, residual = true),
            emb, 20, 3)))
        graft.engine.Par.map(s, tiers, 1.hour) { case (t, fit) => leg(t, fit()) }
          .reduce(_ unionByName _)
          .orderBy("tier")
      },
      annRecallOracleSql(nQueries = 20, k = 3, dim = 64)),


    // IVF-probed ANN: learned coarse cells (mini k-means) + cell-local
    // search. Approximate vs exact kNN by design, but fully
    // DETERMINISTIC (integer dots, exact integer centroid means, fixed
    // tie-breaks) — so since round 12 DuckDB re-derives the whole
    // operator (unrolled Lloyd rounds + probe + scoring,
    // ExtShared.ivfOracleSql) and the row set is judged exactly, no
    // longer rows-only.
    Q.df("x72_knn_ivf",
      (s, dir) => Similarity.knnIvf(Tables.load(s, dir, "embeddings"), 20, 3, 8),
      ivfOracleSql(nQueries = 20, k = 3, cells = 8, nprobe = 2,
        iters = 3, dim = 64)),


    // ---- float-tier ANN (float fold is engine-dependent — DuckDB
    // cannot re-derive the scores; uses the native codegen'd float_dot
    // expression). Judged as a bound check since round 15 (the x63
    // convention): the float top-3 set is compared per query against
    // the deterministic quantized-exact top-3 twin (itself oracle-
    // derivable — the x59 family), and each query's overlap must reach
    // 2 of 3 — float-vs-int8 rank inversions are confined to
    // near-ties, so only the boundary slot may disagree. The oracle
    // asserts overlap_ok = TRUE over the same 20-query id set.
    Q.df("x64_knn_float",
      (s, dir) => {
        graft.functions.FloatDot.register(s)
        val fn = graft.functions.TopKAggD.register(s, 3)
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.where(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val pairs = broadcast(q).join(emb, col("qid") =!= col("vec_id"))
          .select(col("qid"), col("vec_id"),
            call_function("float_dot", col("qe"), col("embedding")).as("sim"))
        // bounded-heap top-k (same shape as the quantized tier): the
        // exchange carries 3 rows per partition per query, never the
        // full scored pair set
        val floatTop = pairs.groupBy("qid")
          .agg(call_function(fn, col("sim"), col("vec_id")).as("top"))
          .select(col("qid"), explode(col("top.id")).as("vec_id"))
        val exactTop = Similarity.knnQuantized(emb, 20, 3)
          .select(col("qid"), col("vec_id"))
        val hits = floatTop.join(exactTop, Seq("qid", "vec_id"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("overlap"))
        // left join from the full query-id set: a zero-overlap query
        // must surface as overlap_ok=false, never as a missing row
        q.select(col("qid")).join(hits, Seq("qid"), "left")
          .select(col("qid"),
            (coalesce(col("overlap"), lit(0L)) >= 2).as("overlap_ok"))
          .orderBy("qid")
      },
      """SELECT vec_id AS qid, TRUE AS overlap_ok
        |FROM embeddings WHERE vec_id < 20 ORDER BY qid""".stripMargin),


    // product-quantization ANN with exact re-rank. Oracle-exact since
    // round 12: the per-subspace codebook fit is deterministic integer
    // arithmetic, so DuckDB re-derives fit + ADC + re-rank byte-for-byte
    // (ExtShared.pqOracleSql)
    Q.df("x103_knn_pq",
      (s, dir) => Similarity.knnPQ(Tables.load(s, dir, "embeddings"), 20, 3),
      pqOracleSql(nQueries = 20, k = 3, m = 8, ksub = 32, iters = 3,
        refine = 16, dim = 64)),


    // the composed production ANN stack: IVF coarse probe -> PQ-ADC
    // scoring only within probed cells -> exact re-rank. The cell-keyed
    // scoring join is spec-guarded (ExtSpec / PlanSpec). Served
    // build-once/serve-many: the index (codes partitioned by ivf_cell +
    // centroids + codebooks) is persisted on first touch and every
    // query — including this one — READS THE STORE; no k-means job runs
    // once the index exists. The store is keyed by the embeddings
    // file's identity (mtime+size), so a regenerated corpus re-builds.
    // Oracle-exact since round 12 (ExtShared.ivfPqOracleSql re-derives
    // coarse fit + probe + codebooks + ADC + re-rank) — which also
    // judges that a LOADED index equals a fresh build.
    Q.df("x110_knn_ivfpq",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.searchIvfPq(
          Similarity.ivfPqIndexAt(s, annIndexPath(dir, "ivfpq_raw"), emb),
          emb, 20, 3)
      },
      ivfPqOracleSql(nQueries = 20, k = 3, cells = 8, nprobe = 3, m = 8,
        ksub = 32, iters = 3, refine = 16, dim = 64, residual = false)),


    // the true FAISS IVF-PQ: codebooks fit on per-cell RESIDUALS
    // x - centroid(cell(x)) — better recall at identical index size and
    // scoring shape (spec-guarded strictly above the raw variant);
    // served from its own persisted index like x110
    Q.df("x124_knn_ivfpq_residual",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Similarity.searchIvfPq(
          Similarity.ivfPqIndexAt(s, annIndexPath(dir, "ivfpq_res"), emb,
            residual = true),
          emb, 20, 3)
      },
      // oracle-exact since round 12: the float residual subtraction is
      // IEEE-identical in both engines, so even the residual-coded
      // variant re-derives byte-for-byte
      ivfPqOracleSql(nQueries = 20, k = 3, cells = 8, nprobe = 3, m = 8,
        ksub = 32, iters = 3, refine = 16, dim = 64, residual = true)),


    // incremental ANN index maintenance — the daily-ingestion path of a
    // production vector index: the coarse quantizer is fit ONCE on the
    // base corpus, then a new batch is assigned against the FROZEN
    // centroids (one broadcast + one argmax aggregation; no refit, no
    // driver-side corpus). ExtSpec additionally guards that frozen
    // assignment equals a full refit's for unchanged centroids.
    Q.df("x125_ann_incremental_assign",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val base = emb.where(col("vec_id") < 400)
        val batch = emb.where(col("vec_id") >= 400)
        val (_, centroids) = Similarity.kmeansFit(base, 8, 3)
        Similarity.assignCells(batch, centroids)
          .select(col("vec_id"), col("cell").cast("bigint").as("cell"))
          .orderBy("vec_id")
      },
      // oracle-exact since round 12: the frozen-centroid fit + assign
      // is deterministic integer arithmetic end to end
      incrementalAssignOracleSql(baseN = 400, cells = 8, iters = 3,
        dim = 64)),


    // exact-cosine top-k: quantized dot over quantized norms — the only
    // double math is one IEEE-exact (*, /, sqrt) scalar expression, so
    // ranking is engine-identical (a float-fold cosine is not)
    Q.df("x101_cosine_topk",
      (s, dir) => Similarity.cosineTopK(Tables.load(s, dir, "embeddings"), 20, 3),
      """WITH n2 AS (
        |  SELECT vec_id,
        |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |           * CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS n2
        |  FROM embeddings, range(1, 65) r(i) GROUP BY 1
        |), pairs AS (
        |  SELECT q.vec_id AS qid, e.vec_id,
        |    CAST(sum(CAST(floor(CAST(q.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |           * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS dot_q
        |  FROM embeddings q, embeddings e, range(1, 65) r(i)
        |  WHERE q.vec_id < 20 AND q.vec_id <> e.vec_id
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT p.qid, p.vec_id,
        |    CAST(floor(10000.0 * p.dot_q /
        |         sqrt(CAST(nq.n2 AS DOUBLE) * CAST(ne.n2 AS DOUBLE))) AS BIGINT)
        |      AS cos_x10k
        |  FROM pairs p JOIN n2 nq ON nq.vec_id = p.qid
        |               JOIN n2 ne ON ne.vec_id = p.vec_id
        |), ranked AS (
        |  SELECT qid, vec_id, cos_x10k,
        |    row_number() OVER (PARTITION BY qid
        |                       ORDER BY cos_x10k DESC, vec_id) AS rn
        |  FROM scored
        |)
        |SELECT qid, vec_id, cos_x10k, CAST(rn AS BIGINT) AS rn
        |FROM ranked WHERE rn <= 3 ORDER BY qid, rn""".stripMargin),


    // distributed per-label centroids over embeddings: the k-means
    // update step as a judged operator — only partial (label, pos) sums
    // cross the shuffle; exact quantized-integer arithmetic throughout
    Q.df("x95_label_centroids",
      (s, dir) => Similarity.labelCentroids(Tables.load(s, dir, "embeddings")),
      """SELECT label, CAST(pos AS INT) AS pos, count(*) AS n_vecs,
        |  CAST(sum(q) AS BIGINT) AS sum_q,
        |  CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT)
        |    AS centroid_x10k
        |FROM (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM embeddings
        |) x GROUP BY label, pos ORDER BY label, pos""".stripMargin),


    // Borda rank fusion of three incommensurable quality signals
    // (length, type-token ratio, digit density) — integer ranks summed,
    // no invented scale factors; each global rank is a range-partitioned
    // sort + zipWithIndex (x132 shape), never a SinglePartition window
    Q.df("x168_rank_fusion",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val sig = docs.select(col("doc_id"), col("n_chars"),
            expr("size(array_distinct(regexp_extract_all(lower(text), " +
              "'[a-z0-9]+', 0)))").as("dt"),
            expr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))")
              .as("nt"),
            length(regexp_replace(col("text"), "[^0-9]", "")).as("dg"))
          .select(col("doc_id"), col("n_chars"),
            coalesce(expr("CAST(floor(10000.0 * dt / nt) AS BIGINT)"),
              lit(0L)).as("ttr_x10k"),
            expr("CAST(floor(10000.0 * dg / n_chars) AS BIGINT)")
              .as("digit_x10k"))
        TextStats.rankFusion(sig, "doc_id", Seq(
          ("n_chars", true), ("ttr_x10k", true), ("digit_x10k", false)))
      },
      s"""WITH $duckTok, agg AS (
         |  SELECT doc_id, count(*) AS nt, count(DISTINCT w) AS dt
         |  FROM tok GROUP BY 1
         |), sig AS (
         |  SELECT d.doc_id,
         |    d.n_chars,
         |    coalesce(CAST(floor(10000.0 * a.dt / a.nt) AS BIGINT), 0)
         |      AS ttr_x10k,
         |    CAST(floor(10000.0 *
         |      len(regexp_replace(d.text, '[^0-9]', '', 'g')) / d.n_chars)
         |      AS BIGINT) AS digit_x10k
         |  FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |), r AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY n_chars DESC, doc_id)
         |      AS rank_n_chars,
         |    row_number() OVER (ORDER BY ttr_x10k DESC, doc_id)
         |      AS rank_ttr_x10k,
         |    row_number() OVER (ORDER BY digit_x10k ASC, doc_id)
         |      AS rank_digit_x10k
         |  FROM sig)
         |SELECT doc_id, rank_n_chars, rank_ttr_x10k, rank_digit_x10k,
         |  rank_n_chars + rank_ttr_x10k + rank_digit_x10k AS borda
         |FROM r ORDER BY doc_id""".stripMargin),


    // greedy k-center diversity selection: each pick maximizes its
    // exact quantized-cosine distance to the selected set — the
    // coreset primitive, incremental (corpus x 1 per round) with one
    // bounded collect per pick. Oracle: the same greedy rounds
    // unrolled as materialized CTEs.
    Q.df("x173_kcenter_select",
      (s, dir) => Similarity.kCenterSelect(
        Tables.load(s, dir, "embeddings"), 8),
      {
        val k = 8
        def dnew(tag: String, centerSel: String): String =
          s"""d$tag AS MATERIALIZED (
             |  SELECT x.vec_id,
             |    10000 - CAST(floor(10000.0 * x.dq /
             |      sqrt(CAST(n1.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)))
             |      AS BIGINT) AS d
             |  FROM (SELECT a.vec_id, CAST(sum(a.qv * b.qv) AS BIGINT) AS dq
             |        FROM q a JOIN q b ON a.pos = b.pos
             |          AND b.vec_id = ($centerSel)
             |        GROUP BY 1) x
             |  JOIN n2 n1 ON n1.vec_id = x.vec_id
             |  CROSS JOIN (SELECT n2 FROM n2
             |              WHERE vec_id = ($centerSel)) nc)""".stripMargin
        val head =
          s"""WITH q AS MATERIALIZED (
             |  SELECT vec_id, i AS pos,
             |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
             |      AS qv
             |  FROM embeddings, range(1, 65) r(i)
             |), n2 AS MATERIALIZED (
             |  SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2
             |  FROM q GROUP BY 1
             |), c1 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM embeddings),
             |sel1 AS MATERIALIZED (SELECT vec_id FROM c1),
             |${dnew("1", "SELECT vec_id FROM c1")},
             |m1 AS MATERIALIZED (SELECT vec_id, d FROM d1)""".stripMargin
        val rounds = (2 to k).map { i =>
          val upd = if (i < k)
            s""",
               |${dnew(i.toString, s"SELECT vec_id FROM b$i")},
               |m$i AS MATERIALIZED (
               |  SELECT m.vec_id, least(m.d, dn.d) AS d
               |  FROM m${i - 1} m JOIN d$i dn USING (vec_id))""".stripMargin
          else ""
          s""",
             |b$i AS MATERIALIZED (
             |  SELECT vec_id, d FROM m${i - 1}
             |  WHERE vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
             |  ORDER BY d DESC, vec_id LIMIT 1),
             |sel$i AS MATERIALIZED (
             |  SELECT vec_id FROM sel${i - 1}
             |  UNION ALL SELECT vec_id FROM b$i)$upd""".stripMargin
        }.mkString
        val branches = (s"SELECT 1 AS sel_rank, vec_id," +
          s" CAST(-1 AS BIGINT) AS dist_x10k FROM c1") +:
          (2 to k).map(i => s"SELECT $i, vec_id, d FROM b$i")
        s"$head$rounds\nSELECT * FROM (${branches.mkString(" UNION ALL ")}) " +
          "ORDER BY sel_rank"
      }),


    // BM25 query-by-document retrieval: probe doc 7's rare shingles,
    // floor-log2 odds-ratio idf (length(bin(q))-1, exact both
    // engines), saturating-tf rational floor-scaled; candidates only
    // through the inverted index on the broadcast probe terms, top-k
    // via TakeOrderedAndProject
    Q.df("x187_bm25_retrieve",
      (s, dir) => TextStats.bm25DocRetrieve(
        Tables.load(s, dir, "documents"), queryDocId = 7L, k = 20),
      s"""WITH $duckTok,
         |g AS (
         |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         |tf AS (SELECT doc_id, s, CAST(count(*) AS BIGINT) AS tf
         |       FROM g GROUP BY 1, 2),
         |tot AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS nn,
         |         (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS tt),
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
         |       FROM tf GROUP BY 1),
         |dfv AS (SELECT s, CAST(count(*) AS BIGINT) AS df
         |        FROM tf GROUP BY 1),
         |q AS (
         |  SELECT t.s,
         |    CASE WHEN (2*nn - 2*df + 1) // (2*df + 1) >= 1
         |    THEN length(bin((2*nn - 2*df + 1) // (2*df + 1))) - 1
         |    ELSE 0 END AS idf_bits
         |  FROM tf t JOIN dfv USING (s) CROSS JOIN tot
         |  WHERE t.doc_id = 7 AND df <= 10),
         |h AS (
         |  SELECT f.doc_id, q.idf_bits *
         |    (f.tf * 22 * tt * 1000000
         |     // (10*tt*f.tf + 3*tt + 9*d.dl*nn)) AS ts
         |  FROM tf f JOIN q USING (s)
         |    JOIN dl d ON f.doc_id = d.doc_id CROSS JOIN tot
         |  WHERE f.doc_id <> 7)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(ts) AS BIGINT) AS score
         |FROM h GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),


    // kNN label transfer: majority vote of the 5 nearest labeled
    // neighbors (quantized dot, bounded top-k heap agg), argmax via
    // min(struct(-votes, label)) — deterministic end to end
    Q.df("x208_knn_classify",
      (s, dir) => Similarity.knnClassify(
        Tables.load(s, dir, "embeddings"), 20, 5),
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |           FROM embeddings WHERE vec_id < 20),
        |pairs AS (
        |  SELECT q.qid, e.vec_id, e.label,
        |    CAST(sum(CAST(floor(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT)
        |      * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000)
        |        AS BIGINT)) AS BIGINT) AS dot_q
        |  FROM q, embeddings e, range(1, 65) r(i)
        |  WHERE e.vec_id >= 20
        |  GROUP BY 1, 2, 3
        |),
        |ranked AS (
        |  SELECT qid, label, row_number() OVER (PARTITION BY qid
        |    ORDER BY dot_q DESC, vec_id) AS rn
        |  FROM pairs),
        |votes AS (
        |  SELECT qid, label, CAST(count(*) AS BIGINT) AS votes
        |  FROM ranked WHERE rn <= 5 GROUP BY 1, 2),
        |best AS (
        |  SELECT qid, label, votes, row_number() OVER (PARTITION BY qid
        |    ORDER BY votes DESC, label) AS vr
        |  FROM votes)
        |SELECT qid, label AS pred_label, votes
        |FROM best WHERE vr = 1 ORDER BY qid""".stripMargin),


    // embedding-store quality gate: per-label vector counts, zero
    // vectors, min/median/max quantized squared norm — runs the same
    // codegen'd quant_dot arithmetic as the production kNN path
    Q.df("x227_embedding_audit",
      (s, dir) => Similarity.embeddingAudit(
        Tables.load(s, dir, "embeddings")),
      """WITH n AS (
        |  SELECT e.label, e.vec_id,
        |    CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000)
        |      AS BIGINT) * CAST(floor(CAST(e.embedding[i] AS DOUBLE)
        |      * 10000) AS BIGINT)) AS BIGINT) AS norm2
        |  FROM embeddings e, range(1, 65) r(i)
        |  GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(min(norm2) AS BIGINT) AS min_norm2,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY norm2)
        |    AS BIGINT) AS p50_norm2,
        |  CAST(max(norm2) AS BIGINT) AS max_norm2
        |FROM n GROUP BY label ORDER BY label""".stripMargin),


    // label-cluster compactness + confusability: mean within-label
    // pair dot = S·S div n^2 with S the summed quantized vectors (one
    // algebraic identity, no pair join over members); nearest other
    // label by mean cross-pair dot names the confusable pair
    Q.df("x230_label_compactness",
      (s, dir) => Similarity.labelCompactness(
        Tables.load(s, dir, "embeddings")),
      """WITH comp AS (
        |  SELECT label, i,
        |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000)
        |      AS BIGINT)) AS BIGINT) AS s
        |  FROM embeddings, range(1, 65) r(i)
        |  GROUP BY 1, 2),
        |ns AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |       FROM embeddings GROUP BY 1),
        |self AS (
        |  SELECT c.label, ns.n AS n_vecs,
        |    CAST(sum(c.s * c.s) // (ns.n * ns.n) AS BIGINT)
        |      AS mean_pair_dot
        |  FROM comp c JOIN ns USING (label)
        |  GROUP BY c.label, ns.n),
        |cross_d AS (
        |  SELECT a.label, b.label AS other,
        |    CAST(sum(a.s * b.s) // (na.n * nb.n) AS BIGINT)
        |      AS mean_cross_dot
        |  FROM comp a JOIN comp b
        |    ON a.i = b.i AND a.label <> b.label
        |  JOIN ns na ON na.label = a.label
        |  JOIN ns nb ON nb.label = b.label
        |  GROUP BY a.label, b.label, na.n, nb.n),
        |nearest AS (
        |  SELECT label, other AS nearest_label,
        |    mean_cross_dot AS nearest_dot
        |  FROM (SELECT label, other, mean_cross_dot,
        |          row_number() OVER (PARTITION BY label
        |            ORDER BY mean_cross_dot DESC, other) AS rn
        |        FROM cross_d) t
        |  WHERE rn = 1)
        |SELECT s.label, s.n_vecs, s.mean_pair_dot,
        |  n.nearest_label, n.nearest_dot
        |FROM self s JOIN nearest n USING (label)
        |ORDER BY s.label""".stripMargin),


    // one-vs-rest retrieval AUC per label: exact-integer Mann-Whitney
    // rank-sum with midranks over the quantized-dot scores against a
    // per-label exemplar — the threshold-free "can this embedding
    // space retrieve the class?" gate before trusting cosine ops;
    // window only over the (label, distinct-score) grid
    Q.df("x243_retrieval_auc",
      (s, dir) => Similarity.retrievalAuc(
        Tables.load(s, dir, "embeddings")),
      """WITH ex AS (
        |  SELECT label AS qlabel, min(vec_id) AS ex_id
        |  FROM embeddings GROUP BY 1
        |), exv AS (
        |  SELECT x.qlabel, x.ex_id, e.embedding AS qe
        |  FROM ex x JOIN embeddings e ON e.vec_id = x.ex_id
        |), scored AS (
        |  SELECT x.qlabel, x.ex_id, e.vec_id, e.label,
        |    CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |           * CAST(floor(CAST(x.qe[i] AS DOUBLE) * 10000) AS BIGINT))
        |      AS BIGINT) AS dot_q
        |  FROM exv x JOIN embeddings e ON e.vec_id <> x.ex_id,
        |       range(1, 65) r(i)
        |  GROUP BY 1, 2, 3, 4
        |), g AS (
        |  SELECT qlabel, ex_id, dot_q, CAST(count(*) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM scored GROUP BY 1, 2, 3
        |), w AS (
        |  SELECT qlabel, ex_id, dot_q, nt, np,
        |    CAST(coalesce(sum(nt) OVER (PARTITION BY qlabel ORDER BY dot_q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |  FROM g
        |), agg AS (
        |  SELECT qlabel AS label, ex_id,
        |    CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(nt - np) AS BIGINT) AS n_neg,
        |    sum(CAST(np AS HUGEINT) * (2 * cb + nt + 1)) AS two_r
        |  FROM w GROUP BY 1, 2
        |)
        |SELECT label, ex_id, n_pos, n_neg,
        |  CAST((two_r - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
        |       // (CAST(2 AS HUGEINT) * n_pos * n_neg) AS BIGINT) AS auc_ppm
        |FROM agg WHERE n_pos > 0 AND n_neg > 0
        |ORDER BY label""".stripMargin),


    // leave-one-out 1-NN margin audit: per label, how many probes'
    // nearest neighbors are CROSS-label (easiest-positive minus
    // hardest-negative <= 0) — the embedding-space go/no-go for
    // neighbor-based dedup; conditional-max aggregates, no window
    Q.df("x247_nn_margin",
      (s, dir) => Similarity.nnMarginAudit(
        Tables.load(s, dir, "embeddings"), 200),
      """WITH q AS (
        |  SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        |  FROM embeddings WHERE vec_id < 200
        |), pairs AS (
        |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |    CAST(sum(CAST(floor(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT)
        |           * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT))
        |      AS BIGINT) AS dot_q
        |  FROM q, embeddings e, range(1, 65) r(i)
        |  WHERE e.vec_id <> q.qid
        |  GROUP BY 1, 2, 3, 4
        |), per AS (
        |  SELECT qid, qlabel,
        |    max(CASE WHEN label = qlabel THEN dot_q END) AS pos_best,
        |    max(CASE WHEN label <> qlabel THEN dot_q END) AS neg_best
        |  FROM pairs GROUP BY 1, 2
        |)
        |SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN pos_best - neg_best <= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_violations,
        |  min(pos_best - neg_best) AS worst_margin,
        |  CAST(sum(pos_best - neg_best) AS BIGINT) AS sum_margin
        |FROM per WHERE pos_best IS NOT NULL AND neg_best IS NOT NULL
        |GROUP BY 1 ORDER BY label""".stripMargin),


    // frequency-weighted cosine between sources over token-count
    // vectors — x244's companion (phrases vs vocabulary distribution);
    // cos² as one exact integer rational, pair join keyed by token so
    // per-token work is bounded by |sources|²
    Q.df("x267_source_cosine",
      (s, dir) => TextStats.sourceCosineMatrix(
        Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |tc AS (
         |  SELECT d.source, t.w, count(*) AS c
         |  FROM tok t JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |norms AS (SELECT source, sum(c * c) AS nsq FROM tc GROUP BY 1),
         |dt AS (
         |  SELECT a.source AS s1, b.source AS s2, sum(a.c * b.c) AS dot
         |  FROM tc a JOIN tc b ON a.w = b.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT s1, s2,
         |  CAST(dot * dot * 10000 // (n1.nsq * n2.nsq) AS BIGINT)
         |    AS cos2_x10k
         |FROM dt JOIN norms n1 ON dt.s1 = n1.source
         |JOIN norms n2 ON dt.s2 = n2.source
         |ORDER BY s1, s2""".stripMargin),


    // matryoshka truncation-recall curve: exact top-5 retrieval with
    // only the first d dims scored, vs the full-width truth — the
    // dimension-budget sizing curve; one pinned pair materialization
    // carrying all prefix dots, bounded top-k heaps, oracle-exact
    // (deterministic quantized dots, unlike the IVF family)
    Q.df("x274_matryoshka_recall",
      (s, dir) => Similarity.matryoshkaRecall(
        Tables.load(s, dir, "embeddings"), 200, 5, Seq(8, 16, 32, 64)),
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |           FROM embeddings WHERE vec_id < 200),
        |pr AS (
        |  SELECT q.qid, e.vec_id, r.i,
        |    CAST(floor(CAST(q.qe[r.i] AS DOUBLE) * 10000) AS BIGINT)
        |      * CAST(floor(CAST(e.embedding[r.i] AS DOUBLE) * 10000)
        |        AS BIGINT) AS p
        |  FROM q, embeddings e, range(1, 65) r(i)
        |  WHERE e.vec_id <> q.qid),
        |pairs AS (
        |  SELECT qid, vec_id,
        |    CAST(sum(CASE WHEN i <= 8 THEN p ELSE 0 END) AS BIGINT)
        |      AS dot_8,
        |    CAST(sum(CASE WHEN i <= 16 THEN p ELSE 0 END) AS BIGINT)
        |      AS dot_16,
        |    CAST(sum(CASE WHEN i <= 32 THEN p ELSE 0 END) AS BIGINT)
        |      AS dot_32,
        |    CAST(sum(p) AS BIGINT) AS dot_64
        |  FROM pr GROUP BY 1, 2),
        |t8 AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY dot_8 DESC, vec_id) rn FROM pairs) WHERE rn <= 5),
        |t16 AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY dot_16 DESC, vec_id) rn FROM pairs) WHERE rn <= 5),
        |t32 AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY dot_32 DESC, vec_id) rn FROM pairs) WHERE rn <= 5),
        |t64 AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |    ORDER BY dot_64 DESC, vec_id) rn FROM pairs) WHERE rn <= 5),
        |h AS (
        |  SELECT 8 AS dim, count(*) AS hits
        |  FROM t8 JOIN t64 USING (qid, vec_id)
        |  UNION ALL SELECT 16, count(*)
        |  FROM t16 JOIN t64 USING (qid, vec_id)
        |  UNION ALL SELECT 32, count(*)
        |  FROM t32 JOIN t64 USING (qid, vec_id)
        |  UNION ALL SELECT 64, count(*) FROM t64),
        |np AS (SELECT count(DISTINCT qid) AS n FROM pairs)
        |SELECT CAST(h.dim AS BIGINT) AS dim,
        |  CAST(np.n AS BIGINT) AS n_probes, CAST(5 AS BIGINT) AS k,
        |  CAST(h.hits AS BIGINT) AS hits,
        |  CAST(h.hits * 1000000 // (np.n * 5) AS BIGINT) AS recall_ppm
        |FROM h CROSS JOIN np ORDER BY dim""".stripMargin),


    // embedding-space drift between label populations: pairwise L2^2
    // of per-label INTEGER centroids (floor(x*1e4) quantization, sum
    // div n) — one corpus explode + keyed agg, pair join on the
    // labels x dims grid only; oracle-exact, no float summation order
    Q.df("x293_label_centroid_drift",
      (s, dir) => Similarity.labelCentroidDrift(
        Tables.load(s, dir, "embeddings")),
      """WITH q AS (
        |  SELECT label, r.i AS i,
        |    CAST(floor(CAST(embedding[r.i] AS DOUBLE) * 10000)
        |      AS BIGINT) AS qv
        |  FROM embeddings, range(1, 65) r(i)),
        |c AS (SELECT label, i, CAST(sum(qv) AS BIGINT) AS s,
        |        CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
        |ce AS (SELECT label, i, s // n AS cd, n FROM c)
        |SELECT CAST(a.label AS BIGINT) AS label_a,
        |  CAST(b.label AS BIGINT) AS label_b,
        |  max(a.n) AS n_a, max(b.n) AS n_b,
        |  CAST(sum((a.cd - b.cd) * (a.cd - b.cd)) AS BIGINT) AS l2sq
        |FROM ce a JOIN ce b ON a.i = b.i AND a.label < b.label
        |GROUP BY 1, 2 ORDER BY label_a, label_b""".stripMargin),


    // hash-negative mining for contrastive training: per anchor, k
    // reproducible different-label negatives by md5 order — selected
    // with the bounded bottom-k-by-hash aggregate, never a
    // corpus-partition window; regenerable on any cluster
    Q.df("x298_contrastive_negatives",
      (s, dir) => Similarity.contrastiveNegatives(
        Tables.load(s, dir, "embeddings"), 50, 3),
      """WITH a AS (SELECT vec_id AS anchor_id, label AS al
        |           FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS cand_id, label AS cl FROM embeddings),
        |h AS (
        |  SELECT a.anchor_id, c.cand_id, c.cl,
        |    md5(a.anchor_id || ':' || c.cand_id) AS hh
        |  FROM a JOIN c ON c.cl <> a.al),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY anchor_id
        |    ORDER BY hh, CAST(cand_id AS VARCHAR)) AS rn
        |  FROM h)
        |SELECT anchor_id, CAST(rn AS BIGINT) AS neg_rank,
        |  cand_id AS neg_id, CAST(cl AS BIGINT) AS neg_label
        |FROM r WHERE rn <= 3 ORDER BY anchor_id, neg_rank""".stripMargin),


    // RAG chunk manifest: 32-token windows advancing by 24 (overlap
    // 8), integer ceil arithmetic, boundary tokens via postings
    // equi-joins — text never shuffles; the stable span ledger every
    // embedding/serving index traces back to
    Q.df("x299_rag_chunks",
      (s, dir) => TextStats.ragChunks(
        Tables.load(s, dir, "documents"), 32, 8),
      s"""WITH $duckTok,
         |nt AS (SELECT doc_id, max(pos) AS n_tok FROM tok GROUP BY 1),
         |m AS (
         |  SELECT doc_id, n_tok, unnest(generate_series(0,
         |    CASE WHEN n_tok <= 32 THEN 0
         |      ELSE (n_tok - 32 + 23) // 24 END)) AS chunk_id
         |  FROM nt),
         |c AS (
         |  SELECT doc_id, chunk_id, chunk_id * 24 + 1 AS start_pos,
         |    least(32, n_tok - chunk_id * 24) AS chunk_len
         |  FROM m)
         |SELECT c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
         |  CAST(c.start_pos AS BIGINT) AS start_pos,
         |  CAST(c.chunk_len AS BIGINT) AS chunk_len,
         |  f.w AS first_token, l.w AS last_token
         |FROM c
         |JOIN tok f ON f.doc_id = c.doc_id AND f.pos = c.start_pos
         |JOIN tok l ON l.doc_id = c.doc_id
         |  AND l.pos = c.start_pos + c.chunk_len - 1
         |ORDER BY c.doc_id, c.chunk_id""".stripMargin),


    // retrieval MRR: rank of the first same-label neighbor under the
    // quantized dot, computed rank-free (1 + count of strictly-better
    // neighbors) — no top-k window over the pair set
    Q.df("x305_retrieval_mrr",
      (s, dir) => Similarity.retrievalMrr(
        Tables.load(s, dir, "embeddings"), 100),
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |pairs AS (
        |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |    CAST(sum(CAST(floor(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT)
        |           * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000)
        |               AS BIGINT)) AS BIGINT) AS dot_q
        |  FROM q, embeddings e, range(1, 65) r(i)
        |  WHERE q.qid <> e.vec_id GROUP BY 1, 2, 3, 4),
        |best AS (
        |  SELECT qid, dot_q AS bd, vec_id AS bid FROM (
        |    SELECT qid, dot_q, vec_id, row_number() OVER (
        |        PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS rn
        |    FROM pairs WHERE label = qlabel) x WHERE rn = 1)
        |SELECT qid, qlabel, first_rank,
        |  CAST(1000000 // first_rank AS BIGINT) AS rr_ppm
        |FROM (
        |  SELECT p.qid AS qid, max(p.qlabel) AS qlabel,
        |    CAST(1 + sum(CASE WHEN p.dot_q > b.bd OR
        |        (p.dot_q = b.bd AND p.vec_id < b.bid) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS first_rank
        |  FROM pairs p JOIN best b USING (qid) GROUP BY p.qid) y
        |ORDER BY qid""".stripMargin),


    // labeled precision@10 for every 100th vector, judged against the
    // window top-k formulation
    Q.df("x314_precision_at_k",
      (s, dir) => Similarity.precisionAtK(
        Tables.load(s, dir, "embeddings"), 100, 10),
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |pairs AS (
        |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
        |    CAST(sum(CAST(floor(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT)
        |           * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000)
        |               AS BIGINT)) AS BIGINT) AS dot_q
        |  FROM q, embeddings e, range(1, 65) r(i)
        |  WHERE q.qid <> e.vec_id GROUP BY 1, 2, 3, 4),
        |top AS (SELECT qid, qlabel, label FROM (
        |    SELECT qid, qlabel, label, row_number() OVER (
        |        PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS rn
        |    FROM pairs) z WHERE rn <= 10)
        |SELECT qid, max(qlabel) AS qlabel,
        |  CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) * 1000000
        |    // 10 AS BIGINT) AS p_at_k_ppm
        |FROM top GROUP BY qid ORDER BY qid""".stripMargin),


    // simplified silhouette per label: centroid-based, exact milli —
    // the label-quality audit with the misassignment counter
    Q.df("x343_silhouette",
      (s, dir) => Similarity.silhouette(
        Tables.load(s, dir, "embeddings")),
      """WITH comp AS (
        |  SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |cent AS (
        |  SELECT label AS clabel, i,
        |    CAST(sum(q) // count(*) AS BIGINT) AS c
        |  FROM comp GROUP BY 1, 2),
        |d2 AS (
        |  SELECT comp.vec_id, comp.label, cent.clabel,
        |    CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
        |  FROM comp JOIN cent USING (i)
        |  GROUP BY 1, 2, 3),
        |ab AS (
        |  SELECT vec_id, label,
        |    max(CASE WHEN label = clabel THEN d2 END) AS a,
        |    min(CASE WHEN label <> clabel THEN d2 END) AS b
        |  FROM d2 GROUP BY 1, 2),
        |sm AS (
        |  SELECT label,
        |    coalesce((b - a) * 1000 // nullif(greatest(a, b), 0), 0)
        |      AS s
        |  FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(s) // count(*) AS BIGINT) AS avg_s_milli,
        |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_negative
        |FROM sm GROUP BY 1 ORDER BY 1""".stripMargin),


    // per-dimension variance utilization — the anisotropy audit
    Q.df("x347_dim_utilization",
      (s, dir) => Similarity.dimUtilization(
        Tables.load(s, dir, "embeddings")),
      """WITH comp AS (
        |  SELECT i AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |mom AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS s1,
        |    sum(CAST(q AS HUGEINT) * q) AS s2
        |  FROM comp GROUP BY 1),
        |mv AS (SELECT CAST(dim AS BIGINT) AS dim,
        |    s1 // n AS mean_q,
        |    CAST((n * s2 - CAST(s1 AS HUGEINT) * s1)
        |      // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_q
        |  FROM mom),
        |tot AS (SELECT CAST(sum(var_q) AS BIGINT) AS tv FROM mv)
        |SELECT dim, mean_q, var_q,
        |  coalesce(var_q * 1000000 // nullif(tv, 0), 0)
        |    AS var_share_ppm,
        |  coalesce(CAST(sum(var_q) OVER (ORDER BY var_q DESC, dim
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) * 1000000 // nullif(tv, 0), 0)
        |    AS cum_share_ppm
        |FROM mv CROSS JOIN tot
        |ORDER BY var_q DESC, dim""".stripMargin),


    // int8 scalar-quantization audit per embedding dimension: the
    // zero-codebook baseline beside the PQ tiers
    Q.df("x364_int8_quant_audit",
      (s, dir) => Similarity.int8QuantAudit(
        Tables.load(s, dir, "embeddings")),
      """WITH comp AS (SELECT CAST(i AS BIGINT) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |sc AS (SELECT dim, CAST(max(abs(q)) AS BIGINT) AS max_abs_q,
        |    CAST(greatest(1, (max(abs(q)) + 126) // 127) AS BIGINT)
        |      AS scale
        |  FROM comp GROUP BY 1),
        |j AS (SELECT comp.dim, scale, max_abs_q, q,
        |    q - (q // scale) * scale AS r
        |  FROM comp JOIN sc USING (dim))
        |SELECT dim, scale, max_abs_q,
        |  CAST(sum(CAST(r AS HUGEINT) * r) // count(*) AS BIGINT)
        |    AS mse_q,
        |  CAST(sum(CAST(q AS HUGEINT) * q) // count(*) AS BIGINT)
        |    AS energy_q,
        |  CAST(sum(CAST(r AS HUGEINT) * r) * 1000000
        |    // nullif(sum(CAST(q AS HUGEINT) * q), 0) AS BIGINT)
        |    AS nsr_ppm
        |FROM j GROUP BY 1, 2, 3 ORDER BY dim""".stripMargin),


    // nearest-centroid confusion matrix: which labels bleed into
    // which (deterministic ties to the smaller label)
    Q.df("x368_centroid_confusion",
      (s, dir) => Similarity.centroidConfusion(
        Tables.load(s, dir, "embeddings")),
      """WITH comp AS (
        |  SELECT vec_id, label, i,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |      AS q
        |  FROM embeddings, range(1, 65) r(i)),
        |cent AS (
        |  SELECT label AS clabel, i,
        |    CAST(sum(q) // count(*) AS BIGINT) AS c
        |  FROM comp GROUP BY 1, 2),
        |d2 AS (
        |  SELECT comp.vec_id, comp.label, cent.clabel,
        |    CAST(sum((q - c) * (q - c)) AS BIGINT) AS d2
        |  FROM comp JOIN cent USING (i)
        |  GROUP BY 1, 2, 3),
        |asg AS (SELECT vec_id, label, clabel AS assigned,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel)
        |      AS rk FROM d2),
        |cells AS (SELECT label, assigned, CAST(count(*) AS BIGINT) AS n
        |  FROM asg WHERE rk = 1 GROUP BY 1, 2),
        |rws AS (SELECT label, sum(n) AS n_row FROM cells GROUP BY 1)
        |SELECT cells.label, assigned, n,
        |  CAST(n * 1000000 // n_row AS BIGINT) AS row_share_ppm
        |FROM cells JOIN rws USING (label)
        |ORDER BY label, assigned""".stripMargin),


    // hubness audit: k-occurrence histogram over step-sampled probes,
    // anti-hub zero bucket included — the high-dim kNN pathology check
    Q.df("x382_hubness_audit",
      (s, dir) => Similarity.hubnessAudit(
        Tables.load(s, dir, "embeddings")),
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |pairs AS (
        |  SELECT q.qid, e.vec_id,
        |    CAST(sum(CAST(floor(CAST(qe[i] AS DOUBLE) * 10000)
        |        AS BIGINT)
        |      * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000)
        |        AS BIGINT)) AS BIGINT) AS dot_q
        |  FROM q, embeddings e, range(1, 65) r(i)
        |  WHERE q.qid <> e.vec_id
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT vec_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY dot_q DESC, vec_id) AS rn
        |  FROM pairs),
        |occ AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS occ
        |  FROM ranked WHERE rn <= 10 GROUP BY 1),
        |hist AS (SELECT occ, CAST(count(*) AS BIGINT) AS n_points
        |  FROM occ GROUP BY 1),
        |alln AS (SELECT CAST(count(*) AS BIGINT) AS n_all
        |  FROM embeddings),
        |z AS (SELECT CAST(0 AS BIGINT) AS occ,
        |    CAST(n_all - (SELECT sum(n_points) FROM hist) AS BIGINT)
        |      AS n_points
        |  FROM alln)
        |SELECT occ, n_points FROM (
        |  SELECT * FROM hist
        |  UNION ALL SELECT occ, n_points FROM z WHERE n_points > 0) u
        |ORDER BY occ""".stripMargin),


    // two-NN ratio profile: integer Facco raw material — is the
    // embedding space's neighbor contrast collapsing
    Q.df("x386_two_nn_ratio",
      (s, dir) => Similarity.twoNnRatio(
        Tables.load(s, dir, "embeddings")),
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |pairs AS (
        |  SELECT q.qid, e.vec_id,
        |    CAST(sum((CAST(floor(CAST(qe[i] AS DOUBLE) * 10000)
        |        AS BIGINT)
        |      - CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000)
        |        AS BIGINT))
        |      * (CAST(floor(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT)
        |      - CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000)
        |        AS BIGINT))) AS BIGINT) AS d2
        |  FROM q, embeddings e, range(1, 65) r(i)
        |  WHERE q.qid <> e.vec_id
        |  GROUP BY 1, 2),
        |rk AS (SELECT qid, d2, row_number() OVER (PARTITION BY qid
        |    ORDER BY d2, vec_id) AS rn FROM pairs),
        |t2 AS (SELECT qid,
        |    max(CASE WHEN rn = 1 THEN d2 END) AS d1sq,
        |    max(CASE WHEN rn = 2 THEN d2 END) AS d2sq
        |  FROM rk WHERE rn <= 2 GROUP BY 1),
        |rat AS (SELECT qid,
        |    CASE WHEN d1sq > 0 THEN d2sq * 1000 // d1sq END AS r
        |  FROM t2),
        |h AS (SELECT r, count(*) AS c FROM rat WHERE r IS NOT NULL
        |  GROUP BY 1),
        |hc AS (SELECT r, sum(c) OVER (ORDER BY r ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
        |nn AS (SELECT max(cum) AS n FROM hc),
        |st AS (SELECT
        |    CAST(min(CASE WHEN cum * 10 >= n * 5 THEN r END)
        |      AS BIGINT) AS median_ratio_milli,
        |    CAST(min(CASE WHEN cum * 10 >= n * 9 THEN r END)
        |      AS BIGINT) AS p90_ratio_milli
        |  FROM hc CROSS JOIN nn),
        |cnts AS (SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |    CAST(sum(CASE WHEN r IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_degenerate FROM rat)
        |SELECT n_probes, n_degenerate, median_ratio_milli,
        |  p90_ratio_milli
        |FROM cnts CROSS JOIN st""".stripMargin),

  )
}
