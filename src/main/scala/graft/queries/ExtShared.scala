package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AsofJoin, Basket, Bpe, Cdc, Curation, Dedup, Entity, Expectations, Experiment, Graph, Ids, LmQuality, Multimodal, Pack, Privacy, Profile, Rollup, Sampling, SessionConf, Similarity, TextStats, TimeSeries}
import graft.streaming.Streaming

/** Helpers shared by the per-family §2.8 registration files (split out
  * of the former 10.4k-line Extensions.scala): temp-tree cleanup,
  * persisted-index path derivation, and the DuckDB CTE fragments the
  * dedup-family oracles compose.
  */
private[queries] object ExtShared {

  /** DuckDB re-derivation of [[graft.ext.Similarity.kmeansFit]] —
    * the CTE prefix shared by the (formerly rows-only) ANN oracles:
    * quantized elements `qv`, init centroids = the first `cells`
    * vectors of the FIT subset, then `iters` unrolled Lloyd rounds
    * (assign by max quantized dot, tie -> smallest cell; centroid =
    * exact integer mean cast to FLOAT — the identical arithmetic the
    * Spark side runs, see kmeansFit/centroidUpdate/assignCells), ending
    * in `qcF`, the quantized FINAL centroids. Every intermediate is
    * MATERIALIZED: DuckDB inlines multi-referenced CTEs otherwise
    * (x159 lesson).
    *
    * `corpus` must be a CTE/table named in scope with (vec_id,
    * embedding); `fitWhere` restricts the fit subset (empty = all). */
  def kmeansCtes(cells: Int, iters: Int, dim: Int,
                 fitWhere: String = ""): String = {
    val fitAnd = if (fitWhere.isEmpty) "" else s" AND $fitWhere"
    val sb = new StringBuilder
    sb.append(
      s"""qv AS MATERIALIZED (
         |  SELECT vec_id, i,
         |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
         |  FROM corpus, range(1, ${dim + 1}) r(i)
         |),
         |cf0 AS MATERIALIZED (
         |  SELECT CAST(vec_id AS INT) AS cell, i AS pos,
         |    CAST(embedding[i] AS FLOAT) AS cf
         |  FROM corpus, range(1, ${dim + 1}) r(i) WHERE vec_id < $cells
         |)""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s""",
           |qc${t - 1} AS MATERIALIZED (
           |  SELECT cell, pos,
           |    CAST(floor(CAST(cf AS DOUBLE) * 10000) AS BIGINT) AS qc
           |  FROM cf${t - 1}
           |),
           |a$t AS MATERIALIZED (
           |  SELECT vec_id, cell FROM (
           |    SELECT v.vec_id, c.cell,
           |      row_number() OVER (PARTITION BY v.vec_id
           |        ORDER BY sum(v.q * c.qc) DESC, c.cell) AS rn
           |    FROM qv v JOIN qc${t - 1} c ON v.i = c.pos$fitAnd
           |    GROUP BY v.vec_id, c.cell
           |  ) WHERE rn = 1
           |),
           |cf$t AS MATERIALIZED (
           |  SELECT a.cell, v.i AS pos,
           |    CAST(CAST(sum(v.q) AS DOUBLE) / 10000.0 / count(*) AS FLOAT) AS cf
           |  FROM a$t a JOIN qv v ON v.vec_id = a.vec_id
           |  GROUP BY a.cell, v.i
           |)""".stripMargin)
    }
    sb.append(
      s""",
         |qcF AS MATERIALIZED (
         |  SELECT cell, pos,
         |    CAST(floor(CAST(cf AS DOUBLE) * 10000) AS BIGINT) AS qc
         |  FROM cf$iters
         |)""".stripMargin)
    sb.toString
  }

  /** Full DuckDB twin of [[graft.ext.Similarity.knnIvf]]: kmeans fit
    * (above) + final corpus assignment + per-query nprobe cell probe +
    * exact quantized scoring inside the probed cells + top-k. Output:
    * (qid, vec_id, dot_q, rn) ordered by (qid, rn) — byte-identical to
    * the Spark operator (validated cell-by-cell by the x72 oracle). */
  def ivfOracleSql(nQueries: Int, k: Int, cells: Int, nprobe: Int,
                   iters: Int, dim: Int): String =
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |),
       |${kmeansCtes(cells, iters, dim)},
       |aF AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY sum(v.q * c.qc) DESC, c.cell) AS rn
       |    FROM qv v JOIN qcF c ON v.i = c.pos
       |    GROUP BY v.vec_id, c.cell
       |  ) WHERE rn = 1
       |),
       |qcells AS MATERIALIZED (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY sum(v.q * c.qc) DESC, c.cell) AS rn
       |    FROM qv v JOIN qcF c ON v.i = c.pos
       |    WHERE v.vec_id < $nQueries
       |    GROUP BY v.vec_id, c.cell
       |  ) WHERE rn <= $nprobe
       |),
       |cand AS MATERIALIZED (
       |  SELECT p.qid, a.vec_id
       |  FROM qcells p JOIN aF a ON a.cell = p.cell
       |  WHERE p.qid <> a.vec_id
       |),
       |pairs AS MATERIALIZED (
       |  SELECT c.qid, c.vec_id, CAST(sum(vq.q * vv.q) AS BIGINT) AS dot_q
       |  FROM cand c
       |  JOIN qv vq ON vq.vec_id = c.qid
       |  JOIN qv vv ON vv.vec_id = c.vec_id AND vv.i = vq.i
       |  GROUP BY c.qid, c.vec_id
       |)
       |SELECT qid, vec_id, dot_q, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT qid, vec_id, dot_q,
       |    row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS rn
       |  FROM pairs
       |) WHERE rn <= $k
       |ORDER BY qid, rn""".stripMargin

  /** DuckDB twin of x125: kmeans fit on the FROZEN base (vec_id <
    * baseN), then one [[graft.ext.Similarity.assignCells]] pass over
    * the arriving batch (vec_id >= baseN). Output: (vec_id, cell)
    * ordered by vec_id. */
  def incrementalAssignOracleSql(baseN: Int, cells: Int, iters: Int,
                                 dim: Int): String =
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |),
       |${kmeansCtes(cells, iters, dim, fitWhere = s"v.vec_id < $baseN")}
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
       |  SELECT v.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY sum(v.q * c.qc) DESC, c.cell) AS rn
       |  FROM qv v JOIN qcF c ON v.i = c.pos
       |  WHERE v.vec_id >= $baseN
       |  GROUP BY v.vec_id, c.cell
       |) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** DuckDB twin of x116 [[graft.ext.Similarity.semDedup]] over the
    * judged base ∪ perturbed-twin corpus: coarse kmeans (above), final
    * assignment, exact quantized cosine inside each cell (array-lambda
    * dots — the 64-row unnest join at pair volume would be the oracle's
    * own scale bug), victims = any vector with a lower-id ≥minCos
    * neighbor in its cell. Output: surviving (vec_id, cell) by vec_id. */
  def semDedupOracleSql(cells: Int, iters: Int, dim: Int,
                        minCosX10k: Long): String =
    s"""WITH corpus AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |    list_transform(embedding, (x, i) ->
       |      CAST(CAST(x AS DOUBLE) * ((9500 + (vec_id + i - 1) % 1000) / 10000.0) AS FLOAT)) AS embedding
       |  FROM embeddings
       |),
       |${kmeansCtes(cells, iters, dim)},
       |aF AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY sum(v.q * c.qc) DESC, c.cell) AS rn
       |    FROM qv v JOIN qcF c ON v.i = c.pos
       |    GROUP BY v.vec_id, c.cell
       |  ) WHERE rn = 1
       |),
       |qa AS MATERIALIZED (
       |  SELECT v.vec_id, a.cell, list(v.q ORDER BY v.i) AS qa,
       |    CAST(sum(v.q * v.q) AS BIGINT) AS n2
       |  FROM qv v JOIN aF a ON a.vec_id = v.vec_id
       |  GROUP BY v.vec_id, a.cell
       |),
       |victims AS MATERIALIZED (
       |  SELECT DISTINCT b.vec_id
       |  FROM qa a JOIN qa b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CAST(floor(10000.0 *
       |      CAST(list_sum(list_transform(a.qa, (x, i) -> x * b.qa[i])) AS BIGINT)
       |      / sqrt(CAST(a.n2 AS DOUBLE) * b.n2)) AS BIGINT) >= $minCosX10k
       |)
       |SELECT q.vec_id, CAST(q.cell AS BIGINT) AS cell
       |FROM qa q LEFT JOIN victims v ON v.vec_id = q.vec_id
       |WHERE v.vec_id IS NULL
       |ORDER BY q.vec_id""".stripMargin

  /** Unrolled per-subspace PQ codebook fit (the DuckDB twin of
    * [[graft.ext.Similarity.pqFit]]): `src` supplies (vec_id, i, fv
    * FLOAT) element rows (raw vectors, or coarse residuals for the
    * x124 tier); assignment is the l2 form 2·dot − |c|², tie → smallest
    * cell, exactly the Spark argmax. Emits sv/pqcF/pnF/codes. Leading
    * comma included — append after a WITH chain. */
  def pqFitCtes(src: String, m: Int, ksub: Int, iters: Int,
                dim: Int): String = {
    val subD = dim / m
    val sb = new StringBuilder
    sb.append(
      s""",
         |sv AS MATERIALIZED (
         |  SELECT vec_id, CAST(floor((i - 1) / $subD) AS INT) AS sub,
         |    CAST((i - 1) % $subD AS INT) + 1 AS j,
         |    CAST(floor(CAST(fv AS DOUBLE) * 10000) AS BIGINT) AS q
         |  FROM $src
         |),
         |pcf0 AS MATERIALIZED (
         |  SELECT CAST(floor((i - 1) / $subD) AS INT) AS sub,
         |    CAST(vec_id AS INT) AS cell,
         |    CAST((i - 1) % $subD AS INT) + 1 AS j, CAST(fv AS FLOAT) AS cf
         |  FROM $src WHERE vec_id < $ksub
         |)""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s""",
           |pqc${t - 1} AS MATERIALIZED (
           |  SELECT sub, cell, j,
           |    CAST(floor(CAST(cf AS DOUBLE) * 10000) AS BIGINT) AS qc
           |  FROM pcf${t - 1}
           |),
           |pn${t - 1} AS MATERIALIZED (
           |  SELECT sub, cell, CAST(sum(qc * qc) AS BIGINT) AS c_n2
           |  FROM pqc${t - 1} GROUP BY sub, cell
           |),
           |pa$t AS MATERIALIZED (
           |  SELECT vec_id, sub, cell FROM (
           |    SELECT d.vec_id, d.sub, d.cell,
           |      row_number() OVER (PARTITION BY d.vec_id, d.sub
           |        ORDER BY 2 * d.dot - n.c_n2 DESC, d.cell) AS rn
           |    FROM (SELECT v.vec_id, v.sub, c.cell,
           |            CAST(sum(v.q * c.qc) AS BIGINT) AS dot
           |          FROM sv v JOIN pqc${t - 1} c ON v.sub = c.sub AND v.j = c.j
           |          GROUP BY v.vec_id, v.sub, c.cell) d
           |    JOIN pn${t - 1} n ON n.sub = d.sub AND n.cell = d.cell
           |  ) WHERE rn = 1
           |),
           |pcf$t AS MATERIALIZED (
           |  SELECT a.sub, a.cell, v.j,
           |    CAST(CAST(sum(v.q) AS DOUBLE) / 10000.0 / count(*) AS FLOAT) AS cf
           |  FROM pa$t a JOIN sv v ON v.vec_id = a.vec_id AND v.sub = a.sub
           |  GROUP BY a.sub, a.cell, v.j
           |)""".stripMargin)
    }
    sb.append(
      s""",
         |pqcF AS MATERIALIZED (
         |  SELECT sub, cell, j,
         |    CAST(floor(CAST(cf AS DOUBLE) * 10000) AS BIGINT) AS qc
         |  FROM pcf$iters
         |),
         |pnF AS MATERIALIZED (
         |  SELECT sub, cell, CAST(sum(qc * qc) AS BIGINT) AS c_n2
         |  FROM pqcF GROUP BY sub, cell
         |),
         |codes AS MATERIALIZED (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT d.vec_id, d.sub, d.cell,
         |      row_number() OVER (PARTITION BY d.vec_id, d.sub
         |        ORDER BY 2 * d.dot - n.c_n2 DESC, d.cell) AS rn
         |    FROM (SELECT v.vec_id, v.sub, c.cell,
         |            CAST(sum(v.q * c.qc) AS BIGINT) AS dot
         |          FROM sv v JOIN pqcF c ON v.sub = c.sub AND v.j = c.j
         |          GROUP BY v.vec_id, v.sub, c.cell) d
         |    JOIN pnF n ON n.sub = d.sub AND n.cell = d.cell
         |  ) WHERE rn = 1
         |)""".stripMargin)
    sb.toString
  }

  /** Query-side ADC lookup table CTEs: quantized RAW query subvectors
    * dotted against every final codebook entry (plain dot — the l2
    * form is only for assignment). Leading comma included. */
  private def pqPartsCtes(nQueries: Int, m: Int, dim: Int): String = {
    val subD = dim / m
    s""",
       |qsv AS MATERIALIZED (
       |  SELECT vec_id AS qid, CAST(floor((i - 1) / $subD) AS INT) AS sub,
       |    CAST((i - 1) % $subD AS INT) + 1 AS j,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
       |  FROM corpus, range(1, ${dim + 1}) r(i) WHERE vec_id < $nQueries
       |),
       |parts AS MATERIALIZED (
       |  SELECT v.qid, v.sub, c.cell, CAST(sum(v.q * c.qc) AS BIGINT) AS ps
       |  FROM qsv v JOIN pqcF c ON v.sub = c.sub AND v.j = c.j
       |  GROUP BY v.qid, v.sub, c.cell
       |)""".stripMargin
  }

  /** Exact-re-rank tail over an `adc`(qid, vec_id, adc) candidate CTE:
    * top refine*k by ADC, full-dim quantized dot, top-k. Requires `qv`
    * in scope. */
  private def rerankTail(refine: Int, k: Int): String =
    s""",
       |cand AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
       |    FROM adc
       |  ) WHERE rn <= ${refine * k}
       |),
       |rer AS MATERIALIZED (
       |  SELECT c.qid, c.vec_id, CAST(sum(vq.q * vv.q) AS BIGINT) AS dot_q
       |  FROM cand c
       |  JOIN qv vq ON vq.vec_id = c.qid
       |  JOIN qv vv ON vv.vec_id = c.vec_id AND vv.i = vq.i
       |  GROUP BY c.qid, c.vec_id
       |)
       |SELECT qid, vec_id, dot_q, CAST(rn AS BIGINT) AS rn FROM (
       |  SELECT qid, vec_id, dot_q,
       |    row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS rn
       |  FROM rer
       |) WHERE rn <= $k
       |ORDER BY qid, rn""".stripMargin

  private def rawElemSrc(dim: Int): String =
    s"""(SELECT vec_id, i, embedding[i] AS fv
       |  FROM corpus, range(1, ${dim + 1}) r(i))""".stripMargin

  /** Full DuckDB twin of x103 [[graft.ext.Similarity.knnPQ]]: PQ fit
    * on raw vectors, whole-corpus ADC, exact re-rank. Output matches
    * the Spark operator byte-for-byte (judged by the x103 oracle). */
  def pqOracleSql(nQueries: Int, k: Int, m: Int, ksub: Int, iters: Int,
                  refine: Int, dim: Int): String =
    s"""WITH corpus AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |qv AS MATERIALIZED (
       |  SELECT vec_id, i,
       |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
       |  FROM corpus, range(1, ${dim + 1}) r(i)
       |)${pqFitCtes(rawElemSrc(dim), m, ksub, iters, dim)}${pqPartsCtes(nQueries, m, dim)},
       |adc AS MATERIALIZED (
       |  SELECT p.qid, c.vec_id, CAST(sum(p.ps) AS BIGINT) AS adc
       |  FROM codes c JOIN parts p ON p.sub = c.sub AND p.cell = c.cell
       |  WHERE p.qid <> c.vec_id
       |  GROUP BY p.qid, c.vec_id
       |)${rerankTail(refine, k)}""".stripMargin

  /** Full DuckDB twin of x110/x124 [[graft.ext.Similarity.knnIvfPq]]:
    * coarse kmeans + probe (cdot kept — it is the dot(q, c_cell) term
    * of the residual ADC decomposition), PQ fit on raw vectors or
    * per-cell float residuals, cell-pruned ADC, exact re-rank. */
  def ivfPqOracleSql(nQueries: Int, k: Int, cells: Int, nprobe: Int,
                     m: Int, ksub: Int, iters: Int, refine: Int,
                     dim: Int, residual: Boolean): String = {
    val src =
      if (!residual) rawElemSrc(dim)
      else
        s"""(SELECT v.vec_id, v.i,
           |    CAST(CAST(v.fv AS DOUBLE) - CAST(cf.cf AS DOUBLE) AS FLOAT) AS fv
           |  FROM (SELECT vec_id, i, embedding[i] AS fv
           |        FROM corpus, range(1, ${dim + 1}) r(i)) v
           |  JOIN aF a ON a.vec_id = v.vec_id
           |  JOIN cf$iters cf ON cf.cell = a.cell AND cf.pos = v.i)""".stripMargin
    val adcTerm =
      if (residual) "CAST(sum(p.ps) + max(qc.cdot) AS BIGINT)"
      else "CAST(sum(p.ps) AS BIGINT)"
    s"""WITH corpus AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |${kmeansCtes(cells, iters, dim)},
       |aF AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY sum(v.q * c.qc) DESC, c.cell) AS rn
       |    FROM qv v JOIN qcF c ON v.i = c.pos
       |    GROUP BY v.vec_id, c.cell
       |  ) WHERE rn = 1
       |)${pqFitCtes(src, m, ksub, iters, dim)}${pqPartsCtes(nQueries, m, dim)},
       |qcells AS MATERIALIZED (
       |  SELECT qid, cell AS ivf_cell, cdot FROM (
       |    SELECT v.vec_id AS qid, c.cell,
       |      CAST(sum(v.q * c.qc) AS BIGINT) AS cdot,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY sum(v.q * c.qc) DESC, c.cell) AS rn
       |    FROM qv v JOIN qcF c ON v.i = c.pos
       |    WHERE v.vec_id < $nQueries
       |    GROUP BY v.vec_id, c.cell
       |  ) WHERE rn <= $nprobe
       |),
       |adc AS MATERIALIZED (
       |  SELECT p.qid, c.vec_id, $adcTerm AS adc
       |  FROM codes c
       |  JOIN aF a ON a.vec_id = c.vec_id
       |  JOIN qcells qc ON qc.ivf_cell = a.cell
       |  JOIN parts p ON p.qid = qc.qid AND p.sub = c.sub AND p.cell = c.cell
       |  WHERE p.qid <> c.vec_id
       |  GROUP BY p.qid, c.vec_id
       |)${rerankTail(refine, k)}""".stripMargin
  }

  /** DuckDB exact brute-force quantized kNN (the x59 oracle text,
    * shared since round 12 with the x402 recall gate's truth side). */
  def exactKnnOracleSql(nQueries: Int, k: Int, dim: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $nQueries),
       |pairs AS (
       |  SELECT q.qid, e.vec_id,
       |    CAST(sum(CAST(floor(CAST(qe[i] AS DOUBLE) * 10000) AS BIGINT)
       |           * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS dot_q
       |  FROM q, embeddings e, range(1, ${dim + 1}) r(i)
       |  WHERE q.qid <> e.vec_id
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, vec_id, dot_q,
       |    row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS rn
       |  FROM pairs
       |)
       |SELECT qid, vec_id, dot_q, CAST(rn AS BIGINT) AS rn
       |FROM ranked WHERE rn <= $k ORDER BY qid, rn""".stripMargin

  /** The x402 judged ANN RECALL gate's oracle: recall@k of each
    * approximate tier against the exact brute-force twin, as exact
    * integers — every tier's full re-derivation runs as a derived
    * table (WITH chains nest inside FROM (...) in DuckDB), joined to
    * the exact top-k on (qid, vec_id). */
  def annRecallOracleSql(nQueries: Int, k: Int, dim: Int): String = {
    val n = nQueries * k
    val exact = exactKnnOracleSql(nQueries, k, dim)
    def leg(tier: String, tierSql: String): String =
      s"""SELECT '$tier' AS tier, CAST(count(*) AS BIGINT) AS hits,
         |  CAST(count(*) * 1000000 // $n AS BIGINT) AS recall_ppm
         |FROM ($tierSql) a
         |JOIN ($exact) e ON a.qid = e.qid AND a.vec_id = e.vec_id""".stripMargin
    Seq(
      leg("ivf", ivfOracleSql(nQueries, k, cells = 8, nprobe = 2,
        iters = 3, dim = dim)),
      leg("ivfpq", ivfPqOracleSql(nQueries, k, cells = 8, nprobe = 3,
        m = 8, ksub = 32, iters = 3, refine = 16, dim = dim,
        residual = false)),
      leg("pq", pqOracleSql(nQueries, k, m = 8, ksub = 32, iters = 3,
        refine = 16, dim = dim)),
      leg("residual", ivfPqOracleSql(nQueries, k, cells = 8, nprobe = 3,
        m = 8, ksub = 32, iters = 3, refine = 16, dim = dim,
        residual = true))
    ).mkString("", "\nUNION ALL\n", "\nORDER BY tier")
  }

  /** Recursively delete a temp tree (deepest-first). Roundtrip queries
    * must not assume the writer left exactly one file — an extra
    * sidecar would turn deleteIfExists(dir) into a
    * DirectoryNotEmptyException that masks the real failure. */
  def rmTree(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => try { java.nio.file.Files.deleteIfExists(p); () }
                      catch { case _: java.io.IOException => () })
    }
  }

  /** On-disk home for a persisted ANN index serving the judged
    * queries: keyed by the testdata dir, the variant, AND the
    * embeddings file's (mtime, size) — a regenerated corpus gets a
    * fresh path, so a stale index can never serve it (same identity
    * rule as the streaming ts-divisor cache). Lives under the JVM
    * tmpdir: a cache, rebuilt on first touch wherever it is missing. */
  def annIndexPath(dir: String, variant: String): String =
    Dedup.persistedIndexPath(dir, s"annidx_$variant", "embeddings.parquet")

  /** [[annIndexPath]]'s sibling for the persisted NEAR-DUP index,
    * keyed by the documents file's identity for the same staleness
    * guarantee. */
  def docIndexPath(dir: String, variant: String): String =
    Dedup.persistedIndexPath(dir, s"ndidx_$variant", "documents.parquet")

  /** The MinHash(8)+LSH(2 bands) oracle, shared by batch x57 and its
    * streaming twin x242 — one signature definition, two engines and
    * two execution modes judged against it. */
  lazy val duckMinhash8x2Oracle =
    s"""WITH $duckTok, $duckShingles,
       |mh AS (
       |  SELECT doc_id, i, min(md5(CAST(i AS STRING) || ':' || shingle)) AS m
       |  FROM sh, range(0, 8) r(i) GROUP BY doc_id, i
       |), bands AS (
       |  SELECT doc_id, i % 2 AS band,
       |    md5(min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 0 THEN m END) || ':' ||
       |        min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 1 THEN m END) || ':' ||
       |        min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 2 THEN m END) || ':' ||
       |        min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 3 THEN m END)) AS sig
       |  FROM mh GROUP BY doc_id, i % 2
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |), $duckJaccardTail
       |SELECT cand.d1, cand.d2,
       |  CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT) AS jac_x10k
       |FROM cand JOIN inter ON cand.d1 = inter.d1 AND cand.d2 = inter.d2
       |JOIN sz s1 ON cand.d1 = s1.doc_id JOIN sz s2 ON cand.d2 = s2.doc_id
       |ORDER BY cand.d1, cand.d2""".stripMargin

  /** DuckDB token stream CTE: (doc_id, pos 1-based, w). */
  val duckTok =
    """tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
      |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
      |  FROM documents
      |)""".stripMargin

  /** Adversarially SKEWED corpus (x390-x392): 47-char boilerplate
    * prefix on even doc_ids, universal footer on every doc — the two
    * dedup killers (giant shared-prefix windows, one shingle in all
    * documents) derived deterministically from the documents table so
    * the Spark side and the DuckDB oracle rebuild the identical
    * fixture. */
  def skewDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(
        when(col("doc_id") % 2 === 0,
          lit("subscribe to read the full article terms apply "))
          .otherwise(lit("")),
        col("text"), lit(" copyright footer notice legal")).as("text"))

  val duckSkew =
    """skew AS MATERIALIZED (SELECT doc_id, source,
      |    concat(CASE WHEN doc_id % 2 = 0
      |      THEN 'subscribe to read the full article terms apply '
      |      ELSE '' END,
      |      text, ' copyright footer notice legal') AS text
      |  FROM documents)""".stripMargin

  /** duckTok over the skewed corpus (needs skew). */
  val duckSkewTok =
    """tok AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
      |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
      |  FROM skew
      |)""".stripMargin

  /** duckShinglesFiltered over the skewed tok (needs tok). */
  def duckSkewShinglesFiltered(maxDf: Int) =
    s"""sh0 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
       |), keep AS MATERIALIZED (
       |  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= $maxDf
       |), sh AS MATERIALIZED (SELECT sh0.* FROM sh0 JOIN keep USING (shingle))""".stripMargin

  /** DuckDB distinct word-3-gram shingles CTE (needs tok). */
  val duckShingles =
    """sh AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
      |)""".stripMargin

  /** DuckDB stop-filtered shingles (needs tok): shingles in more than
    * `maxDf` docs dropped BEFORE any pair generation — the sub-quadratic
    * candidate path (mirrors Dedup.jaccardPairs(maxDocFreq=Some(f))). */
  def duckShinglesFiltered(maxDf: Int) =
    s"""sh0 AS (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
       |), keep AS (
       |  SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= $maxDf
       |), sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle))""".stripMargin

  /** DuckDB BMP geometry CTE `g(doc_id, w, h, px)`: the deterministic
    * construction rule of Multimodal.withBmpPayload re-derived in SQL
    * (w = n_chars%64+1, h = n_chars%37+1, px = 4-aligned-3w * h). */
  val duckBmpGeom =
    """g AS (
      |  SELECT doc_id, w, h,
      |    (CAST(floor((3 * w + 3) / 4.0) AS BIGINT) * 4) * h AS px
      |  FROM (SELECT doc_id, n_chars % 64 + 1 AS w, n_chars % 37 + 1 AS h
      |        FROM documents) d
      |)""".stripMargin

  val duckJaccardTail =
    """sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin



  /** DuckDB twin of [[graft.ext.Graph.kCoreTrajectory]] on the
    * customer-supplier graph: the peel rounds unrolled as materialized
    * CTE triples (n_r, e_r, r_r) — same contract (degree >= k on the
    * symmetrized distinct arc list, counts after restriction). */
  def kcoreOracleSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""n$r AS (SELECT src AS node FROM e${r - 1}
         |  GROUP BY 1 HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN n$r a ON e.src = a.node JOIN n$r b ON e.dst = b.node),
         |r$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e$r)
         |    AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_arcs)"""
        .stripMargin
    }.mkString(",\n")
    val sel = (1 to rounds).map(r => s"SELECT * FROM r$r")
      .mkString(" UNION ALL ")
    s"""WITH b AS (SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR)
       |      AS src,
       |    's' || CAST(l.l_suppkey AS VARCHAR) AS dst
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |e0 AS MATERIALIZED (
       |  SELECT src, dst FROM b UNION SELECT dst, src FROM b),
       |$steps
       |$sel ORDER BY round""".stripMargin
  }

  /** DuckDB twin of [[graft.ext.Preference.bradleyTerry]]: the MM
    * rounds unrolled as CTE pairs (d_n, s_n) — every operation the
    * same truncating BIGINT arithmetic as the Spark side. */
  def btOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { n =>
      s"""d$n AS (
         |  SELECT g.i, sum(CAST(g.n_ij AS HUGEINT) * 1000000000000
         |    // (a.s + b.s)) AS dn
         |  FROM games g JOIN s${n - 1} a ON a.i = g.i
         |  JOIN s${n - 1} b ON b.i = g.j GROUP BY 1),
         |s$n AS (
         |  SELECT d$n.i, CAST(CAST(coalesce(w.n_wins, 0) AS HUGEINT)
         |    * 1000000000000 // d$n.dn AS BIGINT) AS s
         |  FROM d$n LEFT JOIN wins w ON w.i = d$n.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT user_id AS u, epoch_us(ts) AS tm, event_id,
       |    event_type AS t, CAST(floor(value * 100) AS BIGINT) AS v
       |  FROM events),
       |sq AS (
       |  SELECT t, v, lead(t) OVER w AS nt, lead(v) OVER w AS nv
       |  FROM e WINDOW w AS (PARTITION BY u ORDER BY tm, event_id)),
       |cmp AS (
       |  SELECT CASE WHEN v > nv OR (v = nv AND t < nt)
       |      THEN t ELSE nt END AS w,
       |    CASE WHEN v > nv OR (v = nv AND t < nt)
       |      THEN nt ELSE t END AS l
       |  FROM sq WHERE nt IS NOT NULL AND nt <> t),
       |dir AS (SELECT w, l, CAST(count(*) AS BIGINT) AS c
       |        FROM cmp GROUP BY 1, 2),
       |games AS (
       |  SELECT i, j, CAST(sum(c) AS BIGINT) AS n_ij FROM (
       |    SELECT w AS i, l AS j, c FROM dir
       |    UNION ALL SELECT l AS i, w AS j, c FROM dir)
       |  GROUP BY 1, 2),
       |wins AS (SELECT w AS i, CAST(sum(c) AS BIGINT) AS n_wins
       |         FROM dir GROUP BY 1),
       |s0 AS (SELECT DISTINCT i, CAST(1000000 AS BIGINT) AS s
       |       FROM games),
       |$rounds,
       |tot AS (SELECT i, CAST(sum(n_ij) AS BIGINT) AS n_games
       |        FROM games GROUP BY 1)
       |SELECT s$iters.i AS event_type,
       |  CAST(coalesce(w.n_wins, 0) AS BIGINT) AS n_wins, tot.n_games,
       |  s$iters.s AS strength_x1e6,
       |  CAST(row_number() OVER (ORDER BY s$iters.s DESC, s$iters.i)
       |    AS BIGINT) AS rank
       |FROM s$iters JOIN tot ON tot.i = s$iters.i
       |LEFT JOIN wins w ON w.i = s$iters.i
       |ORDER BY rank, event_type""".stripMargin
  }
}
