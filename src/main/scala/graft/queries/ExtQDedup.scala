package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AsofJoin, Basket, Bpe, Cdc, Curation, Dedup, Entity, Expectations, Experiment, Graph, Ids, LmQuality, Multimodal, Pack, Privacy, Profile, Rollup, Sampling, SessionConf, Similarity, TextStats, TimeSeries}
import graft.streaming.Streaming
import graft.queries.ExtShared._

/** §2.8 judged queries — deduplication: exact/fuzzy/LSH/containment + contamination. */
private[queries] object ExtQDedup {

  val qs: Seq[Q] = Seq(

    Q.df("x54_fingerprint_dedup",
      (s, dir) => TextStats.fingerprints(Tables.load(s, dir, "documents")),
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  count(*) AS cnt, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),

    // polynomial rolling hash (Rabin-Karp) as the document fingerprint —
    // computed as a per-row left fold over the character codes (narrow,
    // no shuffle; comparable incrementally at chunk boundaries at scale).
    Q(name = "x74_rolling_fingerprint",
      run = (s, dir) => {
        Tables.registerAll(s, dir)
        graft.functions.RollingHash.register(s)
        s.sql(
          """SELECT doc_id,
            |  rolling_hash(trim(regexp_replace(lower(text), '\\s+', ' '))) AS rhash
            |FROM documents
            |ORDER BY doc_id""".stripMargin)
      },
      oracle = Some(
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(t) + 1),
        |        i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) AS rhash
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |      FROM documents) x
        |ORDER BY doc_id""".stripMargin)),


    // ---- dedup ---------------------------------------------------------
    // incremental dedup: the src19 batch arrives against the src0-18
    // corpus; anti-join on the 16-byte normalization fingerprint
    Q.df("x86_incremental_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.incrementalNew(
          docs.where(col("source") === "src19"),
          docs.where(col("source") =!= "src19"))
      },
      """SELECT n.doc_id FROM documents n
        |WHERE n.source = 'src19' AND NOT EXISTS (
        |  SELECT 1 FROM documents o
        |  WHERE o.source <> 'src19'
        |    AND md5(trim(regexp_replace(lower(o.text), '\s+', ' ', 'g'))) =
        |        md5(trim(regexp_replace(lower(n.text), '\s+', ' ', 'g'))))
        |ORDER BY n.doc_id""".stripMargin),


    // decontamination: eval docs (src19) whose SimHash sketch collides
    // with the training split — the fuzzy train/test overlap check
    // (exact fingerprints find nothing here; the planted overlaps are
    // near-dups)
    Q.df("x87_contamination",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.contaminationFuzzy(
          docs.where(col("source") === "src19"),
          docs.where(col("source") =!= "src19"))
      },
      s"""WITH $duckTok,
         |nib AS (
         |  SELECT doc_id, j, instr('0123456789abcdef', substr(md5(w), j, 1)) - 1 AS v
         |  FROM tok, range(1, 5) r(j)
         |), bits AS (
         |  SELECT doc_id, (j - 1) * 4 + b.b AS pos,
         |    sum(CASE WHEN (v & b.mask) > 0 THEN 1 ELSE -1 END) AS s
         |  FROM nib, (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) AS b(b, mask)
         |  GROUP BY doc_id, (j - 1) * 4 + b.b
         |), sk AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |)
         |SELECT n.doc_id FROM sk n JOIN documents dn ON n.doc_id = dn.doc_id
         |WHERE dn.source = 'src19' AND EXISTS (
         |  SELECT 1 FROM sk o JOIN documents dd ON o.doc_id = dd.doc_id
         |  WHERE dd.source <> 'src19' AND o.simhash = n.simhash)
         |ORDER BY n.doc_id""".stripMargin),


    // the production-width simhash path, oracle-judged: 60-bit sketch,
    // four 15-bit LSH bands (32768 buckets/band), popcount verify
    Q.df("x109_simhash60_neardup",
      (s, dir) => Dedup.simhashNearDups60(Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |nib AS (
         |  SELECT doc_id, j, instr('0123456789abcdef', substr(md5(w), j, 1)) - 1 AS v
         |  FROM tok, range(1, 16) r(j)
         |), bits AS (
         |  SELECT doc_id, (j - 1) * 4 + b.b AS pos,
         |    sum(CASE WHEN (v & b.mask) > 0 THEN 1 ELSE -1 END) AS s
         |  FROM nib, (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) AS b(b, mask)
         |  GROUP BY doc_id, (j - 1) * 4 + b.b
         |), sk AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, simhash, b.b AS band,
         |    (simhash >> (b.b * 15)) & 32767 AS nib15
         |  FROM sk, (VALUES (0), (1), (2), (3)) AS b(b)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |    a.simhash AS h1, b.simhash AS h2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.nib15 = b.nib15 AND a.doc_id < b.doc_id
         |)
         |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
         |ORDER BY d1, d2""".stripMargin),


    Q.df("x55_dedup_exact",
      (s, dir) => Dedup.exactStats(Tables.load(s, dir, "documents")),
      """SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_uniq
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),


    Q.df("x56_jaccard_pairs",
      (s, dir) => Dedup.jaccardPairs(Tables.load(s, dir, "documents"), 0.2),
      s"""WITH $duckTok, $duckShingles, $duckJaccardTail
         |SELECT d1, d2,
         |  CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT) AS jac_x10k
         |FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2
         |ORDER BY d1, d2""".stripMargin),


    // the SCALE-SAFE jaccard variant: stop-shingle filter (docFreq > 2
    // dropped before the self-join) — the knob that keeps the inverted-
    // index join sub-quadratic on hot shingles (Dedup.jaccardPairs
    // scaladoc). Jaccard is computed over surviving shingles in BOTH
    // engines, so the filtered result is still oracle-exact.
    Q.df("x77_jaccard_stopfiltered",
      (s, dir) => Dedup.jaccardPairs(Tables.load(s, dir, "documents"), 0.2,
        maxDocFreq = Some(2)),
      s"""WITH $duckTok,
         |${duckShinglesFiltered(2)},
         |$duckJaccardTail
         |SELECT d1, d2,
         |  CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT) AS jac_x10k
         |FROM inter JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2
         |ORDER BY d1, d2""".stripMargin),


    Q.df("x57_minhash_lsh",
      (s, dir) => Dedup.minhashLshPairs(Tables.load(s, dir, "documents")),
      duckMinhash8x2Oracle),


    // the parameterized LSH path at production-shaped settings: 16
    // minhashes in 4 bands of 4 rows (higher recall than the 8/2 demo
    // config of x57) — oracle re-derives the same banding, so the
    // tunable operator is hash-exact, not just spec-plausible
    Q.df("x83_minhash_lsh_16x4",
      (s, dir) => Dedup.minhashLshPairs(Tables.load(s, dir, "documents"),
        numHashes = 16, bands = 4),
      s"""WITH $duckTok, $duckShingles,
         |mh AS (
         |  SELECT doc_id, i, min(md5(CAST(i AS STRING) || ':' || shingle)) AS m
         |  FROM sh, range(0, 16) r(i) GROUP BY doc_id, i
         |), bands AS (
         |  SELECT doc_id, i % 4 AS band,
         |    md5(min(CASE WHEN CAST(floor(i/4.0) AS BIGINT) = 0 THEN m END) || ':' ||
         |        min(CASE WHEN CAST(floor(i/4.0) AS BIGINT) = 1 THEN m END) || ':' ||
         |        min(CASE WHEN CAST(floor(i/4.0) AS BIGINT) = 2 THEN m END) || ':' ||
         |        min(CASE WHEN CAST(floor(i/4.0) AS BIGINT) = 3 THEN m END)) AS sig
         |  FROM mh GROUP BY doc_id, i % 4
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |), $duckJaccardTail
         |SELECT cand.d1, cand.d2,
         |  CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT) AS jac_x10k
         |FROM cand JOIN inter ON cand.d1 = inter.d1 AND cand.d2 = inter.d2
         |JOIN sz s1 ON cand.d1 = s1.doc_id JOIN sz s2 ON cand.d2 = s2.doc_id
         |ORDER BY cand.d1, cand.d2""".stripMargin),


    Q.df("x58_simhash",
      (s, dir) => Dedup.simhash(Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |nib AS (
         |  SELECT doc_id, j, instr('0123456789abcdef', substr(md5(w), j, 1)) - 1 AS v
         |  FROM tok, range(1, 5) r(j)
         |), bits AS (
         |  SELECT doc_id, (j - 1) * 4 + b.b AS pos,
         |    sum(CASE WHEN (v & b.mask) > 0 THEN 1 ELSE -1 END) AS s
         |  FROM nib, (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) AS b(b, mask)
         |  GROUP BY doc_id, (j - 1) * 4 + b.b
         |)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin),


    // simhash near-dup matching: 4-bit nibble banding (pigeonhole: any
    // pair within hamming 3 of a 16-bit sketch shares a nibble) +
    // exact popcount verify — the hamming analog of LSH banding
    Q.df("x85_simhash_neardup",
      (s, dir) => Dedup.simhashNearDups(Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |nib AS (
         |  SELECT doc_id, j, instr('0123456789abcdef', substr(md5(w), j, 1)) - 1 AS v
         |  FROM tok, range(1, 5) r(j)
         |), bits AS (
         |  SELECT doc_id, (j - 1) * 4 + b.b AS pos,
         |    sum(CASE WHEN (v & b.mask) > 0 THEN 1 ELSE -1 END) AS s
         |  FROM nib, (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) AS b(b, mask)
         |  GROUP BY doc_id, (j - 1) * 4 + b.b
         |), sk AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN s >= 0 THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, simhash, b, (simhash >> (b * 4)) & 15 AS nib
         |  FROM sk, range(0, 4) r(b)
         |)
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.b = b.b AND a.nib = b.nib AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY d1, d2""".stripMargin),


    Q.df("x60_embed_neardup",
      (s, dir) => Similarity.nearDupPairs(Tables.load(s, dir, "embeddings"), 33000000L),
      """SELECT a.vec_id AS d1, b.vec_id AS d2,
        |  CAST(sum(CAST(floor(CAST(a.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
        |         * CAST(floor(CAST(b.embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT) AS dot_q
        |FROM embeddings a
        |JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id, range(1, 65) r(i)
        |GROUP BY 1, 2
        |HAVING dot_q >= 33000000
        |ORDER BY d1, d2""".stripMargin),


    // the sub-quadratic embedding near-dup (x60's scale path): random-
    // hyperplane SimHash sketches (deterministic ±1 hyperplanes from md5
    // parity — engine-reproducible, so the LSH itself is oracle-exact),
    // 4-bit hamming banding for candidates, exact-cosine verify on
    // candidates only — never an all-pairs join. The corpus's organic
    // pair cosines top out at ~0.48, so the query PLANTS one true
    // near-dup per vector (a deterministic per-coordinate rescale,
    // cos ~0.9999, re-derived identically by the oracle) and the
    // operator must recover exactly those pairs at cos >= 0.99.
    Q.df("x114_embed_simhash_neardup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val base = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        val pert = emb.select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) * " +
            "((9500 + (vec_id + i) % 1000) / 10000.0))").as("embedding"))
        Similarity.embedSimhashNearDups(base.unionByName(pert),
          minCosX10k = 9900L)
      },
      """WITH base AS (
        |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) r(i)
        |), q AS (
        |  SELECT vec_id, pos, CAST(floor(v * 10000) AS BIGINT) AS qv FROM base
        |  UNION ALL
        |  SELECT vec_id + 1000000, pos,
        |    CAST(floor(v * ((9500 + (vec_id + pos - 1) % 1000) / 10000.0)
        |         * 10000) AS BIGINT)
        |  FROM base
        |), s AS (
        |  SELECT b.b, p.i AS pos,
        |    CASE WHEN instr('02468ace',
        |           substr(md5(CAST(b.b AS VARCHAR) || ':' || CAST(p.i AS VARCHAR)), 1, 1)) > 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM range(0, 16) b(b), range(1, 65) p(i)
        |), proj AS (
        |  SELECT q.vec_id, s.b, sum(q.qv * s.sgn) AS proj
        |  FROM q JOIN s ON q.pos = s.pos
        |  GROUP BY 1, 2
        |), sk AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN proj >= 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sketch
        |  FROM proj GROUP BY 1
        |), bands AS (
        |  SELECT vec_id, sketch, r.b AS band, (sketch >> (r.b * 4)) & 15 AS nib
        |  FROM sk, range(0, 4) r(b)
        |), cand AS (
        |  SELECT DISTINCT a.vec_id AS d1, bb.vec_id AS d2
        |  FROM bands a JOIN bands bb
        |    ON a.band = bb.band AND a.nib = bb.nib AND a.vec_id < bb.vec_id
        |  WHERE bit_count(xor(a.sketch, bb.sketch)) <= 3
        |), n2 AS (
        |  SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n2 FROM q GROUP BY 1
        |), dots AS (
        |  SELECT c.d1, c.d2, CAST(sum(qa.qv * qb.qv) AS BIGINT) AS dq
        |  FROM cand c
        |  JOIN q qa ON qa.vec_id = c.d1
        |  JOIN q qb ON qb.vec_id = c.d2 AND qa.pos = qb.pos
        |  GROUP BY 1, 2
        |)
        |SELECT d.d1, d.d2,
        |  CAST(floor(10000.0 * d.dq /
        |       sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))) AS BIGINT)
        |    AS cos_x10k
        |FROM dots d JOIN n2 na ON na.vec_id = d.d1
        |            JOIN n2 nb ON nb.vec_id = d.d2
        |WHERE floor(10000.0 * d.dq /
        |      sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))) >= 9900
        |ORDER BY d1, d2""".stripMargin),


    // near-dup clusters: pair list -> connected components (the step a
    // real dedup pipeline runs after LSH+verify, to pick one keeper per
    // group). Candidate pairs come from the SUB-QUADRATIC stop-filtered
    // generator (maxDocFreq=2, the x77 path) — the composition a 100 TB
    // run uses; the unfiltered all-pairs join stays judged on its own
    // as x56. Oracle: recursive-CTE transitive closure over the same
    // stop-filtered Jaccard>=0.2 pairs.
    Q.df("x66_neardup_clusters",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.clusters(docs, Dedup.jaccardPairs(docs, 0.2, maxDocFreq = Some(2)))
      },
      s"""WITH RECURSIVE $duckTok, ${duckShinglesFiltered(2)}, $duckJaccardTail,
         |pairs AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2
         |), edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION SELECT d2, d1 FROM pairs
         |), reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |)
         |SELECT a AS doc_id, min(b) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin),


    // keep-latest dedup: newest event per user via distributed argmax
    // (max_by partial aggregation — no per-key window sort). Oracle
    // re-derives the winner with a row_number window.
    Q.df("x81_keep_latest",
      (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        Dedup.keepLatest(ev, col("user_id"), col("event_id"),
            col("ts"), col("event_id"))
          .select(col("key").as("user_id"), col("keep_id").as("event_id"))
      },
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY (epoch_ns(ts) // 1000) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin),

        // (epoch_ns // 1000: rank at Spark's microsecond precision — the
        // parquet column is TIMESTAMP(NANOS), and a sub-microsecond delta
        // would otherwise break ties differently in the two engines)

    // keeper materialization: the dedup pipeline's last step — drop
    // every document that is not its cluster's representative. Same
    // sub-quadratic candidate generator as x66 (stop-filtered shingles),
    // so the full judged pipeline — shingle -> filtered pairs -> CC ->
    // keep — is the shape that survives a 100 TB corpus.
    Q.df("x71_dedup_keep",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val labels = Dedup.clusters(docs,
          Dedup.jaccardPairs(docs, 0.2, maxDocFreq = Some(2)))
        docs.join(labels, "doc_id")
          .where(col("doc_id") === col("cluster_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("kept"), sum("n_chars").as("kept_chars"))
          .orderBy("lang")
      },
      s"""WITH RECURSIVE $duckTok, ${duckShinglesFiltered(2)}, $duckJaccardTail,
         |pairs AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2
         |), edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION SELECT d2, d1 FROM pairs
         |), reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |)
         |SELECT lang, count(*) AS kept,
         |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
         |FROM documents d
         |JOIN (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a) c
         |  ON d.doc_id = c.doc_id
         |WHERE d.doc_id = c.cluster_id
         |GROUP BY lang ORDER BY lang""".stripMargin),


    // Bloom-prefiltered incremental dedup: corpus fingerprints -> Bloom
    // sketch -> only the maybe-duplicate slice of the new batch pays the
    // exact anti-join; result is exactly incrementalNew's (fpp-bounded
    // candidate cost, zero wrong answers)
    Q.df("x97_bloom_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.incrementalNewBloom(
          docs.where(col("source") === "src19"),
          docs.where(col("source") =!= "src19"))
      },
      """SELECT n.doc_id FROM documents n
        |WHERE n.source = 'src19' AND NOT EXISTS (
        |  SELECT 1 FROM documents o
        |  WHERE o.source <> 'src19'
        |    AND md5(trim(regexp_replace(lower(o.text), '\s+', ' ', 'g'))) =
        |        md5(trim(regexp_replace(lower(n.text), '\s+', ' ', 'g'))))
        |ORDER BY n.doc_id""".stripMargin),


    // SemDeDup: k-means clusters + within-cluster near-dup drop (keep
    // smallest id). Same planted near-dups as x114 (rescaled copies at
    // cos ~0.9999) so the operator has real work; planted-dup removal
    // + determinism additionally spec-guarded in ExtSpec.
    Q.df("x116_semdedup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val base = emb.select(col("vec_id"), col("embedding"))
        val pert = emb.select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> CAST(CAST(x AS DOUBLE) * " +
            "((9500 + (vec_id + i) % 1000) / 10000.0) AS FLOAT))")
            .as("embedding"))
        Similarity.semDedup(base.unionByName(pert),
          cells = 8, iters = 3, minCosX10k = 9900L)
      },
      // oracle-exact since round 12: cluster boundaries ARE derivable —
      // the kmeans fit is integer-deterministic, so DuckDB re-derives
      // fit + in-cell exact-cosine victims + survivors byte-for-byte
      // (ExtShared.semDedupOracleSql)
      semDedupOracleSql(cells = 8, iters = 3, dim = 64,
        minCosX10k = 9900L)),


    // ---- round 4: passage dedup, sketch-exact heavy hitters, mixing,
    //      runtime filters, global ids, incremental rollups ----

    // Lee-et-al-style passage-level exact dedup: fixed 8-token blocks
    // deduped globally by first occurrence, documents reconstructed
    // from their surviving blocks — removes boilerplate WITHIN docs
    // instead of dropping whole docs (see Dedup.blockDedup scaladoc)
    Q.df("x127_block_dedup",
      (s, dir) => Dedup.blockDedup(Tables.load(s, dir, "documents"), 8),
      s"""WITH $duckTok,
         |blk AS (
         |  SELECT doc_id, (pos - 1) // 8 AS blk,
         |         string_agg(w, ' ' ORDER BY pos) AS btxt
         |  FROM tok GROUP BY doc_id, (pos - 1) // 8
         |),
         |r AS (SELECT doc_id, blk, btxt,
         |        row_number() OVER (PARTITION BY btxt
         |                           ORDER BY doc_id, blk) AS rn
         |      FROM blk),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks
         |        FROM blk GROUP BY doc_id),
         |srv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |          md5(string_agg(btxt, ' ' ORDER BY blk)) AS kept_md5
         |        FROM r WHERE rn = 1 GROUP BY doc_id)
         |SELECT t.doc_id, t.n_blocks,
         |  CAST(coalesce(s.n_kept, 0) AS BIGINT) AS n_kept, s.kept_md5
         |FROM tot t LEFT JOIN srv s USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),


    // passage-level novelty of an incoming batch vs the corpus — block
    // anti-join, the incremental sibling of x127 (see
    // Dedup.blockNovelty scaladoc): src19 is the "new crawl"
    Q.df("x141_block_novelty",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.blockNovelty(
          docs.where(col("source") === "src19"),
          docs.where(col("source") =!= "src19"), 8)
      },
      s"""WITH $duckTok,
         |blk AS (
         |  SELECT t.doc_id, (t.pos - 1) // 8 AS blk,
         |         string_agg(t.w, ' ' ORDER BY t.pos) AS btxt,
         |         min(d.source) AS source
         |  FROM tok t JOIN documents d ON t.doc_id = d.doc_id
         |  GROUP BY t.doc_id, (t.pos - 1) // 8
         |),
         |nb AS (SELECT doc_id, blk, btxt FROM blk WHERE source = 'src19'),
         |seen AS (SELECT DISTINCT btxt FROM blk WHERE source <> 'src19'),
         |novel AS (SELECT nb.* FROM nb
         |          WHERE nb.btxt NOT IN (SELECT btxt FROM seen)),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks
         |        FROM nb GROUP BY doc_id),
         |k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel,
         |        md5(string_agg(btxt, ' ' ORDER BY blk)) AS novel_md5
         |      FROM novel GROUP BY doc_id)
         |SELECT t.doc_id, t.n_blocks,
         |  CAST(coalesce(k.n_novel, 0) AS BIGINT) AS n_novel, k.novel_md5
         |FROM tot t LEFT JOIN k USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),


    // quality-aware near-dup keeper: keep the LONGEST document of each
    // cluster (ties: smallest id) instead of x71's first-crawled —
    // what real curation keeps; min_by bounded argmax over the labels,
    // no window over documents (see Dedup.keepBestInClusters)
    Q.df("x165_dedup_keep_best",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.keepBestInClusters(docs,
          Dedup.jaccardPairs(docs, 0.2, maxDocFreq = Some(2)))
      },
      s"""WITH RECURSIVE $duckTok, ${duckShinglesFiltered(2)}, $duckJaccardTail,
         |pairs AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2
         |), edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION SELECT d2, d1 FROM pairs
         |), reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |), lab AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
         |), m AS (
         |  SELECT l.cluster_id, d.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |      ORDER BY d.n_chars DESC, d.doc_id) AS rn,
         |    count(*) OVER (PARTITION BY l.cluster_id) AS n_members
         |  FROM lab l JOIN documents d ON l.doc_id = d.doc_id)
         |SELECT cluster_id, doc_id AS keep_id, n_chars AS keep_chars,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM m WHERE rn = 1 ORDER BY cluster_id""".stripMargin),


    // contamination PROVENANCE: per contaminated eval doc, WHICH train
    // document to delete — argmax train doc by shared rare shingles
    // (train-df <= 2 candidate generation, the sub-quadratic x77
    // contract; min_by argmax, no window over pair counts)
    Q.df("x163_contamination_provenance",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        Dedup.contaminationProvenance(
          docs.where(col("source") === "src19"),
          docs.where(col("source") =!= "src19"))
      },
      s"""WITH $duckTok,
         |sh AS (
         |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         |she AS (SELECT s.* FROM sh s JOIN documents d USING (doc_id)
         |        WHERE d.source = 'src19'),
         |sht AS (SELECT s.* FROM sh s JOIN documents d USING (doc_id)
         |        WHERE d.source <> 'src19'),
         |rare AS (SELECT shingle FROM sht GROUP BY shingle
         |         HAVING count(*) <= 2),
         |p AS (
         |  SELECT e.doc_id, t.doc_id AS src_doc, count(*) AS shared
         |  FROM she e
         |  JOIN (SELECT s.* FROM sht s JOIN rare USING (shingle)) t
         |    USING (shingle)
         |  GROUP BY 1, 2)
         |SELECT doc_id, src_doc, CAST(shared AS BIGINT) AS shared
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY shared DESC, src_doc) AS rn FROM p)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin),


    // asymmetric containment near-dup: flags quote/expansion pairs
    // (small doc inside big doc) that symmetric Jaccard misses; df<=2
    // rare-shingle candidates, both directed containments from one
    // undirected intersection count
    Q.df("x185_containment_dedup",
      (s, dir) => Dedup.containmentPairs(
        Tables.load(s, dir, "documents"), thresholdX10k = 5000L),
      s"""WITH $duckTok, ${duckShinglesFiltered(2)},
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |       FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM sh x JOIN sh y
         |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
         |  inter * 10000 // s1.n AS cont1_x10k,
         |  inter * 10000 // s2.n AS cont2_x10k
         |FROM inter JOIN sz s1 ON d1 = s1.doc_id
         |           JOIN sz s2 ON d2 = s2.doc_id
         |WHERE inter * 10000 // s1.n >= 5000
         |   OR inter * 10000 // s2.n >= 5000
         |ORDER BY d1, d2""".stripMargin),


    // corpus-level boilerplate removal: blocks recurring in >= 3
    // distinct docs are site chrome and stripped from EVERY document
    // (blockDedup's complement — zero copies, not first-copy-wins)
    Q.df("x199_boilerplate_strip",
      (s, dir) => Dedup.boilerplateStrip(
        Tables.load(s, dir, "documents"), 4, 3),
      s"""WITH $duckTok,
         |blk AS (
         |  SELECT doc_id, (pos - 1) // 4 AS blk,
         |         string_agg(w, ' ' ORDER BY pos) AS btxt
         |  FROM tok GROUP BY doc_id, (pos - 1) // 4
         |),
         |chrome AS (
         |  SELECT btxt FROM (SELECT DISTINCT btxt, doc_id FROM blk)
         |  GROUP BY btxt HAVING count(*) >= 3
         |),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks
         |        FROM blk GROUP BY doc_id),
         |srv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |          md5(string_agg(btxt, ' ' ORDER BY blk)) AS kept_md5
         |        FROM blk WHERE btxt NOT IN (SELECT btxt FROM chrome)
         |        GROUP BY doc_id)
         |SELECT t.doc_id, t.n_blocks,
         |  CAST(coalesce(s.n_kept, 0) AS BIGINT) AS n_kept, s.kept_md5
         |FROM tot t LEFT JOIN srv s USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin),


    // exact Jaccard join via LOSSLESS prefix filtering (PPJoin): the
    // sub-quadratic tier that provably misses no qualifying pair,
    // unlike x56's df-capped stop-shingle heuristic; oracle verifies
    // against the brute-force all-pairs shingle join
    Q.df("x206_ppjoin",
      (s, dir) => Dedup.ppjoinPairs(
        Tables.load(s, dir, "documents"), 300000L),
      s"""WITH $duckTok, $duckShingles,
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |       FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM sh a JOIN sh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, inter, x.n AS n1, y.n AS n2,
         |  inter * 1000000 // (x.n + y.n - inter) AS jac_ppm
         |FROM inter JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
         |WHERE inter * 1000000 >= (x.n + y.n - inter) * 300000
         |ORDER BY d1, d2""".stripMargin),


    // NEAR-dup-adjusted effective tokens: each x66 connected-component
    // cluster charged ONCE, to its representative's source — a source
    // that only republishes reports unique_tokens 0 / ppm 1e6; the
    // composed dedup -> accounting pass a mixture planner actually runs
    Q.df("x225_effective_tokens_neardup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        TextStats.effectiveTokensByCluster(docs,
          Dedup.clusters(docs, Dedup.jaccardPairs(docs, 0.2,
            maxDocFreq = Some(2))))
      },
      s"""WITH RECURSIVE $duckTok, ${duckShinglesFiltered(2)}, $duckJaccardTail,
         |pairs AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2
         |), edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM pairs
         |  UNION SELECT d2, d1 FROM pairs
         |), reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
         |), cl AS (
         |  SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
         |), tc AS (
         |  SELECT d.doc_id, d.source,
         |    CAST(coalesce(t.n_tok, 0) AS BIGINT) AS n_tok
         |  FROM documents d LEFT JOIN (
         |    SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1) t
         |    USING (doc_id)
         |), raw AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS raw_tokens
         |  FROM tc GROUP BY 1
         |), u AS (
         |  SELECT tc.source, CAST(count(*) AS BIGINT) AS n_reps,
         |    CAST(sum(tc.n_tok) AS BIGINT) AS unique_tokens
         |  FROM (SELECT DISTINCT cluster_id FROM cl) r
         |  JOIN tc ON tc.doc_id = r.cluster_id GROUP BY 1)
         |SELECT raw.source, raw.n_docs, raw.raw_tokens,
         |  CAST(coalesce(u.n_reps, 0) AS BIGINT) AS n_reps,
         |  CAST(coalesce(u.unique_tokens, 0) AS BIGINT) AS unique_tokens,
         |  CAST(CASE WHEN raw.raw_tokens > 0
         |    THEN (raw.raw_tokens - coalesce(u.unique_tokens, 0))
         |         * 1000000 // raw.raw_tokens
         |    ELSE 0 END AS BIGINT) AS dup_token_ppm
         |FROM raw LEFT JOIN u USING (source)
         |ORDER BY source""".stripMargin),


    // MinHash calibration curve: LSH candidates rolled up by their
    // 8-hash agreement count vs EXACT Jaccard — what a signature
    // agreement actually means on THIS corpus, checked before
    // trusting the sketch at scale
    Q.df("x235_minhash_calibration",
      (s, dir) => Dedup.minhashCalibration(
        Tables.load(s, dir, "documents")),
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
         |), $duckJaccardTail,
         |jacs AS (
         |  SELECT cand.d1, cand.d2,
         |    CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT)
         |      AS jac
         |  FROM cand JOIN inter ON cand.d1 = inter.d1
         |    AND cand.d2 = inter.d2
         |  JOIN sz s1 ON cand.d1 = s1.doc_id
         |  JOIN sz s2 ON cand.d2 = s2.doc_id
         |), est AS (
         |  SELECT c.d1, c.d2,
         |    CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
         |      AS est8
         |  FROM cand c JOIN mh a ON a.doc_id = c.d1
         |  JOIN mh b ON b.doc_id = c.d2 AND b.i = a.i
         |  GROUP BY 1, 2)
         |SELECT est8, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(jac) // count(*) AS BIGINT) AS mean_jac_x10k,
         |  CAST(min(jac) AS BIGINT) AS min_jac_x10k,
         |  CAST(max(jac) AS BIGINT) AS max_jac_x10k
         |FROM est JOIN jacs USING (d1, d2)
         |GROUP BY 1 ORDER BY est8""".stripMargin),


    // split-leakage audit: x57 near-dup pairs straddling the x90
    // content-hash split — per straddling split pair, how many leaks,
    // the worst Jaccard, and the smallest (d1, d2) example to triage;
    // two equi-joins of the split assignment onto the pair table
    Q.df("x245_split_leakage",
      (s, dir) => Dedup.splitLeakage(Tables.load(s, dir, "documents")),
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
         |), $duckJaccardTail,
         |pr AS (
         |  SELECT cand.d1, cand.d2,
         |    CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT) AS jac_x10k
         |  FROM cand JOIN inter ON cand.d1 = inter.d1 AND cand.d2 = inter.d2
         |  JOIN sz s1 ON cand.d1 = s1.doc_id JOIN sz s2 ON cand.d2 = s2.doc_id
         |), sp AS (
         |  SELECT doc_id,
         |    CASE WHEN h < 'cc' THEN 'train'
         |         WHEN h < 'e6' THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
         |        FROM documents) x
         |), st AS (
         |  SELECT least(a.split, b.split) AS split_a,
         |    greatest(a.split, b.split) AS split_b,
         |    pr.d1, pr.d2, pr.jac_x10k
         |  FROM pr JOIN sp a ON a.doc_id = pr.d1
         |          JOIN sp b ON b.doc_id = pr.d2
         |  WHERE a.split <> b.split
         |)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  max(jac_x10k) AS worst_jac_x10k,
         |  CAST(min(d1) AS BIGINT) AS example_d1,
         |  min_by(d2, lpad(CAST(d1 AS VARCHAR), 20, '0') || ':'
         |             || lpad(CAST(d2 AS VARCHAR), 20, '0')) AS example_d2
         |FROM st GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin),


    // lossless Pass-Join edit-distance self-join on supplier names:
    // segment-pigeonhole candidates (tau+1 even segments; one must
    // survive any tau-edit alignment verbatim, shifted <= tau), exact
    // levenshtein verify — matches the brute-force oracle bit-for-bit
    // with O(n) candidate keys, never an all-pairs comparison
    Q.df("x252_edit_passjoin",
      (s, dir) => Entity.passJoin(
        Tables.load(s, dir, "supplier"), "s_name", tau = 1),
      """WITH n AS (SELECT DISTINCT s_name AS name FROM supplier)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM n a JOIN n b
        |  ON a.name < b.name
        |  AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY name_a, name_b""".stripMargin),


    // persisted near-dup index, build-once/serve-many: the corpus band
    // table + per-doc shingle arrays are stored once; a re-scrape
    // batch (doc_id % 7 = 0) is answered from the STORE — one
    // documents scan in the serve plan (the batch itself),
    // PlanSpec-guarded; verify is one in-row array_intersect per
    // candidate, the x242 discipline
    Q.df("x260_neardup_index_serve",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val (ib, ish) = Dedup.nearDupIndexAt(
          s, docIndexPath(dir, "nd8x2"), docs)
        Dedup.probeNearDupIndex(ib, ish,
          docs.where(col("doc_id") % 7 === 0))
      },
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
         |), bb AS (SELECT * FROM bands WHERE doc_id % 7 = 0),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bb b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id <> b.doc_id
         |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle
         |    AND x.doc_id <> y.doc_id AND y.doc_id % 7 = 0
         |  GROUP BY 1, 2)
         |SELECT cand.d1, cand.d2,
         |  CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT)
         |    AS jac_x10k
         |FROM cand JOIN inter ON cand.d1 = inter.d1 AND cand.d2 = inter.d2
         |JOIN sz s1 ON cand.d1 = s1.doc_id
         |JOIN sz s2 ON cand.d2 = s2.doc_id
         |ORDER BY cand.d1, cand.d2""".stripMargin),


    // TTL-window dedup: a (user, event_type) is admitted once per
    // 7-day tumbling window, earliest (ts, id) kept — the batch twin
    // of dropDuplicatesWithinWatermark's bounded state; one keyed
    // min(struct) aggregation, no window function
    Q.df("x261_ttl_dedup",
      (s, dir) => TimeSeries.windowedDedup(
        Tables.load(s, dir, "events"),
        Seq("user_id", "event_type"), "ts", "event_id", 7),
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS win,
        |    epoch_us(ts) AS tm, event_id
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type,
        |      win ORDER BY tm, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type, win)
        |      AS n_events
        |  FROM e)
        |SELECT user_id, event_type, win,
        |  CAST(n_events AS BIGINT) AS n_events, event_id AS kept_id
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type, win""".stripMargin),


    // near-dup evidence: per judged pair, the three RAREST shared
    // shingles — the review-queue forensics ("they share these exact
    // phrases"); evidence joins only the pair set back to the
    // inverted index, bounded by per-pair shared counts
    Q.df("x276_neardup_evidence",
      (s, dir) => Dedup.neardupEvidence(
        Tables.load(s, dir, "documents"), 0.2, 2),
      s"""WITH $duckTok, ${duckShinglesFiltered(2)}, $duckJaccardTail,
         |pairs AS (
         |  SELECT d1, d2,
         |    CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT)
         |      AS jac_x10k
         |  FROM inter JOIN sz s1 ON d1 = s1.doc_id
         |  JOIN sz s2 ON d2 = s2.doc_id
         |  WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2),
         |dfreq AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1),
         |shared AS (
         |  SELECT p.d1, p.d2, p.jac_x10k, x.shingle, f.df
         |  FROM pairs p JOIN sh0 x ON x.doc_id = p.d1
         |  JOIN sh0 y ON y.doc_id = p.d2 AND y.shingle = x.shingle
         |  JOIN dfreq f ON f.shingle = x.shingle),
         |rk AS (
         |  SELECT d1, d2, jac_x10k, shingle,
         |    row_number() OVER (PARTITION BY d1, d2
         |      ORDER BY df, shingle) AS rn,
         |    count(*) OVER (PARTITION BY d1, d2) AS n_shared
         |  FROM shared)
         |SELECT d1, d2, max(jac_x10k) AS jac_x10k,
         |  CAST(max(n_shared) AS BIGINT) AS n_shared,
         |  max(CASE WHEN rn = 1 THEN shingle END) AS ev1,
         |  max(CASE WHEN rn = 2 THEN shingle END) AS ev2,
         |  max(CASE WHEN rn = 3 THEN shingle END) AS ev3
         |FROM rk GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin),


    // blocking-quality audit: last-4-chars blocking on supplier names
    // scored against the LOSSLESS tau=2 truth set (passJoin) on the
    // two record-linkage axes — reduction ratio (cost) and pair
    // completeness (recall); the quadratic all-pairs is priced
    // arithmetically, never materialized
    Q.df("x291_blocking_quality",
      (s, dir) => Entity.blockingQuality(
        Tables.load(s, dir, "supplier"), "s_name", 2,
        expr("right(name, 4)")),
      """WITH names AS (SELECT DISTINCT s_name AS name FROM supplier),
        |truth AS (
        |  SELECT a.name AS name_a, b.name AS name_b
        |  FROM names a JOIN names b ON a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |blk AS (SELECT name, right(name, 4) AS b FROM names),
        |cand AS (
        |  SELECT x.name AS name_a, y.name AS name_b
        |  FROM blk x JOIN blk y ON x.b = y.b AND x.name < y.name),
        |found AS (SELECT * FROM cand INTERSECT SELECT * FROM truth),
        |m AS (SELECT
        |  (SELECT count(*) FROM names) AS nn,
        |  (SELECT count(*) FROM cand) AS nc,
        |  (SELECT count(*) FROM truth) AS nt,
        |  (SELECT count(*) FROM found) AS nf)
        |SELECT CAST(nn AS BIGINT) AS n_names,
        |  CAST(nn * (nn - 1) // 2 AS BIGINT) AS n_all_pairs,
        |  CAST(nc AS BIGINT) AS n_candidates,
        |  CAST(nt AS BIGINT) AS n_true, CAST(nf AS BIGINT) AS n_found,
        |  CAST((nn * (nn - 1) // 2 - nc) * 1000000
        |    // (nn * (nn - 1) // 2) AS BIGINT) AS reduction_ppm,
        |  CAST(CASE WHEN nt = 0 THEN NULL
        |    ELSE nf * 1000000 // nt END AS BIGINT) AS completeness_ppm
        |FROM m""".stripMargin),


    // exact prefix-containment (truncation) dedup via the sorted-
    // successor trick; the corpus is seeded with deterministic
    // truncated copies (same derivation in the oracle) so the
    // operator is exercised for real, not on an empty natural set
    Q.df("x303_truncation_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val trunc = docs
          .where(col("doc_id") % 7 === 0 && col("n_chars") >= 40)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("substring(text, 1, CAST(n_chars div 2 AS INT))").as("text"))
        Dedup.truncationDupes(
          docs.select("doc_id", "text").unionByName(trunc))
      },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, 1, CAST(n_chars // 2 AS INT))
        |  FROM documents WHERE doc_id % 7 = 0 AND n_chars >= 40),
        |own AS (SELECT text AS t, min(doc_id) AS owner FROM corpus GROUP BY 1),
        |srt AS (SELECT t, owner, lead(t) OVER (ORDER BY t) AS nxt,
        |        lead(owner) OVER (ORDER BY t) AS nxt_owner FROM own),
        |flag AS (SELECT t, nxt_owner FROM srt
        |         WHERE nxt IS NOT NULL AND starts_with(nxt, t))
        |SELECT c.doc_id AS doc_id,
        |  CAST(length(c.text) AS BIGINT) AS n_chars_trunc,
        |  f.nxt_owner AS container_id
        |FROM corpus c JOIN flag f ON c.text = f.t
        |ORDER BY doc_id""".stripMargin),


    // segment-level exact dedup: non-overlapping 3-word chunks; a
    // chunk is duplicated when its text occurs in >= 2 distinct docs
    Q.df("x311_segment_dedup",
      (s, dir) => Dedup.segmentDupes(Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |seg AS (SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS seg
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |  WHERE a.pos % 3 = 1),
         |multi AS (SELECT seg FROM seg GROUP BY 1
         |          HAVING count(DISTINCT doc_id) >= 2)
         |SELECT s.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(count(m.seg) AS BIGINT) AS n_dup_segments,
         |  CAST(count(m.seg) * 1000000 // count(*) AS BIGINT) AS dup_ppm
         |FROM seg s LEFT JOIN multi m USING (seg)
         |GROUP BY 1 ORDER BY 1""".stripMargin),


    // cross-source shingle contamination matrix: shared distinct
    // 3-gram counts + exact Jaccard ppm per source pair
    Q.df("x317_contamination_matrix",
      (s, dir) => Curation.contaminationMatrix(
        Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |st AS (SELECT DISTINCT d.source,
         |    a.w || ' ' || b.w || ' ' || c.w AS s
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |             JOIN documents d ON d.doc_id = a.doc_id),
         |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |  FROM st GROUP BY 1),
         |shared AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM st a JOIN st b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
         |  n_shared * 1000000 // (sa.n + sb.n - n_shared) AS jaccard_ppm
         |FROM shared JOIN sizes sa ON sa.source = src_a
         |            JOIN sizes sb ON sb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin),


    // duplication-vs-length calibration: exact-dup rate per rank-free
    // length decile
    Q.df("x334_dup_length_decile",
      (s, dir) => Curation.dupByLengthDecile(
        Tables.load(s, dir, "documents")),
      """WITH dupc AS (SELECT text, CAST(count(*) AS BIGINT) AS n_copies
        |  FROM documents GROUP BY 1),
        |hist AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS hc
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(hc) AS BIGINT) AS n_total FROM hist),
        |dec AS (SELECT n_chars,
        |    (CAST(sum(hc) OVER (ORDER BY n_chars) AS BIGINT) - hc)
        |      * 10 // n_total AS decile
        |  FROM hist CROSS JOIN tot)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_docs,
        |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS dup_ppm
        |FROM documents JOIN dupc USING (text) JOIN dec USING (n_chars)
        |GROUP BY 1 ORDER BY 1""".stripMargin),


    // near-dup graph transitivity: wedge closure rate on the 60-bit
    // simhash pair graph — the CC over-merge audit
    Q.df("x338_dedup_transitivity",
      (s, dir) => Dedup.nearDupTransitivity(
        Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |nib AS (
         |  SELECT doc_id, j,
         |    instr('0123456789abcdef', substr(md5(w), j, 1)) - 1 AS v
         |  FROM tok, range(1, 16) r(j)
         |), bits AS (
         |  SELECT doc_id, (j - 1) * 4 + b.b AS pos,
         |    sum(CASE WHEN (v & b.mask) > 0 THEN 1 ELSE -1 END) AS s
         |  FROM nib, (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) AS b(b, mask)
         |  GROUP BY doc_id, (j - 1) * 4 + b.b
         |), sk AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN s >= 0
         |    THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS BIGINT)
         |    AS simhash
         |  FROM bits GROUP BY doc_id
         |), bands AS (
         |  SELECT doc_id, simhash, b,
         |    (simhash >> (b * 15)) & 32767 AS nib
         |  FROM sk, range(0, 4) r(b)
         |), pr AS (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.nib = b.nib AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |), sym AS (
         |  SELECT d1 AS s, d2 AS t FROM pr
         |  UNION ALL SELECT d2, d1 FROM pr
         |), w AS (
         |  SELECT e1.t AS d1, e2.t AS d2 FROM sym e1
         |  JOIN sym e2 ON e1.s = e2.s AND e1.t < e2.t
         |), cl AS (SELECT count(*) AS n_closed FROM w
         |  WHERE EXISTS (SELECT 1 FROM pr
         |    WHERE pr.d1 = w.d1 AND pr.d2 = w.d2))
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_pairs,
         |  (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
         |  CAST(cl.n_closed AS BIGINT) AS n_closed,
         |  CAST(cl.n_closed * 1000000
         |    // nullif((SELECT count(*) FROM w), 0) AS BIGINT)
         |    AS closure_ppm
         |FROM cl""".stripMargin),


    // head-shingle-drop contamination tier: universal boilerplate
    // pruned before the pair join, dropped count carried in-band
    Q.df("x342_contamination_pruned",
      (s, dir) => Curation.contaminationMatrixPruned(
        Tables.load(s, dir, "documents")),
      s"""WITH $duckTok,
         |st AS (SELECT DISTINCT d.source,
         |    a.w || ' ' || b.w || ' ' || c.w AS s
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |             JOIN documents d ON d.doc_id = a.doc_id),
         |hot AS (SELECT s FROM st GROUP BY s HAVING count(*) >= 3),
         |drp AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM hot),
         |pr AS (SELECT source, s FROM st
         |  WHERE s NOT IN (SELECT s FROM hot)),
         |sizes AS (SELECT st.source,
         |    CAST(count(CASE WHEN hot.s IS NULL THEN 1 END) AS BIGINT)
         |      AS n
         |  FROM st LEFT JOIN hot ON st.s = hot.s GROUP BY 1),
         |shared AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM pr a JOIN pr b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT sa.source AS src_a, sb.source AS src_b,
         |  sa.n AS n_a, sb.n AS n_b,
         |  coalesce(n_shared, 0) AS n_shared,
         |  coalesce(coalesce(n_shared, 0) * 1000000
         |    // nullif(sa.n + sb.n - coalesce(n_shared, 0), 0), 0)
         |    AS jaccard_ppm,
         |  n_dropped
         |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
         |  LEFT JOIN shared
         |    ON shared.src_a = sa.source AND shared.src_b = sb.source
         |  CROSS JOIN drp
         |ORDER BY src_a, src_b""".stripMargin),


    // shingle saturation curve: distinct/total per word-shingle size
    // — measures the dedup family's k knee on the real corpus
    Q.df("x378_shingle_saturation",
      (s, dir) => TextStats.shingleSaturation(
        Tables.load(s, dir, "documents")),
      """WITH t AS (SELECT list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) > 0) AS t FROM documents),
        |s1 AS (SELECT unnest(CASE WHEN len(t) >= 1 THEN
        |    list_transform(range(1, len(t) + 1),
        |      i -> array_to_string(t[i:i], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS s FROM t),
        |s2 AS (SELECT unnest(CASE WHEN len(t) >= 2 THEN
        |    list_transform(range(1, len(t)),
        |      i -> array_to_string(t[i:i+1], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS s FROM t),
        |s3 AS (SELECT unnest(CASE WHEN len(t) >= 3 THEN
        |    list_transform(range(1, len(t) - 1),
        |      i -> array_to_string(t[i:i+2], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS s FROM t),
        |s4 AS (SELECT unnest(CASE WHEN len(t) >= 4 THEN
        |    list_transform(range(1, len(t) - 2),
        |      i -> array_to_string(t[i:i+3], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS s FROM t),
        |s5 AS (SELECT unnest(CASE WHEN len(t) >= 5 THEN
        |    list_transform(range(1, len(t) - 3),
        |      i -> array_to_string(t[i:i+4], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS s FROM t),
        |s6 AS (SELECT unnest(CASE WHEN len(t) >= 6 THEN
        |    list_transform(range(1, len(t) - 4),
        |      i -> array_to_string(t[i:i+5], ' '))
        |    ELSE CAST([] AS VARCHAR[]) END) AS s FROM t),
        |u AS (
        |  SELECT CAST(1 AS BIGINT) AS k,
        |    CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(count(DISTINCT s) AS BIGINT) AS n_distinct FROM s1
        |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT s) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT s) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT s) AS BIGINT) FROM s4
        |  UNION ALL SELECT 5, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT s) AS BIGINT) FROM s5
        |  UNION ALL SELECT 6, CAST(count(*) AS BIGINT),
        |    CAST(count(DISTINCT s) AS BIGINT) FROM s6)
        |SELECT k, n_shingles, n_distinct,
        |  n_distinct * 1000000 // n_shingles AS distinct_ppm
        |FROM u ORDER BY k""".stripMargin),


    // ---- adversarial-skew fixture family (x390-x392): the corpus
    // rebuilt with the two dedup killers web text actually has — a
    // 47-char boilerplate prefix on half the docs and a universal
    // footer on ALL of them (one shingle in every document). Derived
    // identically in both engines (skewDocs / duckSkew), so each
    // documented skew mitigation is JUDGED on the corpus shape it
    // exists for, not just described.

    // MinHash LSH on the skewed corpus through the stop-shingle
    // prefilter (maxDocFreq=10): without it the universal footer wins
    // min for some hash indices corpus-wide and one band bucket goes
    // O(n²); with it, signatures and the verify Jaccard run on content
    // shingles only. Oracle = the full filtered pipeline re-derived.
    Q.df("x390_skew_minhash_stopfiltered",
      (s, dir) => Dedup.minhashLshPairs(
        skewDocs(Tables.load(s, dir, "documents")),
        maxDocFreq = Some(10)),
      s"""WITH $duckSkew, $duckSkewTok, ${duckSkewShinglesFiltered(10)},
         |mh AS MATERIALIZED (
         |  SELECT doc_id, i, min(md5(CAST(i AS STRING) || ':' || shingle)) AS m
         |  FROM sh, range(0, 8) r(i) GROUP BY doc_id, i
         |), bands AS MATERIALIZED (
         |  SELECT doc_id, i % 2 AS band,
         |    md5(min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 0 THEN m END) || ':' ||
         |        min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 1 THEN m END) || ':' ||
         |        min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 2 THEN m END) || ':' ||
         |        min(CASE WHEN CAST(floor(i/2.0) AS BIGINT) = 3 THEN m END)) AS sig
         |  FROM mh GROUP BY doc_id, i % 2
         |), cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |), sz AS MATERIALIZED (
         |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS MATERIALIZED (
         |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle
         |    AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT cand.d1, cand.d2,
         |  CAST(floor(10000.0 * i / (s1.n + s2.n - i)) AS BIGINT)
         |    AS jac_x10k
         |FROM cand JOIN inter ON cand.d1 = inter.d1 AND cand.d2 = inter.d2
         |JOIN sz s1 ON cand.d1 = s1.doc_id
         |JOIN sz s2 ON cand.d2 = s2.doc_id
         |ORDER BY cand.d1, cand.d2""".stripMargin),


    // contamination matrix on the skewed corpus through x342's pruning
    // tier: the planted universal footer/boilerplate shingles cross
    // EVERY source pair, so without the >=3-source drop the matrix
    // saturates; the pruned tier prices them in n_dropped and measures
    // content overlap only
    Q.df("x392_skew_contamination_pruned",
      (s, dir) => Curation.contaminationMatrixPruned(
        skewDocs(Tables.load(s, dir, "documents"))),
      s"""WITH $duckSkew, $duckSkewTok,
         |st AS MATERIALIZED (SELECT DISTINCT d.source,
         |    a.w || ' ' || b.w || ' ' || c.w AS s
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
         |             JOIN skew d ON d.doc_id = a.doc_id),
         |hot AS MATERIALIZED (SELECT s FROM st GROUP BY s HAVING count(*) >= 3),
         |drp AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM hot),
         |pr AS MATERIALIZED (SELECT source, s FROM st
         |  WHERE s NOT IN (SELECT s FROM hot)),
         |sizes AS MATERIALIZED (SELECT st.source,
         |    CAST(count(CASE WHEN hot.s IS NULL THEN 1 END) AS BIGINT)
         |      AS n
         |  FROM st LEFT JOIN hot ON st.s = hot.s GROUP BY 1),
         |shared AS MATERIALIZED (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM pr a JOIN pr b ON a.s = b.s AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT sa.source AS src_a, sb.source AS src_b,
         |  sa.n AS n_a, sb.n AS n_b,
         |  coalesce(n_shared, 0) AS n_shared,
         |  coalesce(coalesce(n_shared, 0) * 1000000
         |    // nullif(sa.n + sb.n - coalesce(n_shared, 0), 0), 0)
         |    AS jaccard_ppm,
         |  n_dropped
         |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
         |  LEFT JOIN shared
         |    ON shared.src_a = sa.source AND shared.src_b = sb.source
         |  CROSS JOIN drp
         |ORDER BY src_a, src_b""".stripMargin),


    // exact 13-gram eval decontamination (the published GPT-3/PaLM
    // rule) — windows built in-row, joined on md5 digests; the corpus
    // is seeded with deterministic leaked copies so the rule fires for
    // real (same derivation in the oracle)
    Q.df("x393_ngram_decontaminate",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val eval0 = docs.where(col("source") === "src19")
        val train = docs.where(col("source") =!= "src19")
          .select("doc_id", "text")
          .unionByName(eval0.where(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              concat(lit("press syndication wire copy "), col("text"),
                lit(" republished with permission")).as("text")))
        Curation.ngramDecontaminate(train, eval0)
      },
      """WITH ev AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents WHERE source = 'src19'),
        |tr AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src19'
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |    concat('press syndication wire copy ', text,
        |           ' republished with permission')
        |  FROM ev WHERE doc_id % 3 = 0),
        |tw AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      range(1, len(t) - 11),
        |      i -> md5(array_to_string(t[i:i+12], ' '))))) AS g
        |  FROM (SELECT doc_id,
        |          regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |        FROM tr)
        |  WHERE len(t) >= 13),
        |ew AS MATERIALIZED (
        |  SELECT doc_id AS eval_id, unnest(list_distinct(list_transform(
        |      range(1, len(t) - 11),
        |      i -> md5(array_to_string(t[i:i+12], ' '))))) AS g
        |  FROM (SELECT doc_id,
        |          regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |        FROM ev)
        |  WHERE len(t) >= 13)
        |SELECT tw.doc_id,
        |  CAST(count(DISTINCT g) AS BIGINT) AS n_shared,
        |  min(eval_id) AS first_eval_id
        |FROM tw JOIN ew USING (g)
        |GROUP BY 1 ORDER BY 1""".stripMargin),


    // suffix-containment dedup (the truncation mirror): strict-suffix
    // docs flagged via the prefix machinery over reversed text; the
    // corpus is seeded with deterministic tail slices (doc_id % 7 = 3,
    // right 40 + id % 37 chars) so both window and short-text paths run
    Q.df("x399_suffix_dedup",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select("doc_id", "text")
        val planted = docs
          .where(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("right(text, 40 + CAST(doc_id % 37 AS INT))").as("text"))
        Dedup.suffixDupes(docs.unionByName(planted))
      },
      """WITH corpus AS MATERIALIZED (
        |  SELECT doc_id, reverse(text) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(reverse(text), 1, 40 + CAST(doc_id % 37 AS INT))
        |  FROM documents WHERE doc_id % 7 = 3),
        |own AS MATERIALIZED (
        |  SELECT t, min(doc_id) AS owner FROM corpus GROUP BY 1),
        |srt AS (SELECT t, owner, lead(t) OVER (ORDER BY t) AS nxt,
        |        lead(owner) OVER (ORDER BY t) AS nxt_owner FROM own),
        |flag AS (SELECT t, nxt_owner FROM srt
        |         WHERE nxt IS NOT NULL AND starts_with(nxt, t))
        |SELECT c.doc_id AS doc_id,
        |  CAST(length(c.t) AS BIGINT) AS n_chars_trunc,
        |  f.nxt_owner AS container_id
        |FROM corpus c JOIN flag f ON c.t = f.t
        |ORDER BY doc_id""".stripMargin),

  )
}
