package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{AsofJoin, Basket, Bpe, Cdc, Curation, Dedup, Entity, Expectations, Experiment, Graph, Ids, LmQuality, Multimodal, Pack, Privacy, Profile, Rollup, Sampling, SessionConf, Similarity, TextStats, TimeSeries}
import graft.streaming.Streaming
import graft.queries.ExtShared._

/** §2.8 judged queries — graph + entity resolution: pagerank, k-core, components, canonicalization. */
private[queries] object ExtQGraph {

  /** The symmetrized customer-supplier graph of x169, x183 and x259:
    * one arc per distinct (customer, supplier) purchase pair, as
    * prefixed string ids `c<custkey>` / `s<suppkey>`, in both
    * orientations. */
  private def custSuppGraph(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    // distinct on the (custkey, suppkey) LONG pair BEFORE building the
    // string ids: the prefixes make the concat injective, so the
    // distinct sets are in bijection — but the exchange carries two
    // longs instead of two strings and the concat runs once per
    // DISTINCT pair instead of once per joined row. Checkpointed BEFORE
    // mirroring: the union references the join+distinct subtree twice
    // (same trap Dedup.clusters guards against)
    val cs = graft.ext.CacheRegistry.checkpoint(
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
        .select(concat(lit("c"), col("ck")).as("src"),
          concat(lit("s"), col("sk")).as("dst")))
    cs.union(cs.select(col("dst").as("src"), col("src").as("dst")))
  }

  val qs: Seq[Q] = Seq(

    // global contiguous 0..n-1 ids WITHOUT the single-partition window
    // that row_number() OVER (ORDER BY ...) plans — range-partitioned
    // sort + per-partition offsets (see Ids.contiguousIds scaladoc)
    Q.df("x132_global_ids",
      (s, dir) => Ids.contiguousIds(Tables.load(s, dir, "documents"), "doc_id"),
      """SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS gid
        |FROM documents ORDER BY doc_id""".stripMargin),


    // link-graph quality prior: integer-exact PageRank (damping 0.85,
    // 5 rounds, scaled-BIGINT truncating division — bit-identical
    // across partitionings and engines) on the symmetrized
    // customer-supplier graph. Oracle: the same rounds unrolled as
    // materialized CTEs.
    Q.df("x169_graph_pagerank",
      (s, dir) => Graph.pageRank(custSuppGraph(s, dir), 5),
      {
        val iters = 5
        val head =
          """WITH e0 AS MATERIALIZED (
            |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
            |                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
            |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            |), edges AS MATERIALIZED (
            |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
            |), deg AS MATERIALIZED (
            |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            |  FROM edges GROUP BY 1
            |), nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
            |s0 AS MATERIALIZED (
            |  SELECT node,
            |    CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS score
            |  FROM deg)""".stripMargin
        val rounds = (0 until iters).map { i =>
          s""",
             |s${i + 1} AS MATERIALIZED (
             |  SELECT d.node,
             |    CAST((1000000000000 // (SELECT n FROM nn)) * 15 // 100
             |      + 85 * coalesce(c.c, 0) // 100 AS BIGINT) AS score
             |  FROM deg d LEFT JOIN (
             |    SELECT e.dst AS node, CAST(sum(s.score // g.deg) AS BIGINT) AS c
             |    FROM edges e JOIN s$i s ON e.src = s.node
             |    JOIN deg g ON g.node = e.src
             |    GROUP BY 1) c ON c.node = d.node)""".stripMargin
        }.mkString
        s"$head$rounds\nSELECT node, score FROM s$iters ORDER BY node"
      }),


    // fuzzy entity resolution: distinct part names within 2 edits,
    // multi-pass token blocking (names sharing a token are the only
    // candidates) + block purging; levenshtein verified on candidates
    // only — the match runs on the vocabulary-sized distinct-name
    // table, never on records; exact integer distance both engines
    Q.df("x179_fuzzy_entity_match",
      (s, dir) => Entity.fuzzyNameMatch(
        Tables.load(s, dir, "part"), "p_name", maxDist = 2),
      """WITH names AS (
        |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS cnt
        |  FROM part GROUP BY 1),
        |blk AS (
        |  SELECT name, cnt, unnest(string_split(name, ' ')) AS blk
        |  FROM names),
        |keep AS (SELECT blk FROM blk GROUP BY 1 HAVING count(*) <= 1000),
        |pruned AS (SELECT b.* FROM blk b JOIN keep USING (blk)
        |           WHERE b.blk <> ''),
        |cand AS (
        |  SELECT DISTINCT a.name AS name_a, b.name AS name_b,
        |    a.cnt AS cnt_a, b.cnt AS cnt_b
        |  FROM pruned a JOIN pruned b
        |    ON a.blk = b.blk AND a.name < b.name)
        |SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist,
        |  cnt_a, cnt_b
        |FROM cand WHERE levenshtein(name_a, name_b) <= 2
        |ORDER BY name_a, name_b""".stripMargin),



    // probabilistic record linkage (Fellegi-Sunter 1969): a dirty copy
    // of part with four deterministic field corruptions (last name
    // token dropped at id%7, type voided at id%13, size bumped at id%11) is re-linked to the clean file via
    // two blocking passes (brand+type, brand+size) and integer
    // log-odds scoring with exact chance-agreement u-probabilities.
    // Judged as the score-calibration histogram: per score, how many
    // candidate pairs and how many are TRUE links (same id) — the
    // separation the linkage threshold rides on. A record corrupted in
    // both type AND size (id % 143) escapes both blocking passes: the
    // judged histogram prices that recall loss too.
    Q.df("x405_record_linkage",
      (s, dir) => {
        val clean = Tables.load(s, dir, "part").select(
          col("p_partkey").cast("bigint").as("id"),
          col("p_name").as("name"), col("p_brand").as("brand"),
          col("p_type").as("type"),
          col("p_size").cast("bigint").as("size"))
        val dirty = clean.select(col("id"),
          when(col("id") % 7 === 0,
            regexp_replace(col("name"), " [a-z]+$", "")).otherwise(col("name")).as("name"),
          col("brand"),
          when(col("id") % 13 === 0, lit("MISSING")).otherwise(col("type")).as("type"),
          when(col("id") % 11 === 0, col("size") + 1).otherwise(col("size")).as("size"))
        // Four passes — (brand,type) 150 keys, (brand,size) 1250,
        // (brand,name) 1600, plus the r14 CORRUPTION-TOLERANT derived
        // key (brand, name_head = first name token): two records share
        // it whether or not the last-token corruption fired, so the
        // name-corrupted cohort no longer depends on the two coarse
        // passes surviving. Block-purge cap 256 prices each pass out
        // exactly when its blocks saturate: at sf1 (brand,type)/
        // (brand,size)/(brand,name_head) are purged (blocks ~1650 /
        // ~280 / ~1000) and (brand,name) (~125) carries recall; the
        // r14 sf3 study (BENCH_NOTES) shows the raw GenScale fixture
        // is DENSITY-degenerate above sf1 for entity fields (part
        // fields are verbatim-repeated, so every entity gains 30
        // field-identical twins and NO key over the fields can stay
        // under any cap — min possible block 2160 at sf3), while on a
        // faithful corpus whose name entropy grows with the data the
        // same registration holds ~98% recall at sf3, the derived-key
        // pass carrying the name-corrupted cohort. Production guidance
        // stands: compose keys whose cardinality grows with the corpus.
        Entity.fellegiSunter(
            clean.withColumn("name_head",
              regexp_extract(col("name"), "^(\\S+)", 1)),
            dirty.withColumn("name_head",
              regexp_extract(col("name"), "^(\\S+)", 1)),
            "id",
            Seq("name", "brand", "type", "size"),
            Seq(Seq("brand", "type"), Seq("brand", "size"),
              Seq("brand", "name"), Seq("brand", "name_head")), 256)
          .groupBy("score")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("id_a") === col("id_b"), 1L).otherwise(0L)).as("n_true"))
          .orderBy("score")
      },
      """WITH clean AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name,
        |         p_brand AS brand, p_type AS type, CAST(p_size AS BIGINT) AS size
        |  FROM part),
        |dirty AS (
        |  SELECT id,
        |    CASE WHEN id % 7 = 0
        |         THEN regexp_replace(name, ' [a-z]+$', '') ELSE name END AS name,
        |    brand,
        |    CASE WHEN id % 13 = 0 THEN 'MISSING' ELSE type END AS type,
        |    CASE WHEN id % 11 = 0 THEN size + 1 ELSE size END AS size
        |  FROM clean),
        |cleanh AS (SELECT *, regexp_extract(name, '^(\S+)', 1) AS name_head FROM clean),
        |dirtyh AS (SELECT *, regexp_extract(name, '^(\S+)', 1) AS name_head FROM dirty),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM clean),
        |w AS (
        |  SELECT
        |    (length(bin(1000000 // greatest((SELECT sum(c*c) FROM (SELECT count(*) AS c FROM clean GROUP BY name)) * 1000000 // ((SELECT n FROM n) * (SELECT n FROM n)), 1))) - 1) AS wa_name,
        |    (length(bin(1000000 // greatest((SELECT sum(c*c) FROM (SELECT count(*) AS c FROM clean GROUP BY brand)) * 1000000 // ((SELECT n FROM n) * (SELECT n FROM n)), 1))) - 1) AS wa_brand,
        |    (length(bin(1000000 // greatest((SELECT sum(c*c) FROM (SELECT count(*) AS c FROM clean GROUP BY type)) * 1000000 // ((SELECT n FROM n) * (SELECT n FROM n)), 1))) - 1) AS wa_type,
        |    (length(bin(1000000 // greatest((SELECT sum(c*c) FROM (SELECT count(*) AS c FROM clean GROUP BY size)) * 1000000 // ((SELECT n FROM n) * (SELECT n FROM n)), 1))) - 1) AS wa_size),
        |okbt AS (SELECT brand, type FROM clean GROUP BY 1, 2
        |         HAVING count(*) <= 256
        |         INTERSECT
        |         SELECT brand, type FROM dirty GROUP BY 1, 2
        |         HAVING count(*) <= 256),
        |okbs AS (SELECT brand, size FROM clean GROUP BY 1, 2
        |         HAVING count(*) <= 256
        |         INTERSECT
        |         SELECT brand, size FROM dirty GROUP BY 1, 2
        |         HAVING count(*) <= 256),
        |okbn AS (SELECT brand, name FROM clean GROUP BY 1, 2
        |         HAVING count(*) <= 256
        |         INTERSECT
        |         SELECT brand, name FROM dirty GROUP BY 1, 2
        |         HAVING count(*) <= 256),
        |okbh AS (SELECT brand, name_head FROM cleanh GROUP BY 1, 2
        |         HAVING count(*) <= 256
        |         INTERSECT
        |         SELECT brand, name_head FROM dirtyh GROUP BY 1, 2
        |         HAVING count(*) <= 256),
        |cand AS (
        |  SELECT DISTINCT id_a, id_b, ag_name, ag_brand, ag_type, ag_size
        |  FROM (
        |    SELECT a.id AS id_a, b.id AS id_b,
        |      a.name = b.name AS ag_name, a.brand = b.brand AS ag_brand,
        |      a.type = b.type AS ag_type,
        |      a.size = b.size AS ag_size
        |    FROM clean a JOIN dirty b ON a.brand = b.brand AND a.type = b.type
        |    JOIN okbt k ON a.brand = k.brand AND a.type = k.type
        |    UNION ALL
        |    SELECT a.id, b.id, a.name = b.name, a.brand = b.brand,
        |      a.type = b.type, a.size = b.size
        |    FROM clean a JOIN dirty b ON a.brand = b.brand AND a.size = b.size
        |    JOIN okbs k ON a.brand = k.brand AND a.size = k.size
        |    UNION ALL
        |    SELECT a.id, b.id, a.name = b.name, a.brand = b.brand,
        |      a.type = b.type, a.size = b.size
        |    FROM clean a JOIN dirty b ON a.brand = b.brand AND a.name = b.name
        |    JOIN okbn k ON a.brand = k.brand AND a.name = k.name
        |    UNION ALL
        |    SELECT a.id, b.id, a.name = b.name, a.brand = b.brand,
        |      a.type = b.type, a.size = b.size
        |    FROM cleanh a JOIN dirtyh b
        |      ON a.brand = b.brand AND a.name_head = b.name_head
        |    JOIN okbh k ON a.brand = k.brand AND a.name_head = k.name_head)),
        |scored AS (
        |  SELECT id_a, id_b,
        |    CAST((CASE WHEN ag_name THEN 1 ELSE 0 END) + (CASE WHEN ag_brand THEN 1 ELSE 0 END)
        |      + (CASE WHEN ag_type THEN 1 ELSE 0 END)
        |      + (CASE WHEN ag_size THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |    CAST((CASE WHEN ag_name THEN w.wa_name ELSE -4 END)
        |      + (CASE WHEN ag_brand THEN w.wa_brand ELSE -4 END)
        |      + (CASE WHEN ag_type THEN w.wa_type ELSE -4 END)
        |      + (CASE WHEN ag_size THEN w.wa_size ELSE -4 END) AS BIGINT) AS score
        |  FROM cand, w)
        |SELECT score, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN id_a = id_b THEN 1 ELSE 0 END) AS BIGINT) AS n_true
        |FROM scored GROUP BY score ORDER BY score""".stripMargin),


    // community detection: deterministic label propagation (plurality
    // label, ties to the smallest) on the symmetrized customer-supplier
    // co-purchase graph — same per-round checkpoint shape as x169;
    // argmax is one min(struct(-count, label)) agg, no per-node window
    Q.df("x183_label_propagation",
      (s, dir) => Graph.labelPropagation(custSuppGraph(s, dir), 4),
      {
        val iters = 4
        val head =
          """WITH e0 AS MATERIALIZED (
            |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
            |                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
            |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            |), edges AS MATERIALIZED (
            |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
            |), l0 AS MATERIALIZED (
            |  SELECT DISTINCT src AS node, src AS lbl FROM edges)""".stripMargin
        val rounds = (0 until iters).map { i =>
          s""",
             |l${i + 1} AS MATERIALIZED (
             |  SELECT dst AS node, lbl FROM (
             |    SELECT e.dst, l.lbl,
             |      row_number() OVER (PARTITION BY e.dst
             |        ORDER BY count(*) DESC, l.lbl) AS rn
             |    FROM edges e JOIN l$i l ON e.src = l.node
             |    GROUP BY e.dst, l.lbl) t
             |  WHERE rn = 1)""".stripMargin
        }.mkString
        head + rounds +
          s"\nSELECT node, lbl AS label FROM l$iters ORDER BY node"
      }),


    // entity canonicalization: fuzzy-match pairs -> connected
    // components on the DISTINCT-NAME graph (vocabulary-sized, via
    // the same Dedup.clusters frontier loop) -> every RECORD mapped to
    // its cluster's canonical (min) name; the record table is touched
    // only by the final equi-join
    Q.df("x188_entity_canonicalize",
      (s, dir) => {
        val parts = Tables.load(s, dir, "part")
        val pairs = Entity.fuzzyNameMatch(parts, "p_name", maxDist = 2)
          .select(col("name_a").as("d1"), col("name_b").as("d2"))
        val names = parts.select(col("p_name").as("doc_id")).distinct()
        val canon = Dedup.clusters(names, pairs)
        parts.join(canon, parts("p_name") === canon("doc_id"))
          .select(col("p_partkey"), col("p_name"),
            col("cluster_id").as("canonical"))
          .orderBy("p_partkey")
      },
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS cnt
        |  FROM part GROUP BY 1),
        |blk AS (
        |  SELECT name, unnest(string_split(name, ' ')) AS blk FROM names),
        |keep AS (SELECT blk FROM blk GROUP BY 1 HAVING count(*) <= 1000),
        |pruned AS (SELECT b.* FROM blk b JOIN keep USING (blk)
        |           WHERE b.blk <> ''),
        |pairs AS (
        |  SELECT DISTINCT a.name AS d1, b.name AS d2
        |  FROM pruned a JOIN pruned b ON a.blk = b.blk AND a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT name, name FROM names
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |canon AS (SELECT a AS name, min(b) AS canonical
        |          FROM reach GROUP BY a)
        |SELECT p.p_partkey, p.p_name, c.canonical
        |FROM part p JOIN canon c ON p.p_name = c.name
        |ORDER BY p_partkey""".stripMargin),


    // per-node triangle counts on the co-purchase graph (parts linked
    // when >= 2 shared orders): degree-oriented wedge join — wedges
    // only at the lowest-degree apex, closure via canonical-pair
    // equi-join; each triangle counted once, credited to all corners
    Q.df("x191_triangle_count",
      (s, dir) => {
        val it = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
          .distinct()
        val edges = it.as("a")
          .join(it.as("c"), col("a.b") === col("c.b")
            && col("a.i") < col("c.i"))
          .groupBy(col("a.i").as("src"), col("c.i").as("dst"))
          .agg(count(lit(1)).as("w")).where(col("w") >= 2)
          .select("src", "dst")
        Graph.triangleCount(edges)
      },
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (
        |  SELECT a.i AS lo, c.i AS hi
        |  FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT lo AS node FROM e UNION ALL SELECT hi FROM e) u
        |  GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN (dl.deg, e.lo) < (dh.deg, e.hi)
        |           THEN e.lo ELSE e.hi END AS src,
        |         CASE WHEN (dl.deg, e.lo) < (dh.deg, e.hi)
        |           THEN e.hi ELSE e.lo END AS dst
        |  FROM e JOIN deg dl ON e.lo = dl.node
        |         JOIN deg dh ON e.hi = dh.node),
        |tri AS (
        |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
        |  FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
        |  JOIN e ON least(w1.dst, w2.dst) = e.lo
        |        AND greatest(w1.dst, w2.dst) = e.hi)
        |SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri) n
        |GROUP BY 1 ORDER BY node""".stripMargin),


    // golden-record survivorship: resolved part entities folded to one
    // master row each — plurality brand (ties to smallest), max price
    // and partkey; clustering stays on the distinct-name graph, the
    // record table sees one join + keyed aggregates
    Q.df("x196_golden_record",
      (s, dir) => Entity.goldenRecords(
        Tables.load(s, dir, "part"), "p_name", maxDist = 2,
        modeCol = "p_brand", maxCols = Seq("p_retailprice", "p_partkey")),
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS name FROM part GROUP BY 1),
        |blk AS (
        |  SELECT name, unnest(string_split(name, ' ')) AS blk FROM names),
        |keep AS (SELECT blk FROM blk GROUP BY 1 HAVING count(*) <= 1000),
        |pruned AS (SELECT b.* FROM blk b JOIN keep USING (blk)
        |           WHERE b.blk <> ''),
        |pairs AS (
        |  SELECT DISTINCT a.name AS d1, b.name AS d2
        |  FROM pruned a JOIN pruned b ON a.blk = b.blk AND a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT name, name FROM names
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |canon AS (SELECT a AS name, min(b) AS canonical
        |          FROM reach GROUP BY a),
        |rec AS (SELECT p.*, c.canonical
        |        FROM part p JOIN canon c ON p.p_name = c.name),
        |md AS (
        |  SELECT canonical, p_brand FROM (
        |    SELECT canonical, p_brand,
        |      row_number() OVER (PARTITION BY canonical
        |        ORDER BY count(*) DESC, p_brand) AS rn
        |    FROM rec GROUP BY canonical, p_brand) t
        |  WHERE rn = 1),
        |base AS (
        |  SELECT canonical, CAST(count(*) AS BIGINT) AS n_records,
        |    CAST(count(DISTINCT p_name) AS BIGINT) AS n_names,
        |    max(p_retailprice) AS max_p_retailprice,
        |    CAST(max(p_partkey) AS BIGINT) AS max_p_partkey
        |  FROM rec GROUP BY 1)
        |SELECT b.canonical, b.n_records, b.n_names, m.p_brand,
        |  b.max_p_retailprice, b.max_p_partkey
        |FROM base b JOIN md m USING (canonical)
        |ORDER BY canonical""".stripMargin),


    // personalized PageRank (TrustRank shape): teleport mass only on
    // the seed set (customers with custkey % 20 = 0), scores become
    // seed-proximity trust priors; same integer-exact generative
    // oracle as x169 with the base term per-node
    Q.df("x259_personalized_pagerank",
      (s, dir) => {
        val seeds = Tables.load(s, dir, "orders")
          .where(col("o_custkey") % 20 === 0)
          .select(concat(lit("c"), col("o_custkey")).as("node")).distinct()
        Graph.personalizedPageRank(custSuppGraph(s, dir), seeds, 4)
      },
      {
        val iters = 4
        val head =
          """WITH e0 AS MATERIALIZED (
            |  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
            |                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
            |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            |), edges AS MATERIALIZED (
            |  SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
            |), deg AS MATERIALIZED (
            |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            |  FROM edges GROUP BY 1
            |), sd AS MATERIALIZED (
            |  SELECT node, deg,
            |    CASE WHEN node LIKE 'c%'
            |      AND CAST(substr(node, 2) AS BIGINT) % 20 = 0
            |      THEN 1 ELSE 0 END AS sd
            |  FROM deg
            |), ns AS MATERIALIZED (
            |  SELECT CAST(sum(sd) AS BIGINT) AS n FROM sd),
            |s0 AS MATERIALIZED (
            |  SELECT node,
            |    CAST(sd * (1000000000000 // (SELECT n FROM ns)) AS BIGINT)
            |      AS score
            |  FROM sd)""".stripMargin
        val rounds = (0 until iters).map { i =>
          s""",
             |s${i + 1} AS MATERIALIZED (
             |  SELECT d.node,
             |    CAST(d.sd * (((1000000000000 // (SELECT n FROM ns)) * 15)
             |        // 100)
             |      + 85 * coalesce(c.c, 0) // 100 AS BIGINT) AS score
             |  FROM sd d LEFT JOIN (
             |    SELECT e.dst AS node, CAST(sum(s.score // g.deg) AS BIGINT)
             |      AS c
             |    FROM edges e JOIN s$i s ON e.src = s.node
             |    JOIN deg g ON g.node = e.src
             |    GROUP BY 1) c ON c.node = d.node)""".stripMargin
        }.mkString
        s"$head$rounds\nSELECT node, score FROM s$iters ORDER BY node"
      }),


    // warm-start connected components: min-label propagation seeded
    // from yesterday's labels (docs with doc_id % 5 != 4) — under
    // edge/doc ADDITION the per-component min over prior labels is
    // still the min member id, so the answer equals cold-start
    // bit-for-bit (same recursive-CTE oracle shape as x66); rounds now
    // track graph CHANGE, not diameter (spec pins warm < cold on a
    // chain). Pairs come from the UNCAPPED thresholded generator: a
    // df-capped candidate set is not addition-monotone (growth deletes
    // edges via the global df statistic) — the sf0.1 spot-check caught
    // exactly that; see the clustersWarmStart scaladoc
    Q.df("x263_cc_warm_start",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val old = docs.where(col("doc_id") % 5 =!= 4)
        val prior = Dedup.clusters(old, Dedup.jaccardPairs(old, 0.2))
        Dedup.clustersWarmStart(docs,
          Dedup.jaccardPairs(docs, 0.2), prior)
      },
      s"""WITH RECURSIVE $duckTok, $duckShingles, $duckJaccardTail,
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


    // per-entity provenance fingerprints: each key's event-id history
    // in (ts, id) order folds to one md5 — the 16-byte settle-the-
    // dispute ledger; any gap, reorder, or injection flips it
    Q.df("x302_provenance_chains",
      (s, dir) => Expectations.provenanceChains(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_id"),
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  md5(string_agg(CAST(event_id AS VARCHAR), ','
        |    ORDER BY epoch_us(ts), event_id)) AS chain_hash
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),


    // k-core peeling trajectory (k=18, 5 rounds) on the symmetrized
    // customer-supplier graph (x169's edge set); round 1 peels the
    // low-degree customers, the flat tail proves the 18-core is
    // reached in-band. Oracle = the rounds unrolled.
    Q.df("x328_kcore_trajectory",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val cs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
        // one orientation only — the operator symmetrizes internally
        Graph.kCoreTrajectory(cs, 18, 5)
      },
      kcoreOracleSql(18, 5)),


    // degree assortativity of the co-purchase graph (x191's edge
    // construction): sqrt-free Pearson r via orientation symmetry
    Q.df("x350_degree_assortativity",
      (s, dir) => {
        val it = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
          .distinct()
        val edges = it.as("a")
          .join(it.as("c"), col("a.b") === col("c.b")
            && col("a.i") < col("c.i"))
          .groupBy(col("a.i").as("src"), col("c.i").as("dst"))
          .agg(count(lit(1)).as("w")).where(col("w") >= 2)
          .select("src", "dst")
        Graph.degreeAssortativity(edges)
      },
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (
        |  SELECT a.i AS lo, c.i AS hi
        |  FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |arcs AS (SELECT DISTINCT src, dst FROM (
        |  SELECT lo AS src, hi AS dst FROM e
        |  UNION ALL SELECT hi, lo FROM e) u),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM arcs GROUP BY 1),
        |j AS (SELECT arcs.src, dx.deg AS dx, dy.deg AS dy
        |  FROM arcs JOIN deg dx ON arcs.src = dx.node
        |  JOIN deg dy ON arcs.dst = dy.node),
        |mo AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
        |    CAST(count(*) AS BIGINT) AS n_arcs,
        |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |    CAST(sum(dx * dy) AS BIGINT) AS sxy
        |  FROM j)
        |SELECT n_nodes, n_arcs,
        |  CAST((CAST(n_arcs AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
        |    * 1000000 // nullif(CAST(n_arcs AS HUGEINT) * sxx
        |    - CAST(sx AS HUGEINT) * sx, 0) AS BIGINT) AS r_ppm
        |FROM mo""".stripMargin),


    // local clustering coefficient per node on the co-purchase graph
    // (x191's edges): community cores vs pure hubs
    Q.df("x363_local_clustering",
      (s, dir) => {
        val it = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
          .distinct()
        val edges = it.as("a")
          .join(it.as("c"), col("a.b") === col("c.b")
            && col("a.i") < col("c.i"))
          .groupBy(col("a.i").as("src"), col("c.i").as("dst"))
          .agg(count(lit(1)).as("w")).where(col("w") >= 2)
          .select("src", "dst")
        Graph.localClustering(edges)
      },
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (
        |  SELECT a.i AS lo, c.i AS hi
        |  FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT lo AS node FROM e UNION ALL SELECT hi FROM e) u
        |  GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN (dl.deg, e.lo) < (dh.deg, e.hi)
        |           THEN e.lo ELSE e.hi END AS src,
        |         CASE WHEN (dl.deg, e.lo) < (dh.deg, e.hi)
        |           THEN e.hi ELSE e.lo END AS dst
        |  FROM e JOIN deg dl ON e.lo = dl.node
        |         JOIN deg dh ON e.hi = dh.node),
        |tri AS (
        |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
        |  FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
        |  JOIN e ON least(w1.dst, w2.dst) = e.lo
        |        AND greatest(w1.dst, w2.dst) = e.hi),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
        |  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |        UNION ALL SELECT c FROM tri) n
        |  GROUP BY 1)
        |SELECT deg.node, deg.deg, coalesce(tc.triangles, 0) AS triangles,
        |  2 * coalesce(tc.triangles, 0) * 1000000
        |    // (deg.deg * (deg.deg - 1)) AS lcc_ppm
        |FROM deg LEFT JOIN tc USING (node)
        |WHERE deg.deg >= 2 ORDER BY node""".stripMargin),


    // rich-club trajectory of the co-purchase graph: does the hub
    // set densify as the degree cutoff rises
    Q.df("x373_rich_club",
      (s, dir) => {
        val it = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
          .distinct()
        val edges = it.as("a")
          .join(it.as("c"), col("a.b") === col("c.b")
            && col("a.i") < col("c.i"))
          .groupBy(col("a.i").as("src"), col("c.i").as("dst"))
          .agg(count(lit(1)).as("w")).where(col("w") >= 2)
          .select("src", "dst")
        Graph.richClub(edges)
      },
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |e AS (
        |  SELECT a.i AS lo, c.i AS hi
        |  FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |arcs AS (SELECT DISTINCT src, dst FROM (
        |  SELECT lo AS src, hi AS dst FROM e
        |  UNION ALL SELECT hi, lo FROM e) u),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM arcs GROUP BY 1),
        |jn AS (SELECT arcs.src, arcs.dst, dx.deg AS dx, dy.deg AS dy
        |  FROM arcs JOIN deg dx ON arcs.src = dx.node
        |  JOIN deg dy ON arcs.dst = dy.node),
        |lv AS (SELECT CAST((1 << jj) AS BIGINT) AS k
        |  FROM (SELECT unnest(range(0, 16)) AS jj) q),
        |ag AS (SELECT k, CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
        |    CAST(count(*) AS BIGINT) AS n_arcs
        |  FROM lv JOIN jn ON jn.dx > lv.k AND jn.dy > lv.k
        |  GROUP BY 1)
        |SELECT k, n_nodes, n_arcs,
        |  n_arcs * 1000000 // (n_nodes * (n_nodes - 1)) AS phi_ppm
        |FROM ag WHERE n_nodes >= 2 ORDER BY k""".stripMargin),


    // association-strength edges: squared-cosine normalization of
    // co-purchase counts — pairs above their popularity prediction
    Q.df("x385_edge_strength",
      (s, dir) => Graph.edgeStrength(
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))),
      """WITH it AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |cnt AS (SELECT i AS node, CAST(count(*) AS BIGINT) AS n_node
        |  FROM it GROUP BY 1),
        |e AS (SELECT a.i AS src, c.i AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT e.src, e.dst, e.w, s.n_node AS n_src, d.n_node AS n_dst,
        |  e.w * e.w * 1000000 // (s.n_node * d.n_node)
        |    AS strength2_ppm
        |FROM e JOIN cnt s ON e.src = s.node
        |JOIN cnt d ON e.dst = d.node
        |ORDER BY strength2_ppm DESC, w DESC, src, dst
        |LIMIT 20""".stripMargin),


    // bounded-probe harmonic centrality (3 hops) on the customer-
    // supplier graph: exact per-distance counts + integer-milli
    // harmonic score for every 200th customer — oracle = the three
    // frontier hops unrolled as materialized anti-joined CTEs. Node
    // ids are BIGINT (cust*2 / supp*2+1): the hop joins and distincts
    // stream |probes|×paths rows, and an 8-byte key halves that
    // shuffle vs 'c123'-style strings — the probe density is the
    // other cost knob (the x382 sampling discipline)
    Q.df("x396_harmonic_centrality",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"))
        val ord = Tables.load(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val cs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        val probes = Tables.load(s, dir, "customer")
          .where(col("c_custkey") % 200 === 0)
          .select((col("c_custkey") * 2).as("node"))
        Graph.harmonicCentralityBounded(cs, probes)
      },
      """WITH arcs0 AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey * 2 AS src,
        |    l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |arcs AS MATERIALIZED (
        |  SELECT src, dst FROM arcs0
        |  UNION SELECT dst, src FROM arcs0),
        |p AS MATERIALIZED (
        |  SELECT c_custkey * 2 AS probe FROM customer
        |  WHERE c_custkey % 200 = 0),
        |h1 AS MATERIALIZED (
        |  SELECT DISTINCT p.probe, a.dst AS node
        |  FROM p JOIN arcs a ON a.src = p.probe
        |  WHERE a.dst <> p.probe),
        |h2 AS MATERIALIZED (
        |  SELECT DISTINCT h1.probe, a.dst AS node
        |  FROM h1 JOIN arcs a ON a.src = h1.node
        |  WHERE a.dst <> h1.probe
        |    AND NOT EXISTS (SELECT 1 FROM h1 v
        |      WHERE v.probe = h1.probe AND v.node = a.dst)),
        |h3 AS MATERIALIZED (
        |  SELECT DISTINCT h2.probe, a.dst AS node
        |  FROM h2 JOIN arcs a ON a.src = h2.node
        |  WHERE a.dst <> h2.probe
        |    AND NOT EXISTS (SELECT 1 FROM h1 v
        |      WHERE v.probe = h2.probe AND v.node = a.dst)
        |    AND NOT EXISTS (SELECT 1 FROM h2 v
        |      WHERE v.probe = h2.probe AND v.node = a.dst)),
        |c1 AS (SELECT probe, CAST(count(*) AS BIGINT) AS n1
        |       FROM h1 GROUP BY 1),
        |c2 AS (SELECT probe, CAST(count(*) AS BIGINT) AS n2
        |       FROM h2 GROUP BY 1),
        |c3 AS (SELECT probe, CAST(count(*) AS BIGINT) AS n3
        |       FROM h3 GROUP BY 1)
        |SELECT p.probe AS node, c1.n1,
        |  coalesce(c2.n2, 0) AS n2, coalesce(c3.n3, 0) AS n3,
        |  c1.n1 * 1000 + coalesce(c2.n2, 0) * 500
        |    + coalesce(c3.n3, 0) * 333 AS harmonic_milli
        |FROM p JOIN c1 ON c1.probe = p.probe
        |LEFT JOIN c2 ON c2.probe = p.probe
        |LEFT JOIN c3 ON c3.probe = p.probe
        |ORDER BY node""".stripMargin),

  )
}
