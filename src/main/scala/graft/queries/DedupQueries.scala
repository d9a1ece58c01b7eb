package graft.queries

import graft.Tables
import graft.dedup.{Cluster, EdJoin, MinHash, NgramJaccard, SimHash}
import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table (SURVEY §2 rows
  * 38-42): exact content-hash dedup, MinHash signatures + LSH near-dup
  * pairs, SimHash fingerprints + banded hamming pairs, n-gram Jaccard.
  * All hashes are md5-derived so the identical computation runs in
  * DuckDB for the oracle.
  */
object DedupQueries extends QuerySet {

  /** MinHash pairs → connected components (id, cluster = min doc id of
    * the group), the input of every component query. Each query builds
    * its own: connectedComponents is EAGER and returns a driver- or
    * checkpoint-materialized frame.
    */
  private def components(s: SparkSession, d: String): DataFrame =
    Cluster.connectedComponents(
      MinHash.nearDupPairs(Tables.df(s, d, "documents"), "doc_id", "text"),
      "id_a", "id_b")

  def all: Seq[Q] = Seq(
    // Exact dedup: group by order-insensitive token-set fingerprint,
    // keep groups with >1 doc. One scan + one shuffle on the hash.
    Q("q_dedup_exact",
      (s, d) => Tables.df(s, d, "documents")
        .groupBy(TextFunctions.tokenSetFingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("fp"),
      Some(s"""SELECT fp, count(*) AS n_docs, min(doc_id) AS first_doc
              |FROM (SELECT doc_id, ${TextFunctions.tokenSetFingerprintDuck("text")} AS fp
              |      FROM documents) t
              |GROUP BY fp HAVING count(*) > 1
              |ORDER BY fp""".stripMargin)),

    Q("q_minhash_sig",
      (s, d) => MinHash.signatures(Tables.df(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(MinHash.signaturesDuckSql("documents", "doc_id", "text") + "\nORDER BY doc_id")),

    // pair finders return UNSORTED pairs (library callers like
    // Collection.dedupe compose sort-free); the registry wrappers add
    // the deterministic order the oracle diff wants
    Q("q_dedup_minhash",
      (s, d) => MinHash.nearDupPairs(Tables.df(s, d, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Some(MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"))),

    Q("q_dedup_simhash",
      (s, d) => SimHash.fingerprints(Tables.df(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(SimHash.fingerprintsDuckSql("documents", "doc_id", "text"))),

    Q("q_simhash_pairs",
      (s, d) => SimHash.nearDupPairs(Tables.df(s, d, "documents"), "doc_id", "text", maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(SimHash.nearDupPairsDuckSql("documents", "doc_id", "text", maxDist = 3))),

    // Duplicate clusters from the MinHash pairs: connected components
    // by min-label propagation; cluster id = min doc id of the group.
    Q("q_dedup_cluster",
      (s, d) => components(s, d).orderBy("id"),
      Some(Cluster.connectedComponentsDuckSql(
        MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
        "id_a", "id_b") + "\nORDER BY id")),

    // Duplicate-cluster SIZE DISTRIBUTION — the dedup health report
    // run before pruning: a fat tail of huge clusters means template
    // spam / boilerplate floods (and predicts the skew caps firing),
    // near-all-2 clusters mean genuine near-dups. Two bounded-key
    // aggregations over the component labels; output is
    // distinct-cluster-sizes rows.
    Q("q_dup_histogram",
      (s, d) => components(s, d)
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size"),
      Some(s"""WITH cc AS (${Cluster.connectedComponentsDuckSql(
                 MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
                 "id_a", "id_b")}),
              |sizes AS (SELECT cluster, count(*) AS sz FROM cc GROUP BY cluster)
              |SELECT sz AS cluster_size, count(*) AS n_clusters
              |FROM sizes GROUP BY sz
              |ORDER BY cluster_size""".stripMargin)),

    // One-row dedup health summary — the number a corpus report leads
    // with: docs, docs in a near-dup cluster, cluster count, and the
    // fraction the prune would drop. Derived entirely from the
    // component table (bounded: only docs WITH a duplicate appear) +
    // one corpus count.
    Q("q_dedup_rate",
      (s, d) => {
        val cc = components(s, d)
        val nDocs = Tables.df(s, d, "documents")
          .agg(count(lit(1)).as("n_docs"))
        val stats = cc.agg(
          count(lit(1)).as("n_dup_docs"),
          countDistinct(col("cluster")).as("n_clusters"))
        nDocs.crossJoin(stats)
          .select(col("n_docs"), col("n_dup_docs"), col("n_clusters"),
            graft.ops.PortableRound.intRound4(
              col("n_dup_docs") - col("n_clusters"), col("n_docs")).as("drop_frac"))
      },
      Some(s"""WITH cc AS (${Cluster.connectedComponentsDuckSql(
                 MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
                 "id_a", "id_b")}),
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              |s AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_dup_docs,
              |    CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters
              |  FROM cc)
              |SELECT n_docs, n_dup_docs, n_clusters,
              |  ${graft.ops.PortableRound.intRound4Duck("n_dup_docs - n_clusters", "n_docs")} AS drop_frac
              |FROM n, s""".stripMargin)),

    // Shingle document-frequency histogram in powers of two — the
    // CAP-TUNING evidence for every inverted-index pair finder: the
    // bucket a df cap cuts at, and how much posting mass (the
    // quadratic-pair fuel, Σdf per bucket) each power-of-two band
    // carries. Bucket = length(bin(df)) — an exact INTEGER log2 in
    // both engines (float log2 of an exact power sits on a rounding
    // boundary). Vocab-sized aggregate → ~32 output rows.
    Q("q_shingle_df_hist",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        Tables.df(s, d, "documents")
          .select(col("doc_id"), explode(array_distinct(
            call_function("graft_hashed_shingles", col("text"), lit(3)))).as("sh"))
          .groupBy("sh").agg(count(lit(1)).as("df"))
          .groupBy(length(bin(col("df"))).as("log2_bucket"))
          .agg(count(lit(1)).as("n_shingles"), sum("df").as("postings"))
          .orderBy("log2_bucket")
      },
      Some(s"""WITH th AS (
              |  SELECT doc_id, ${TextFunctions.tokenHashesDuckSql("text")} AS th
              |  FROM documents),
              |sh AS (
              |  SELECT doc_id, unnest(${TextFunctions.hashedShinglesFromDuckSql("th", 3)}) AS sh
              |  FROM th),
              |dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY sh)
              |SELECT CAST(length(bin(df)) AS INT) AS log2_bucket,
              |  CAST(count(*) AS BIGINT) AS n_shingles,
              |  CAST(sum(df) AS BIGINT) AS postings
              |FROM dfreq GROUP BY 1 ORDER BY log2_bucket""".stripMargin)),

    // LSH candidate-generation recall vs the exact pair set — the
    // operational tuning number for (k, bands): q_minhash_calib grades
    // the ESTIMATOR per candidate; this grades the BANDING (what the
    // buckets failed to surface at all), with the exact PPJoin pair
    // set (same shingles, same τ) as ground truth. LSH pairs are
    // already exact-verified, so false positives are structural
    // (multiset- vs set-Jaccard edges), reported as n_lsh_only. Both
    // finders are the audited cap-bounded plans; like q_ann_recall,
    // run on a sampled slice at 100 TB.
    Q("q_lsh_recall",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
        // ONE evaluation of each pair finder: both sets are unique on
        // (id_a, id_b), so a full-outer join tagged per side counts
        // n_exact / n_lsh / n_tp in a single aggregate — the previous
        // three 1-row aggregates each re-ran their finder subtree
        // (2x exact + 2x lsh; ~94 Exchanges in the before plan).
        val lsh = MinHash.nearDupPairs(docs, "doc_id", "text")
          .select(col("id_a"), col("id_b"), lit(1L).as("__l"))
        val exact = NgramJaccard.jaccardPairsExact(docs, "doc_id", "text")
          .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
        // coalesce(sum, 0): a finder that yields zero pairs (or disjoint
        // pair sets) must count 0 like the oracle's count(*) CTEs, not
        // NULL — identical on any non-degenerate corpus (round-13 ADVICE)
        exact.join(lsh, Seq("id_a", "id_b"), "full_outer")
          .agg(coalesce(sum(col("__e")), lit(0L)).as("n_exact"),
            coalesce(sum(col("__l")), lit(0L)).as("n_lsh"),
            coalesce(sum(col("__e") * col("__l")), lit(0L)).as("n_tp"))
          .select(col("n_exact"), col("n_lsh"), col("n_tp"),
            (col("n_lsh") - col("n_tp")).as("n_lsh_only"),
            graft.ops.PortableRound.intRound4(col("n_tp"), col("n_exact"))
              .as("recall"))
      },
      Some(s"""WITH l AS (
              |  SELECT id_a, id_b
              |  FROM (${MinHash.nearDupPairsDuckSql("documents", "doc_id", "text")})),
              |e AS (
              |  SELECT id_a, id_b
              |  FROM (${NgramJaccard.jaccardPairsExactDuckSql("documents", "doc_id", "text")})),
              |tp AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_tp
              |  FROM e JOIN l USING (id_a, id_b)),
              |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM e),
              |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM l)
              |SELECT n_exact, n_lsh, n_tp, n_lsh - n_tp AS n_lsh_only,
              |  ${graft.ops.PortableRound.intRound4Duck("n_tp", "n_exact")} AS recall
              |FROM ne, nl, tp""".stripMargin)),

    // Per-source dedup drop table — WHERE the duplicates live: the
    // per-source breakdown of q_dedup_rate (a source whose drop
    // fraction spikes is a mirrored dump or template farm; the mix
    // report re-weights BEFORE pruning). One keyed left join of the
    // bounded component table onto doc→source, one grouped count;
    // dropped = cluster members that are not the min-id representative.
    Q("q_dup_rate_source",
      (s, d) => {
        val docs = Tables.df(s, d, "documents").select(col("doc_id"), col("source"))
        docs.join(components(s, d).withColumnRenamed("id", "doc_id"),
            Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(col("cluster")).as("n_dup_docs"),
            count(when(col("cluster").isNotNull &&
              col("doc_id") =!= col("cluster"), lit(1))).as("n_dropped"))
          .withColumn("drop_frac", graft.ops.PortableRound.intRound4(
            col("n_dropped"), col("n_docs")))
          .orderBy("source")
      },
      Some(s"""WITH cc AS (${Cluster.connectedComponentsDuckSql(
                 MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
                 "id_a", "id_b")})
              |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(count(cc.cluster) AS BIGINT) AS n_dup_docs,
              |  CAST(count(CASE WHEN cc.cluster IS NOT NULL
              |    AND d.doc_id <> cc.cluster THEN 1 END) AS BIGINT) AS n_dropped,
              |  ${graft.ops.PortableRound.intRound4Duck(
                   "count(CASE WHEN cc.cluster IS NOT NULL AND d.doc_id <> cc.cluster THEN 1 END)",
                   "count(*)")} AS drop_frac
              |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
              |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // Degree profile of the near-dup graph — the HUB health check run
    // next to the cluster-size histogram (a max degree pinned at the
    // LSH bucket cap means the cap is doing the bounding; a natural
    // fat tail means template hubs — what q_pagerank then ranks).
    // Bounded: both aggregations run over the cap-bounded pair list.
    Q("q_dup_degree",
      (s, d) => {
        // pinned: both unionAll sides read the pair finder — without
        // the pin the whole LSH pipeline evaluates twice
        val pairs = graft.api.CacheScope.global.persist(
          MinHash.nearDupPairs(Tables.df(s, d, "documents"),
            "doc_id", "text"))
        pairs.select(col("id_a").as("id"))
          .unionAll(pairs.select(col("id_b").as("id")))
          .groupBy("id").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_docs"))
          .orderBy("degree")
      },
      Some(s"""WITH p AS (${MinHash.nearDupPairsDuckSql("documents", "doc_id", "text")}),
              |u AS (SELECT id_a AS id FROM p UNION ALL SELECT id_b AS id FROM p),
              |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM u GROUP BY id)
              |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
              |FROM dg GROUP BY degree ORDER BY degree""".stripMargin)),

    // Dedup-bias audit: near-dup drop rate per document-length bucket —
    // the fairness check run before shipping a dedup config (LSH over
    // shingles is length-sensitive: short docs need fewer shared
    // shingles to collide, so an unaudited pipeline can silently strip
    // short-form sources). Builds on the component frame; dropped
    // = non-representative member (id ≠ cluster); one broadcast-sized
    // keyed join onto the bucketed doc table, output bounded by the
    // length-bucket domain.
    Q("q_dup_by_length",
      (s, d) => {
        val cc = components(s, d)
        Tables.df(s, d, "documents")
          .select(col("doc_id"), expr("n_chars div 100").as("len_bucket"))
          .join(cc.select(col("id").as("doc_id"),
            (col("id") =!= col("cluster")).as("__dropped")), Seq("doc_id"), "left")
          .groupBy("len_bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("__dropped"), 1L).otherwise(0L)).as("n_dropped"))
          .select(col("len_bucket"), col("n_docs"), col("n_dropped"),
            graft.ops.PortableRound.intRound4(
              col("n_dropped"), col("n_docs")).as("drop_frac"))
          .orderBy("len_bucket")
      },
      Some(s"""WITH cc AS (${Cluster.connectedComponentsDuckSql(
                 MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
                 "id_a", "id_b")}),
              |b AS (
              |  SELECT d.doc_id, d.n_chars // 100 AS len_bucket,
              |    CASE WHEN cc.id IS NOT NULL AND cc.id <> cc.cluster
              |      THEN 1 ELSE 0 END AS dropped
              |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id)
              |SELECT len_bucket, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(dropped) AS BIGINT) AS n_dropped,
              |  ${graft.ops.PortableRound.intRound4Duck(
                   "sum(dropped)", "count(*)")} AS drop_frac
              |FROM b GROUP BY len_bucket ORDER BY len_bucket""".stripMargin)),

    // Triangle census + global clustering coefficient of the near-dup
    // graph — the transitivity check beside q_dup_degree's hub profile:
    // near-duplication is ~transitive, so a LOW cc (many open wedges)
    // means the LSH threshold is splitting template families into
    // chains, while cc≈1 confirms clique-like clusters. Edges are the
    // cap-bounded ordered pair list (persisted — five plan references);
    // every triangle a<b<c is counted exactly once as the ordered path
    // a→b→c closed by (a,c); wedges = Σ C(deg,2) in exact integers;
    // cc = 3·T/W as one PortableRound division. The edge-edge join is
    // bounded by Σ deg² which the LSH bucket cap bounds.
    Q("q_dup_triangles",
      (s, d) => graft.dedup.GraphStats.triangleCensus(
        graft.api.CacheScope.global.persist(
          MinHash.nearDupPairs(Tables.df(s, d, "documents"), "doc_id", "text")
            .select("id_a", "id_b"))),
      Some(s"""WITH p AS MATERIALIZED (
              |  ${MinHash.nearDupPairsDuckSql("documents", "doc_id", "text")}),
              |e AS (SELECT id_a AS a, id_b AS b FROM p),
              |nodes AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_nodes
              |  FROM (SELECT a AS id FROM e UNION SELECT b FROM e)),
              |edges AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
              |dg AS (
              |  SELECT id, CAST(count(*) AS BIGINT) AS dg
              |  FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
              |  GROUP BY id),
              |w AS (SELECT CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges FROM dg),
              |t AS (
              |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
              |  FROM e e1
              |  JOIN e e2 ON e1.b = e2.a
              |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
              |SELECT n_nodes, n_edges, n_wedges, n_triangles,
              |  ${graft.ops.PortableRound.intRound4Duck(
                   "3 * n_triangles", "n_wedges")} AS global_cc
              |FROM nodes CROSS JOIN edges CROSS JOIN w CROSS JOIN t""".stripMargin)),

    // Token-mass inflation from near-duplicates — the COMPUTE-WASTE
    // number next to q_dedup_rate's doc-count view: the fraction of
    // training tokens spent on non-representative duplicate docs
    // (epochs over a template family). Builds on the component
    // frame; representative = the component-min id, so dup docs are
    // the id ≠ cluster rows; one keyed join onto per-doc token counts
    // and two 1-row aggregates (1-row crossJoin, the allowlisted
    // totals shape).
    Q("q_dup_inflation",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
          .select(col("doc_id"),
            size(TextFunctions.tokens(col("text"))).cast("long").as("nt"))
        val dup = components(s, d).filter(col("id") =!= col("cluster"))
          .join(docs.withColumnRenamed("doc_id", "id"), "id")
          .agg(coalesce(sum("nt"), lit(0L)).as("dup_tokens"),
            count(lit(1)).as("n_dup_docs"))
        val tot = docs.agg(sum("nt").as("total_tokens"), count(lit(1)).as("n_docs"))
        tot.crossJoin(dup)
          .select(col("n_docs"), col("n_dup_docs"), col("total_tokens"),
            col("dup_tokens"),
            graft.ops.PortableRound.intRound4(col("dup_tokens"), col("total_tokens"))
              .as("token_drop_frac"))
      },
      Some(s"""WITH cc AS (${Cluster.connectedComponentsDuckSql(
                 MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
                 "id_a", "id_b")}),
              |dt AS (
              |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
              |  FROM documents),
              |dup AS (
              |  SELECT CAST(coalesce(sum(nt), 0) AS BIGINT) AS dup_tokens,
              |    CAST(count(*) AS BIGINT) AS n_dup_docs
              |  FROM cc JOIN dt ON cc.id = dt.doc_id
              |  WHERE cc.id <> cc.cluster),
              |tot AS (
              |  SELECT CAST(sum(nt) AS BIGINT) AS total_tokens,
              |    CAST(count(*) AS BIGINT) AS n_docs
              |  FROM dt)
              |SELECT n_docs, n_dup_docs, total_tokens, dup_tokens,
              |  ${graft.ops.PortableRound.intRound4Duck("dup_tokens", "total_tokens")} AS token_drop_frac
              |FROM tot, dup""".stripMargin)),

    // Neighbor-label consistency over the near-dup graph — LABEL
    // NOISE detection (Northcutt-style, graph-shaped): a doc whose
    // near-duplicates carry a different language/source label than
    // its own is a mislabel candidate (or a mislabeled template
    // family). One round of majority vote along the LSH pair edges:
    // integer neighbor-label counts, rank window on the (dup-graph-
    // bounded) node key, deterministic (count desc, label asc) tie —
    // oracle-exact by construction. Only docs WITH a duplicate
    // appear, so output and window keys stay pair-graph-bounded.
    Q("q_label_consistency",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
        val pairs = MinHash.nearDupPairs(docs, "doc_id", "text")
          .select(col("id_a"), col("id_b"))
        val edges = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
          .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
        val lang = docs.select(col("doc_id"), col("lang"))
        val votes = edges
          .join(lang.select(col("doc_id").as("nb"), col("lang").as("nb_lang")), "nb")
          .groupBy("id", "nb_lang").agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("n").desc, col("nb_lang").asc)
        votes.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .join(lang.select(col("doc_id").as("id"), col("lang")), "id")
          .select(col("id"), col("lang"), col("nb_lang").as("majority_lang"),
            col("n").as("n_votes"),
            (col("lang") === col("nb_lang")).as("consistent"))
          .orderBy("id")
      },
      Some(s"""WITH pr AS MATERIALIZED (${MinHash.nearDupPairsDuckSql(
                 "documents", "doc_id", "text")}),
              |edges AS (
              |  SELECT id_a AS id, id_b AS nb FROM pr
              |  UNION ALL
              |  SELECT id_b AS id, id_a AS nb FROM pr),
              |votes AS (
              |  SELECT e.id, d.lang AS nb_lang, CAST(count(*) AS BIGINT) AS n
              |  FROM edges e JOIN documents d ON d.doc_id = e.nb
              |  GROUP BY e.id, d.lang),
              |top AS (
              |  SELECT id, nb_lang, n,
              |    row_number() OVER (PARTITION BY id
              |      ORDER BY n DESC, nb_lang ASC) AS rn
              |  FROM votes)
              |SELECT t.id, d.lang, t.nb_lang AS majority_lang,
              |  t.n AS n_votes, d.lang = t.nb_lang AS consistent
              |FROM top t JOIN documents d ON d.doc_id = t.id
              |WHERE t.rn = 1
              |ORDER BY t.id""".stripMargin)),

    // Fixed-point integer PageRank over the near-dup pair graph — the
    // template-hub detector (see graft.ops.PageRank): rank mass
    // concentrating on few docs = boilerplate families with a
    // canonical template; flat rank = organic near-dups. Every rank
    // is a BIGINT in 1e-8 units and the whole iteration is integer
    // arithmetic, so five iterations are bit-exact across engines.
    Q("q_pagerank",
      (s, d) => graft.ops.PageRank.ranks(
        MinHash.nearDupPairs(Tables.df(s, d, "documents"), "doc_id", "text"),
        "id_a", "id_b")
        .orderBy("id"),
      Some(graft.ops.PageRank.ranksDuckSql(
        MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
        "id_a", "id_b") + "\nORDER BY id")),

    // survivors after end-to-end dedupe (pairs -> components -> drop
    // non-representatives): the oracle replays the same walk and
    // anti-joins the dropped ids
    Q("q_dedup_keep",
      (s, d) => {
        // the anti-join below IS dedupe's pruning step (the library
        // path, Collection.dedupe, stays spec-covered in CollectionSpec)
        val dropped = components(s, d)
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        Tables.df(s, d, "documents")
          .join(dropped, Seq("doc_id"), "left_anti")
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some(s"""WITH cc AS (${Cluster.connectedComponentsDuckSql(
                 MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
                 "id_a", "id_b")})
              |SELECT doc_id, source FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster)
              |ORDER BY doc_id""".stripMargin)),

    // Quality-aware dedupe: each cluster keeps its BEST member by the
    // (4dp-pre-rounded) quality score, ties to the lowest id — the
    // RefinedWeb-style "keep the cleanest copy" policy where
    // q_dedup_keep keeps the min id. Ranking windows on the cluster
    // label (tiny next to the corpus — only docs with a duplicate).
    Q("q_dedup_keepbest",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
        val scored = docs.select(col("doc_id").as("id"),
          // integer-exact 4dp: the score RANKS cluster members, so a
          // cross-engine boundary flip would change which doc survives
          TextFunctions.stopwordRatio4(split(col("text"), " ")).as("__q"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
          .orderBy(col("__q").desc, col("id").asc)
        val dropped = components(s, d).join(scored, "id")
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") =!= 1)
          .select(col("id").as("doc_id"))
        docs.join(dropped, Seq("doc_id"), "left_anti")
          .select("doc_id", "source")
          .orderBy("doc_id")
      },
      Some(s"""WITH cc AS (${Cluster.connectedComponentsDuckSql(
                 MinHash.nearDupPairsDuckSql("documents", "doc_id", "text"),
                 "id_a", "id_b")}),
              |sc AS (
              |  SELECT doc_id AS id,
              |    ${TextFunctions.stopwordRatio4Duck("string_split(text, ' ')")} AS q
              |  FROM documents),
              |ranked AS (
              |  SELECT cc.id,
              |    row_number() OVER (PARTITION BY cc.cluster
              |      ORDER BY sc.q DESC, cc.id ASC) AS rn
              |  FROM cc JOIN sc ON sc.id = cc.id)
              |SELECT doc_id, source FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn <> 1)
              |ORDER BY doc_id""".stripMargin)),

    // Incremental dedup: an ingest delta (every 10th doc) against the
    // standing corpus (the rest) — the delta's band keys broadcast,
    // the corpus side never shuffles. Same plan SignatureIndex.
    // deltaPairs runs against the PERSISTED corpus index
    // (SignatureIndexSpec pins persisted/inline parity + append flow).
    Q("q_dedup_delta",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
        graft.dedup.SignatureIndex.crossPairsInline(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
          .orderBy("new_id", "corpus_id")
      },
      Some(graft.dedup.SignatureIndex.crossPairsDuckSql(
        "documents", "doc_id", "text",
        corpusWhere = "doc_id % 10 <> 0", deltaWhere = "doc_id % 10 = 0"))),

    // Substring-granular dedup: maximal spans covered by 8-token
    // shingles that occur in more than one document (boilerplate /
    // quoted-passage detection document-level dedup misses).
    Q("q_dup_spans",
      (s, d) => graft.dedup.SpanDedup.duplicatedSpans(
        Tables.df(s, d, "documents"), "doc_id", "text", minLen = 8)
        .orderBy("doc_id", "span_start"),
      Some(graft.dedup.SpanDedup.duplicatedSpansDuckSql(
        "documents", "doc_id", "text", minLen = 8))),

    // Winnowing (MOSS) fingerprints: window-min sampling of the
    // positional shingle stream — map-only per-doc sketches with the
    // guarantee that any shared passage >= w+window-1 tokens shares a
    // fingerprint. Digest form (count + md5 of the sorted list): the
    // driver comparator rejects array outputs.
    Q("q_winnow",
      (s, d) => graft.dedup.Winnow.fingerprints(
        Tables.df(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(graft.dedup.Winnow.fingerprintsDuckSql("documents", "doc_id", "text"))),

    // shared-passage candidate pairs from the winnowed sketches:
    // pairs form only inside per-fingerprint buckets (skew-capped)
    Q("q_winnow_pairs",
      (s, d) => graft.dedup.Winnow.sharedFingerprintPairs(
        Tables.df(s, d, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Some(graft.dedup.Winnow.sharedFingerprintPairsDuckSql(
        "documents", "doc_id", "text"))),

    // The ExactSubstr DELETION pass: rewrite docs dropping duplicated
    // spans, keep the rest — substring-granular dedup that saves the
    // document instead of dropping it.
    Q("q_despan",
      (s, d) => graft.dedup.SpanDedup.removeDuplicatedSpans(
        Tables.df(s, d, "documents"), "doc_id", "text", minLen = 8)
        .orderBy("doc_id"),
      Some(graft.dedup.SpanDedup.removeDuplicatedSpansDuckSql(
        "documents", "doc_id", "text", minLen = 8))),

    // MinHash calibration: estimated Jaccard (equal-component fraction)
    // vs exact shingle-set Jaccard on every LSH candidate pair — the
    // (k, bands) tuning loop; no threshold filter, calibration needs
    // the misses too. Same bucket-bounded plan as q_dedup_minhash.
    Q("q_minhash_calib",
      (s, d) => MinHash.estVsExactPairs(
        Tables.df(s, d, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Some(MinHash.estVsExactPairsDuckSql("documents", "doc_id", "text"))),

    // Cross-source duplicate-leakage matrix: near-dup pairs rolled up
    // by unordered source pair — "which sources copy from each other",
    // the dedup health report that catches a mirrored dump before it
    // double-counts in the mix. Pairs are LSH-bounded; the doc→source
    // joins are keyed; the output key is bounded by the source domain
    // squared (dozens of sources by the training-mix contract).
    Q("q_dup_sources",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        MinHash.nearDupPairs(docs, "doc_id", "text")
          .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
          .select(least(col("src_a"), col("src_b")).as("source_a"),
            greatest(col("src_a"), col("src_b")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH p AS (${MinHash.nearDupPairsDuckSql("documents", "doc_id", "text")})
              |SELECT least(da.source, db.source) AS source_a,
              |       greatest(da.source, db.source) AS source_b,
              |       CAST(count(*) AS BIGINT) AS n_pairs
              |FROM p
              |JOIN documents da ON p.id_a = da.doc_id
              |JOIN documents db ON p.id_b = db.doc_id
              |GROUP BY source_a, source_b
              |ORDER BY source_a, source_b""".stripMargin)),

    Q("q_ngram_jaccard",
      (s, d) => NgramJaccard.jaccardPairs(Tables.df(s, d, "documents"), "doc_id", "text", w = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(NgramJaccard.jaccardPairsDuckSql("documents", "doc_id", "text", w = 3, threshold = 0.5))),

    // Overlap-coefficient (containment) pairs: inter/min(|A|,|B|) —
    // catches a short doc quoted wholesale inside a long one, which
    // Jaccard under-scores (the union is the long doc).
    Q("q_overlap_pairs",
      (s, d) => NgramJaccard.overlapPairs(Tables.df(s, d, "documents"),
        "doc_id", "text", w = 3, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(NgramJaccard.overlapPairsDuckSql("documents", "doc_id", "text",
        w = 3, threshold = 0.8))),

    // EXACT set-Jaccard pairs via PPJoin-style prefix filtering — no
    // frequency cap, completeness from the prefix theorem; hot shingles
    // sort to the end of the global (df, hash) order and never enter a
    // prefix, so skew cannot create a quadratic bucket.
    Q("q_ngram_ppjoin",
      (s, d) => NgramJaccard.jaccardPairsExact(Tables.df(s, d, "documents"), "doc_id", "text", w = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(NgramJaccard.jaccardPairsExactDuckSql("documents", "doc_id", "text", w = 3, threshold = 0.5))),

    // EXACT edit-distance pairs (Ed-Join): the character-level tier the
    // set-similarity joins can't express — levenshtein(a,b) <= 8 finds
    // the one-word-retyped near-identicals that still tie on token
    // sets. Prefix + length + count filters are each lossless theorems
    // (see EdJoin scaladoc); verify is Spark's banded levenshtein.
    Q("q_edjoin",
      (s, d) => EdJoin.edPairs(Tables.df(s, d, "documents"), "doc_id", "text", q = 3, d = 8)
        .orderBy("id_a", "id_b"),
      Some(EdJoin.edPairsDuckSql("documents", "doc_id", "text", q = 3, d = 8))),

    // Candidate-pair fuel of the Ed-Join prefix blocking (the
    // bucket-load-audit convention): Σ c·(c−1)/2 over prefix-token
    // occupancies by decade — the raw pair count the blocking feeds
    // the length/count filters, a standing oracle-checked number
    // instead of a hope. ScaleSmoke's `edjoin` finder measures its
    // growth under 10× salting.
    Q("q_edjoin_fuel",
      (s, d) => EdJoin.fuelAudit(Tables.df(s, d, "documents"), "doc_id", "text", q = 3, d = 8),
      Some(EdJoin.fuelAuditDuckSql("documents", "doc_id", "text", q = 3, d = 8))),

    // Cross-collection fuzzy-string match: the find_matches surface
    // (reference embedding_matcher.py) at the CHARACTER level — link
    // each low-source doc to its closest high-source doc within edit
    // distance 8, one shared (df, token) order over the union (the
    // prefix theorem needs a single total order across both sides).
    Q("q_edjoin_match",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
        val half = expr("cast(substring(source, 4) as int) < 10")
        EdJoin.edMatchTopN(docs.filter(half), docs.filter(!half),
          "doc_id", "text", q = 3, d = 8, topN = 3)
          .orderBy("src_id", "match_rank")
      },
      Some(EdJoin.edMatchTopNDuckSql("documents", "doc_id", "text",
        srcPred = "CAST(substr(source, 4) AS INT) < 10",
        tgtPred = "CAST(substr(source, 4) AS INT) >= 10",
        q = 3, d = 8, topN = 3))),

    // End-to-end fuzzy entity resolution: Ed-Join pairs → transitive
    // closure → canonical cluster id (min member) — the q_dedup_cluster
    // composition on the CHARACTER-level pair finder (typo'd
    // re-submissions of one record resolve to one golden id even when
    // A~B~C but A!~C directly). Rides the same distributed min-label
    // propagation / recursive-CTE twin as the MinHash tier.
    Q("q_er_resolve",
      (s, d) => Cluster.connectedComponents(
        EdJoin.edPairs(Tables.df(s, d, "documents"), "doc_id", "text", q = 3, d = 8)
          .select("id_a", "id_b"),
        "id_a", "id_b").orderBy("id"),
      Some(Cluster.connectedComponentsDuckSql(
        EdJoin.edPairsDuckSql("documents", "doc_id", "text", q = 3, d = 8),
        "id_a", "id_b") + "\nORDER BY id"))
  )
}
