package graft.ann

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generalized cross-collection embedding matcher (reference:
  * src/linkml_store/utils/embedding_matcher.py — MatchingConfig at
  * :48-66, compute_similarity_matrix at :104-161, find_best_matches at
  * :167-257, within-collection mode at :326): top-n matches per source
  * row under a pluggable metric, with similarity/distance thresholds
  * and self-match exclusion (the within-collection mode is just
  * src == tgt + excludeSelf).
  *
  * Metric semantics follow the reference exactly:
  *  - cosine: sim = a·b/(|a||b|), dist = 1 − sim
  *  - dot:    sim = a·b,          dist = 1 − sim
  *  - euclidean/l2: dist = sqrt(max(0, |a|² + |b|² − 2a·b)),
  *    sim = 1 − dist/max_dist (max over ALL scored pairs — the
  *    reference normalizes by the matrix max before exclusion)
  *  - manhattan: dist = Σ|aᵢ−bᵢ| (native codegen kernel), sim
  *    normalized like euclidean
  *
  * Two tiers, mirroring [[Knn.findMatches]]/[[Knn.findMatchesLsh]]:
  * the BRUTE tier broadcasts the target (dim-sized targets only); the
  * LSH tier bounds candidates by shared sign-bit bands on both sides
  * and never broadcasts data. For the max-normalized metrics the LSH
  * tier's max_dist ranges over the CANDIDATE pairs (the full matrix is
  * never materialized at scale); the oracle replays the identical
  * banding so results stay deterministic.
  *
  * Output: (src_id, tgt_id, similarity, distance, match_rank), ranked
  * by similarity descending with ties on tgt_id.
  */
object Matcher {

  /** Engine analog of the reference MatchingConfig (embedding_matcher
    * .py:48-66). `topN` = max_matches_per_item; `minSimilarity` /
    * `maxDistance` = similarity_threshold / distance_threshold.
    */
  final case class MatchConfig(
      metric: String = "cosine",
      topN: Int = 5,
      minSimilarity: Option[Double] = None,
      maxDistance: Option[Double] = None,
      excludeSelf: Boolean = true) {
    require(Seq("cosine", "dot", "euclidean", "l2", "manhattan").contains(metric),
      s"unknown metric: $metric")
    def needsMaxDist: Boolean = metric == "euclidean" || metric == "l2" || metric == "manhattan"
  }

  private def distCol(cfg: MatchConfig): Column = cfg.metric match {
    case "cosine" =>
      lit(1.0) - VectorFunctions.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
    case "dot" =>
      lit(1.0) - VectorFunctions.dot(col("__va"), col("__vb"))
    case "euclidean" | "l2" =>
      sqrt(greatest(lit(0.0),
        col("__sa") + col("__sb") - lit(2.0) * VectorFunctions.dot(col("__va"), col("__vb"))))
    case "manhattan" =>
      VectorFunctions.l1(col("__va"), col("__vb"))
  }

  private def side(df: DataFrame, idCol: String, vecCol: String, as: String,
                   cfg: MatchConfig): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val base = df.select(col(idCol).as(as), v.as(s"__v$as"))
    cfg.metric match {
      case "cosine" => base.withColumn(s"__n$as", VectorFunctions.norm(col(s"__v$as")))
      case "euclidean" | "l2" =>
        base.withColumn(s"__s$as", VectorFunctions.dot(col(s"__v$as"), col(s"__v$as")))
      case _ => base
    }
  }

  /** Rank + threshold + shape the scored pairs. `scored` carries
    * (src_id, tgt_id, __dist) plus, for max-normalized metrics, the
    * 1-row __maxd already joined in.
    */
  private def finish(scored: DataFrame, cfg: MatchConfig): DataFrame = {
    val sim =
      if (cfg.needsMaxDist)
        when(col("__maxd") > 0, lit(1.0) - col("__dist") / col("__maxd"))
          .otherwise(lit(1.0) - col("__dist"))
      else lit(1.0) - col("__dist")
    val withSim = scored.withColumn("__sim", sim)
    val excluded = if (cfg.excludeSelf) withSim.filter(col("src_id") =!= col("tgt_id")) else withSim
    val thresholded = Seq(
      cfg.minSimilarity.map(t => col("__sim") >= t),
      cfg.maxDistance.map(t => col("__dist") <= t)
    ).flatten.foldLeft(excluded)(_.filter(_))
    val w = Window.partitionBy("src_id").orderBy(col("__sim").desc, col("tgt_id").asc)
    thresholded
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= cfg.topN)
      .select(col("src_id"), col("tgt_id"),
        round(col("__sim"), 4).as("similarity"),
        round(col("__dist"), 4).as("distance"),
        col("match_rank"))
    // no global sort here: match output is |src|-sized — registry
    // wrappers add the deterministic order the oracle diff wants
  }

  /** BRUTE tier: target broadcast + per-source rank window. Keep for
    * dim-sized targets only — [[findMatchesLshTopN]] is the
    * collection-scale path. For within-collection matching pass the
    * same DataFrame as src and tgt (excludeSelf defaults true).
    */
  def findMatchesTopN(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                      cfg: MatchConfig = MatchConfig(),
                      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val a = side(src, idCol, vecCol, "src_id", cfg)
    val b = side(tgt, idCol, vecCol, "tgt_id", cfg)
    // rename per-side helper cols to the names distCol expects
    val pairs = a.withColumnRenamed("__vsrc_id", "__va")
      .withColumnRenamed("__nsrc_id", "__na").withColumnRenamed("__ssrc_id", "__sa")
      .crossJoin(broadcast(b.withColumnRenamed("__vtgt_id", "__vb")
        .withColumnRenamed("__ntgt_id", "__nb").withColumnRenamed("__stgt_id", "__sb")))
      .withColumn("__dist", distCol(cfg))
      .select("src_id", "tgt_id", "__dist")
    finish(withMaxDist(pairs, cfg, scope), cfg)
  }

  /** For the max-normalized metrics join in the 1-row full-matrix max
    * (the reference normalizes BEFORE self-exclusion/thresholds). Both
    * the agg and the outer join reference `pairs` — persist it through
    * the scope so the distance matrix is computed once, not twice.
    */
  private def withMaxDist(pairs: DataFrame, cfg: MatchConfig,
                          scope: graft.api.CacheScope): DataFrame =
    if (cfg.needsMaxDist) {
      val p = scope.persist(pairs)
      p.crossJoin(broadcast(p.agg(max(col("__dist")).as("__maxd"))))
    } else pairs

  /** LSH tier: shared sign-bit band candidates on both sides (no data
    * broadcast, no nested loop — see [[Knn.findMatchesLsh]]); exact
    * metric re-rank within candidates. max_dist for the normalized
    * metrics ranges over candidate pairs. Default banding (nBits = -1)
    * is the corpus-scaled sampled-planes one ([[Knn.scaledBandChunks]]
    * at [[Knn.widthForCount]] of the larger side); an explicit nBits
    * pins the legacy fixed slicing for recall tuning at known sizes.
    */
  def findMatchesLshTopN(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                         cfg: MatchConfig = MatchConfig(),
                         nBits: Int = -1, bands: Int = -1,
                         maxBucket: Int = 10000,
                         scope: graft.api.CacheScope = graft.api.CacheScope.global,
                         dims: Int = -1): DataFrame = {
    val cand = Knn.lshCandidates(src, tgt, idCol, vecCol, nBits, bands, maxBucket, dims)
    val a = side(src, idCol, vecCol, "src_id", cfg)
      .withColumnRenamed("__vsrc_id", "__va")
      .withColumnRenamed("__nsrc_id", "__na").withColumnRenamed("__ssrc_id", "__sa")
    val b = side(tgt, idCol, vecCol, "tgt_id", cfg)
      .withColumnRenamed("__vtgt_id", "__vb")
      .withColumnRenamed("__ntgt_id", "__nb").withColumnRenamed("__stgt_id", "__sb")
    val pairs = cand.join(a, "src_id").join(b, "tgt_id")
      .withColumn("__dist", distCol(cfg))
      .select("src_id", "tgt_id", "__dist")
    finish(withMaxDist(pairs, cfg, scope), cfg)
  }

  /** Mean per-source recall@k of an approximate match result against
    * exact truth. Both inputs are matcher-shaped frames
    * (src_id, tgt_id, match_rank). Per source: |approx ∩ truth| /
    * |truth| over the rank-≤k rows (truth may have fewer than k rows
    * after thresholds — the denominator is what truth actually
    * holds). Returns the mean over sources as a driver scalar: this
    * is an index-quality eval metric (one number per tuning run), so
    * the only collect is the final 1-row aggregate; the joins and
    * per-source counts stay distributed, which is what matters when
    * truth is a 10⁶-query sample of a 100 TB corpus.
    */
  def recallAtK(truth: DataFrame, approx: DataFrame, k: Int): Double = {
    val t = truth.filter(col("match_rank") <= k).select("src_id", "tgt_id")
    val a = approx.filter(col("match_rank") <= k).select("src_id", "tgt_id")
      .withColumn("__hit", lit(1))
    val per = t.join(a, Seq("src_id", "tgt_id"), "left")
      .groupBy("src_id")
      .agg((sum(coalesce(col("__hit"), lit(0))) / count(lit(1))).as("__recall"))
    val row = per.agg(avg(col("__recall"))).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  // ---------------------------------------------------------------- oracle

  private def duckDot(x: String, y: String, dim: Int): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"

  private def duckDist(cfg: MatchConfig, dim: Int): String = cfg.metric match {
    case "cosine" =>
      s"1.0 - ${duckDot("a.v", "b.v", dim)} / (a.nrm * b.nrm)"
    case "dot" =>
      s"1.0 - ${duckDot("a.v", "b.v", dim)}"
    case "euclidean" | "l2" =>
      s"sqrt(greatest(0.0, a.sq + b.sq - 2.0 * ${duckDot("a.v", "b.v", dim)}))"
    case "manhattan" =>
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> abs(a.v[i] - b.v[i])))"
  }

  private def duckFinish(cfg: MatchConfig): String = {
    val sim =
      if (cfg.needsMaxDist) "CASE WHEN m > 0 THEN 1.0 - dist / m ELSE 1.0 - dist END"
      else "1.0 - dist"
    val conds = Seq(
      if (cfg.excludeSelf) Some("src_id <> tgt_id") else None,
      cfg.minSimilarity.map(t => s"sim >= $t"),
      cfg.maxDistance.map(t => s"dist <= $t")).flatten
    val where = if (conds.isEmpty) "" else conds.mkString("WHERE ", " AND ", "")
    s"""scored AS (SELECT src_id, tgt_id, dist, $sim AS sim FROM pairs${if (cfg.needsMaxDist) ", maxd" else ""}),
       |ranked AS (
       |  SELECT src_id, tgt_id, sim, dist,
       |    row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id ASC) AS match_rank
       |  FROM scored $where)
       |SELECT src_id, tgt_id, round(sim, 4) + 0 AS similarity, round(dist, 4) + 0 AS distance, match_rank
       |FROM ranked WHERE match_rank <= ${cfg.topN}
       |ORDER BY src_id, match_rank""".stripMargin
  }

  /** DuckDB twin of [[findMatchesTopN]] over one table split by
    * src/tgt predicates (within-collection: pass the same predicate
    * twice).
    */
  def findMatchesTopNDuckSql(table: String, idCol: String, vecCol: String,
                             srcPred: String, tgtPred: String, dim: Int,
                             cfg: MatchConfig = MatchConfig()): String = {
    val sideCols = cfg.metric match {
      case "cosine" => s", sqrt(${duckDot("v", "v", dim)}) AS nrm"
      case "euclidean" | "l2" => s", ${duckDot("v", "v", dim)} AS sq"
      case _ => ""
    }
    val maxd = if (cfg.needsMaxDist) ",\nmaxd AS (SELECT max(dist) AS m FROM pairs)" else ""
    s"""WITH e AS (SELECT $idCol, ($srcPred) AS is_src, ($tgtPred) AS is_tgt,
       |             CAST($vecCol AS DOUBLE[]) AS v$sideCols FROM $table),
       |pairs AS (
       |  SELECT a.$idCol AS src_id, b.$idCol AS tgt_id, ${duckDist(cfg, dim)} AS dist
       |  FROM e a, e b WHERE a.is_src AND b.is_tgt)$maxd,
       |${duckFinish(cfg)}""".stripMargin
  }

  /** DuckDB twin of [[findMatchesLshTopN]] — replays the identical
    * banding, cap and candidate join before the metric re-rank.
    */
  def findMatchesLshTopNDuckSql(table: String, idCol: String, vecCol: String,
                                srcPred: String, tgtPred: String, dim: Int,
                                cfg: MatchConfig = MatchConfig(),
                                nBits: Int = -1, bands: Int = -1,
                                maxBucket: Int = 10000): String = {
    val sideCols = cfg.metric match {
      case "cosine" => s", sqrt(${duckDot("v", "v", dim)}) AS nrm"
      case "euclidean" | "l2" => s", ${duckDot("v", "v", dim)} AS sq"
      case _ => ""
    }
    val maxd = if (cfg.needsMaxDist) ",\nmaxd AS (SELECT max(dist) AS m FROM pairs)" else ""
    s"""WITH e AS (SELECT $idCol, ($srcPred) AS is_src, ($tgtPred) AS is_tgt,
       |             CAST($vecCol AS DOUBLE[]) AS v$sideCols FROM $table),
       |${Knn.lshBkDuck(idCol, dim, nBits, bands)}
       |bka AS (
       |  SELECT $idCol AS src_id, band, chunk FROM bk WHERE is_src
       |  QUALIFY count(*) OVER (PARTITION BY band, chunk) <= $maxBucket),
       |bkb AS (
       |  SELECT $idCol AS tgt_id, band, chunk FROM bk WHERE is_tgt
       |  QUALIFY count(*) OVER (PARTITION BY band, chunk) <= $maxBucket),
       |cand AS (SELECT DISTINCT src_id, tgt_id FROM bka JOIN bkb USING (band, chunk)),
       |pairs AS (
       |  SELECT cand.src_id, cand.tgt_id, ${duckDist(cfg, dim)} AS dist
       |  FROM cand JOIN e a ON cand.src_id = a.$idCol
       |            JOIN e b ON cand.tgt_id = b.$idCol)$maxd,
       |${duckFinish(cfg)}""".stripMargin
  }
}
