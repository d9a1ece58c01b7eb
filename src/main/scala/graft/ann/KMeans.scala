package graft.ann

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the trained
  * coarse quantizer the IVF tier's doc promises ("a trained k-means
  * codebook would slot into the same plan"). Spark shape per
  * iteration: ONE aggregation job — assignment is a codegen argmin
  * against literal centroids under SQUARED EUCLIDEAN distance (the
  * same argmin-struct shape as [[Knn.ivfCellExpr]], which ranks by
  * dot product for the unit-norm IVF tier — k-means must not favor
  * the longer centroid, so it carries the |c|² term), re-centering
  * rides the partial-agg
  * array-sum kernel, and only k × d doubles ever reach the driver.
  * No join, no shuffle beyond the aggregation exchange.
  *
  * Determinism: init is the first k vectors by id (the IVF pattern);
  * ties in assignment break toward the lower centroid id inside the
  * argmin struct. Same data + same k ⇒ same model, every run.
  *
  * Distance is squared Euclidean. An emptied cluster keeps its
  * previous centroid (standard Lloyd's fallback).
  */
object KMeans {

  final case class Model(
      centroids: Array[(Long, Seq[Double])],
      wcss: Double, // within-cluster sum of squares at convergence
      iters: Int)

  /** Per-row nearest-centroid id under squared Euclidean distance:
    * argmin of |c|² − 2·v·c (|v|² is constant per row), ties to the
    * lower centroid id.
    */
  private def bestCellStruct(cent: Array[(Long, Seq[Double])]): Column =
    array_min(array(cent.map { case (cid, cv) =>
      val c2 = cv.map(x => x * x).sum
      struct((lit(c2) - VectorFunctions.dot(col("__v"), typedLit(cv)) * 2.0).as("nd"),
        lit(cid).as("cid"))
    }: _*))

  private[ann] def euclidCellExpr(cent: Array[(Long, Seq[Double])]): Column =
    bestCellStruct(cent).getField("cid")

  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          maxIters: Int = 10, tol: Double = 1e-9): Model = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // NOT persisted on purpose: measured at sf0.1 the cache
    // materialization job costs more than the 3-4 columnar rescans it
    // saves (q_kmeans 1.44->1.74 s, q_embed_outliers 1.44->2.34 s with
    // a pin here); at larger corpora the caller can persist df itself.
    val e = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
    var cent: Array[(Long, Seq[Double])] = e.orderBy(col("id").asc).limit(k)
      .select(col("id"), col("__v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    require(cent.nonEmpty, "cannot fit k-means on an empty collection")
    var iter = 0
    var shift = Double.MaxValue
    var wcss = Double.NaN
    while (iter < maxIters && shift > tol) {
      // one distributed pass: per assigned cell, Σv, n, Σ|v|²
      val rows = e.withColumn("__cell", euclidCellExpr(cent))
        .groupBy(col("__cell"))
        .agg(call_function("graft_array_sum", col("__v")).as("s"),
          count(lit(1)).as("n"),
          sum(graft.functions.VectorFunctions.dot(col("__v"), col("__v"))).as("ss"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getSeq[Double](1), r.getLong(2), r.getDouble(3))))
        .toMap
      val next = cent.map { case (cid, old) =>
        rows.get(cid) match {
          case Some((s, n, _)) => (cid, s.map(_ / n))
          case None => (cid, old) // emptied cluster keeps its centroid
        }
      }
      // wcss against the UPDATED centroids: Σ|v|² − |Σv|²/n per cluster
      wcss = rows.map { case (_, (s, n, ss)) =>
        ss - s.map(x => x * x).sum / n
      }.sum
      shift = cent.zip(next).map { case ((_, a), (_, b)) =>
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      }.max
      cent = next
      iter += 1
    }
    Model(cent, wcss, iter)
  }

  /** Cluster assignment for every row — the same codegen argmin the
    * model was trained with; map-only.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame =
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("cluster", euclidCellExpr(model.centroids))
      .select(col(idCol), col("cluster"))

  /** DuckDB twin of `assign(df, fit(df, k, maxIters))`: the full
    * training loop — first-k-by-id init, `iters` unrolled Lloyd's
    * steps (argmin assignment with the same (distance, cid) tie-break,
    * per-dimension mean re-centering, emptied-cluster fallback to the
    * previous centroid) — then the final assignment. Everything is
    * integer-or-argmin output, so the oracle is exact up to genuine
    * distance ties; float summation-order skew only matters for rows
    * equidistant to two centroids at the 1e-15 level.
    */
  def assignDuckSql(table: String, idCol: String, vecCol: String,
                    k: Int, iters: Int, dim: Int): String =
    s"""WITH ${trainLoopCtes(table, idCol, vecCol, k, iters, dim)}
       |SELECT id AS $idCol, cid AS cluster FROM afinal ORDER BY $idCol""".stripMargin

  /** The training-loop CTE body (no WITH keyword, no final SELECT),
    * ending in `afinal(id, v, cid, d2)` — the COMPOSABLE form for
    * oracles that consume the assignment mid-query (q_cluster_terms
    * joins afinal against the token stream). Exposing this fragment
    * replaces the earlier string-surgery on [[assignDuckSql]]'s final
    * SELECT, which silently no-op'd if that SELECT's text drifted.
    */
  def assignCtesDuckSql(table: String, idCol: String, vecCol: String,
                        k: Int, iters: Int, dim: Int): String =
    trainLoopCtes(table, idCol, vecCol, k, iters, dim)

  /** The shared training-loop CTE body ending in `afinal(id, v, cid,
    * d2)` — composable by SemDedup/outlier oracles that need the final
    * assignment plus vectors and true squared distances. `e` exposes
    * (id, v); `c$iters` the final centroids.
    */
  private[ann] def trainLoopCtes(table: String, idCol: String, vecCol: String,
                                 k: Int, iters: Int, dim: Int): String = {
    val r = s"range(1, ${dim + 1})"
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT id, v, cid,
         |    list_sum(list_transform($r, i -> v[i] * v[i])) + nd AS d2
         |  FROM (
         |    SELECT e.id, e.v, c.cid,
         |      list_sum(list_transform($r, i -> c.cv[i] * c.cv[i]))
         |        - 2 * list_sum(list_transform($r, i -> e.v[i] * c.cv[i])) AS nd,
         |      row_number() OVER (PARTITION BY e.id ORDER BY
         |        list_sum(list_transform($r, i -> c.cv[i] * c.cv[i]))
         |        - 2 * list_sum(list_transform($r, i -> e.v[i] * c.cv[i])),
         |        c.cid) AS rn
         |    FROM e CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""${assignCte(s"a$i", s"c${i - 1}")},
         |m$i AS (
         |  SELECT cid, list(mu ORDER BY dim) AS cv FROM (
         |    SELECT cid, dim, avg(x) AS mu FROM (
         |      SELECT cid, unnest(range(1, len(v) + 1)) AS dim, unnest(v) AS x
         |      FROM a$i)
         |    GROUP BY cid, dim)
         |  GROUP BY cid),
         |c$i AS (
         |  SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
         |  FROM c${i - 1} p LEFT JOIN m$i m USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT CAST($idCol AS BIGINT) AS id, CAST($vecCol AS DOUBLE[]) AS v
       |  FROM $table WHERE $vecCol IS NOT NULL),
       |c0 AS (SELECT id AS cid, v AS cv FROM e ORDER BY id LIMIT $k),
       |$steps,
       |${assignCte("afinal", s"c$iters")}""".stripMargin
  }

  /** Per-row (cluster, distance-to-assigned-centroid) — [[assign]] plus
    * the winning Euclidean distance, still a map-only codegen argmin.
    * The tiny FP negative from |v|²+(|c|²−2v·c) on exact-centroid rows
    * clamps to 0 before the sqrt.
    */
  def assignWithDist(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val best = bestCellStruct(model.centroids)
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__best", best)
      .select(col(idCol), col("__best.cid").as("cluster"),
        round(sqrt(greatest(
          VectorFunctions.dot(col("__v"), col("__v")) + col("__best.nd"),
          lit(0.0))), 4).as("dist"))
  }

  /** Per-cluster mean CENTROID-APPROXIMATED silhouette — the standard
    * "is k right / are clusters separated" diagnostic, at scale:
    * a(i) = distance to the assigned centroid, b(i) = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b). (The textbook
    * silhouette's pairwise-to-all-members form is O(n²) and never runs
    * at corpus scale; the centroid approximation is the accepted
    * streaming form and needs only the k literal centroids.)
    *
    * Scale shape: map-only codegen — the k (distance, cid) structs
    * sort per row (`sort_array`, same (nd, cid) tie-break as the
    * training argmin), one grouped partial agg on the bounded cluster
    * key. Per-row s pre-rounds to integer 1e-4 units so the mean is
    * an exact integer sum in BOTH engines (no float-summation-order
    * divergence). Returns (cluster, n, mean_sil), k rows.
    */
  def silhouette(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    require(model.centroids.length >= 2, "silhouette needs k >= 2")
    val sortedCells = sort_array(array(model.centroids.map { case (cid, cv) =>
      val c2 = cv.map(x => x * x).sum
      struct((lit(c2) - VectorFunctions.dot(col("__v"), typedLit(cv)) * 2.0).as("nd"),
        lit(cid).as("cid"))
    }: _*))
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__vv", VectorFunctions.dot(col("__v"), col("__v")))
      .withColumn("__srt", sortedCells)
      .withColumn("__a", sqrt(greatest(col("__vv") + col("__srt").getItem(0).getField("nd"), lit(0.0))))
      .withColumn("__b", sqrt(greatest(col("__vv") + col("__srt").getItem(1).getField("nd"), lit(0.0))))
      .withColumn("__s4", round(
        when(greatest(col("__a"), col("__b")) > 0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)) * 10000).cast("long"))
      .groupBy(col("__srt").getItem(0).getField("cid").as("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum("__s4").cast("double") / (count(lit(1)) * 10000), 4).as("mean_sil"))
  }

  /** Per-cell load-balance report for a trained coarse quantizer — the
    * index-health diagnostic run before committing an IVF layout: a fat
    * cell means probe latency spikes (every query probing it scans that
    * cell's whole posting list) and a starved cell wastes a partition.
    * Emits (cluster, n, frac, load) where load = n·k/N — 1.0 is perfect
    * balance, and max(load) bounds the worst probe's cost relative to
    * the balanced ideal.
    *
    * Scale shape: one map-only codegen argmin pass + one bounded-key
    * (k-value) partial aggregate; the k-row cell table persists so the
    * 1-row total derives from it, not from a second corpus scan.
    */
  def cellBalance(df: DataFrame, idCol: String, vecCol: String, model: Model,
                  scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val k = model.centroids.length
    val cells = scope.persist(
      assign(df, idCol, vecCol, model)
        .groupBy("cluster").agg(count(lit(1)).as("n")))
    val tot = cells.agg(sum("n").as("nn"))
    cells.crossJoin(broadcast(tot))
      .select(col("cluster"), col("n"),
        round(col("n") / col("nn").cast("double"), 4).as("frac"),
        round((col("n") * k) / col("nn").cast("double"), 4).as("load"))
      .orderBy("cluster")
  }

  /** DuckDB twin of `cellBalance(df, fit(df, k, iters))` — the unrolled
    * training loop + the same two-level aggregate.
    */
  def cellBalanceDuckSql(table: String, idCol: String, vecCol: String,
                         k: Int, iters: Int, dim: Int): String =
    s"""WITH ${trainLoopCtes(table, idCol, vecCol, k, iters, dim)},
       |cells AS (
       |  SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n
       |  FROM afinal GROUP BY cid),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells)
       |SELECT cluster, n,
       |  round(n / CAST(nn AS DOUBLE), 4) AS frac,
       |  round((n * $k) / CAST(nn AS DOUBLE), 4) AS load
       |FROM cells CROSS JOIN tot
       |ORDER BY cluster""".stripMargin

  /** DuckDB twin of `silhouette(df, fit(df, k, iters))`: the unrolled
    * training loop (shared [[trainLoopCtes]]) + nearest/second-nearest
    * centroid ranking + the same integer-unit mean.
    */
  def silhouetteDuckSql(table: String, idCol: String, vecCol: String,
                        k: Int, iters: Int, dim: Int): String = {
    val r = s"range(1, ${dim + 1})"
    s"""WITH ${trainLoopCtes(table, idCol, vecCol, k, iters, dim)},
       |vv AS (
       |  SELECT id, list_sum(list_transform($r, i -> v[i] * v[i])) AS vv FROM e),
       |rank2 AS (
       |  SELECT id, cid, nd,
       |    row_number() OVER (PARTITION BY id ORDER BY nd, cid) AS rn
       |  FROM (
       |    SELECT e.id, c.cid,
       |      list_sum(list_transform($r, i -> c.cv[i] * c.cv[i]))
       |        - 2 * list_sum(list_transform($r, i -> e.v[i] * c.cv[i])) AS nd
       |    FROM e CROSS JOIN c$iters c) t),
       |sil AS (
       |  SELECT r1.id, r1.cid AS cluster,
       |    sqrt(greatest(vv.vv + r1.nd, 0)) AS a,
       |    sqrt(greatest(vv.vv + r2.nd, 0)) AS b
       |  FROM rank2 r1
       |  JOIN rank2 r2 ON r1.id = r2.id AND r2.rn = 2
       |  JOIN vv ON vv.id = r1.id
       |  WHERE r1.rn = 1)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
       |  round(CAST(sum(CAST(round((CASE WHEN greatest(a, b) > 0
       |      THEN (b - a) / greatest(a, b) ELSE 0 END) * 10000) AS BIGINT)) AS DOUBLE)
       |    / (count(*) * 10000), 4) AS mean_sil
       |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin
  }
}
