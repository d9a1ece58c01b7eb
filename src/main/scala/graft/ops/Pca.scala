package graft.ops

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PCA over an embedding column — the engine analog of the
  * reference's dimensionality reduction for embedding plots
  * (src/linkml_store/plotting/dimensionality_reduction.py, which runs
  * sklearn PCA on a driver-side matrix). Spark-first shape:
  *
  *  - ONE aggregation pass computes Σx (d doubles) and Σxxᵀ (d²
  *    doubles) via the partial-agg array-sum kernel — only model
  *    state crosses the wire, never the corpus. At 100 TB and d=64
  *    that is 4 KB + 32 KB per partition, independent of row count.
  *  - the d×d covariance eigen-decomposes ON THE DRIVER (cyclic
  *    Jacobi — the matrix is model-sized, not data-sized; same
  *    KMeans-centers pattern as the IVF centroids).
  *  - projection is a codegen dot product against literal component
  *    vectors — map-only, no shuffle.
  *
  * Eigenvectors are sign-normalized (largest-|component| positive) so
  * results are deterministic across runs and partitionings.
  */
object Pca {

  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]], // k rows, each length d
      explainedVariance: Array[Double], // k eigenvalues, descending
      totalVariance: Double)

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix. Returns
    * (eigenvalues, eigenvectors as columns) unsorted.
    */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // theta == 0 (equal diagonal entries) still needs a real
            // rotation: signum(0) = 0 would make it the identity and
            // the off-diagonal would never be annihilated — t = 1 is
            // the standard 45-degree choice
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < n) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < n) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Fit a k-component PCA model in one distributed pass. */
  def fit(df: DataFrame, vecCol: String, k: Int): PcaModel = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val v = col(vecCol).cast("array<double>")
    val row = df.select(v.as("__v"))
      .filter(col("__v").isNotNull)
      .agg(
        call_function("graft_array_sum", col("__v")).as("s1"),
        call_function("graft_array_sum",
          flatten(transform(col("__v"),
            x => transform(col("__v"), y => x * y)))).as("s2"),
        count(lit(1)).as("n"))
      .head()
    require(!row.isNullAt(0), "PCA needs at least 2 non-null vectors")
    val s1 = row.getSeq[Double](0).toArray
    val s2 = row.getSeq[Double](1).toArray
    val n = row.getLong(2).toDouble
    require(n > 1, "PCA needs at least 2 rows")
    val d = s1.length
    require(k >= 1 && k <= d, s"k must be in [1, $d]")
    val mean = s1.map(_ / n)
    val cov = Array.tabulate(d, d)((i, j) => s2(i * d + j) / n - mean(i) * mean(j))
    val (eig, vecs) = jacobiEigen(cov)
    val order = eig.indices.sortBy(i => -eig(i)).take(k)
    val components = order.map { ci =>
      val comp = Array.tabulate(d)(r => vecs(r)(ci))
      // deterministic sign: the largest-|x| coordinate points positive
      val m = comp.indices.maxBy(i => math.abs(comp(i)))
      if (comp(m) < 0) comp.map(-_) else comp
    }.toArray
    PcaModel(mean, components, order.map(eig).toArray, eig.sum)
  }

  /** Project rows onto the model's components: map-only, each pc is a
    * codegen dot against a literal vector minus a precomputed offset.
    */
  def project(df: DataFrame, idCol: String, vecCol: String, model: PcaModel): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // no rounding here: presentation rounding is the query layer's
    // job (q_embed_pca rounds), and tiny-scale projections would
    // vanish at a fixed 4dp
    val pcs = model.components.zipWithIndex.map { case (comp, i) =>
      val offset = comp.zip(model.mean).map { case (c, m) => c * m }.sum
      (VectorFunctions.dot(v, typedLit(comp.toSeq)) - offset).as(s"pc${i + 1}")
    }
    df.select(col(idCol) +: pcs.toSeq: _*)
  }

  /** Fit + project in one call (reference reduce_dimensions analog). */
  def fitProject(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    project(df, idCol, vecCol, fit(df, vecCol, k))

  /** PCA-whitened projection: each component score divides by the
    * component's standard deviation sqrt(λ), so the output coordinates
    * have unit population variance and zero correlation — the
    * normalization embedding pipelines apply before cosine/Euclidean
    * retrieval so one dominant direction can't swamp the metric
    * (and the standard pre-step for ZCA). Map-only like [[project]]:
    * the 1/sqrt(λ) scale folds into a per-component literal computed
    * on the driver, so BOTH engines multiply by the identical double.
    * Near-zero eigenvalues clamp at 1e-12 before the sqrt (a dead
    * direction must not explode to ±inf).
    */
  def projectWhitened(df: DataFrame, idCol: String, vecCol: String,
                      model: PcaModel): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val ws = model.components.zipWithIndex.map { case (comp, i) =>
      val offset = comp.zip(model.mean).map { case (c, m) => c * m }.sum
      val scale = 1.0 / math.sqrt(math.max(model.explainedVariance(i), 1e-12))
      ((VectorFunctions.dot(v, typedLit(comp.toSeq)) - offset) * scale)
        .as(s"w${i + 1}")
    }
    df.select(col(idCol) +: ws.toSeq: _*)
  }

  /** DuckDB twin of [[projectWhitened]] — components, offsets AND the
    * driver-computed 1/sqrt(λ) scales embedded as full-precision
    * literals, so the per-row arithmetic ((dot − offset) · scale) is
    * identical in both engines.
    */
  def projectWhitenedDuckSql(table: String, idCol: String, vecCol: String,
                             model: PcaModel, round4: Boolean): String = {
    val dim = model.mean.length
    val comps = model.components.zipWithIndex.map { case (comp, j) =>
      val lit = comp.mkString("[", ", ", "]::DOUBLE[]")
      val offset = comp.zip(model.mean).map { case (c, m) => c * m }.sum
      val scale = 1.0 / math.sqrt(math.max(model.explainedVariance(j), 1e-12))
      val w = s"(list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> CAST($vecCol[i] AS DOUBLE) * c.c${j + 1}[i])) - ($offset)) * ($scale)"
      // "+ 0" folds DuckDB's round(-1e-9, 4) = -0.0 into +0.0 (Spark's
      // BigDecimal round never emits -0.0); the comparator sorts rows
      // by string, where "-0.0" and "0.0" land apart — a centered
      // projection is guaranteed to straddle zero at scale
      (s"$lit AS c${j + 1}",
        if (round4) s"round($w, 4) + 0 AS w${j + 1}" else s"$w AS w${j + 1}")
    }
    s"""WITH c AS (SELECT ${comps.map(_._1).mkString(",\n  ")})
       |SELECT $idCol,
       |  ${comps.map(_._2).mkString(",\n  ")}
       |FROM $table, c
       |ORDER BY $idCol""".stripMargin
  }

  /** Participation-ratio effective dimensionality of the embedding
    * cloud — the EMBEDDING-COLLAPSE diagnostic (a contrastive encoder
    * whose representations collapse onto a few directions shows
    * eff_dim ≪ d long before retrieval quality visibly degrades):
    * PR = (Σλ)² / Σλ² over the covariance eigenvalues. No
    * eigen-decomposition needed — Σλ = trace(C) and Σλ² = ‖C‖²_F for a
    * symmetric C, both direct sums over covariance entries, so the
    * WHOLE statistic is one aggregation pass (the PCA Σx/Σxxᵀ kernel)
    * plus 1-row arithmetic: fully declarative, oracle-replayable, no
    * driver math. Returns 1 row (n, dim, trace, eff_dim).
    */
  def effectiveDim(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val v = col(vecCol).cast("array<double>")
    val agg = df.select(v.as("__v"))
      .filter(col("__v").isNotNull)
      .agg(
        call_function("graft_array_sum", col("__v")).as("s1"),
        call_function("graft_array_sum",
          flatten(transform(col("__v"),
            x => transform(col("__v"), y => x * y)))).as("s2"),
        count(lit(1)).as("n"))
    val d = dim
    // cov entry c(i,j) = s2[i·d+j]/n − (s1[i]/n)(s1[j]/n); 1-row HOF
    // folds (cost-irrelevant here), arithmetic shape mirrored in the
    // DuckDB twin (sum-then-divide, explicit products — no pow)
    val trace = expr(
      s"""aggregate(sequence(0, $d - 1), cast(0.0 as double), (acc, i) ->
         |  acc + (element_at(s2, i * $d + i + 1) / cast(n as double)
         |    - (element_at(s1, i + 1) / cast(n as double))
         |      * (element_at(s1, i + 1) / cast(n as double))))""".stripMargin)
    val fro2 = expr(
      s"""aggregate(sequence(0, $d * $d - 1), cast(0.0 as double), (acc, k) ->
         |  acc + (element_at(s2, k + 1) / cast(n as double)
         |      - (element_at(s1, cast(k / $d as int) + 1) / cast(n as double))
         |        * (element_at(s1, k % $d + 1) / cast(n as double)))
         |    * (element_at(s2, k + 1) / cast(n as double)
         |      - (element_at(s1, cast(k / $d as int) + 1) / cast(n as double))
         |        * (element_at(s1, k % $d + 1) / cast(n as double))))""".stripMargin)
    // a fully-collapsed cloud (every vector identical) has fro2 = 0:
    // eff_dim is NULL, not a division error / inf
    agg.select(
      col("n"), lit(d).as("dim"),
      round(trace, 4).as("trace"),
      round(when(fro2 =!= 0, trace * trace / fro2), 4).as("eff_dim"))
  }

  /** DuckDB twin of [[effectiveDim]] — the covariance grid built by
    * row-explosion (the oracle is the single-node referee, not the
    * plan), same sum-then-divide arithmetic per entry.
    */
  def effectiveDimDuckSql(table: String, vecCol: String, dim: Int): String =
    s"""WITH g AS (
       |  SELECT i.i AS i, j.j AS j,
       |    sum(CAST($vecCol[i.i] AS DOUBLE) * $vecCol[j.j]) AS sxy,
       |    count(*) AS n
       |  FROM $table, range(1, ${dim + 1}) i(i), range(1, ${dim + 1}) j(j)
       |  WHERE $vecCol IS NOT NULL
       |  GROUP BY i.i, j.j),
       |mu AS (
       |  SELECT i.i AS i, sum(CAST($vecCol[i.i] AS DOUBLE)) AS sx, count(*) AS n
       |  FROM $table, range(1, ${dim + 1}) i(i)
       |  WHERE $vecCol IS NOT NULL
       |  GROUP BY i.i),
       |cov AS (
       |  SELECT g.i, g.j,
       |    g.sxy / g.n - (mi.sx / mi.n) * (mj.sx / mj.n) AS c
       |  FROM g JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j),
       |s AS (
       |  SELECT
       |    sum(CASE WHEN i = j THEN c ELSE 0 END) AS trace,
       |    sum(c * c) AS fro2
       |  FROM cov)
       |SELECT (SELECT CAST(max(n) AS BIGINT) FROM mu) AS n, $dim AS dim,
       |  round(trace, 4) AS trace,
       |  round(CASE WHEN fro2 <> 0 THEN trace * trace / fro2 END, 4) AS eff_dim
       |FROM s""".stripMargin

  /** DuckDB re-projection of `model`: components and offsets embedded
    * as full-precision literals (Double.toString round-trips), the
    * per-row dot recomputed by DuckDB in the same left-to-right fold
    * order as the codegen `graft_dot`. Verifies the distributed
    * projection pass end-to-end; combined with PcaSpec's
    * orthonormality/variance pins this upgrades q_embed_pca from
    * rows-only to a hash-checked oracle.
    */
  def projectDuckSql(table: String, idCol: String, vecCol: String,
                     model: PcaModel, round4: Boolean): String = {
    val dim = model.mean.length
    val comps = model.components.zipWithIndex.map { case (comp, j) =>
      val lit = comp.mkString("[", ", ", "]::DOUBLE[]")
      val offset = comp.zip(model.mean).map { case (c, m) => c * m }.sum
      val dot = s"list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> CAST($vecCol[i] AS DOUBLE) * c.c${j + 1}[i])) - ($offset)"
      // "+ 0" folds -0.0 → +0.0 (see projectWhitenedDuckSql)
      (s"$lit AS c${j + 1}",
        if (round4) s"round($dot, 4) + 0 AS pc${j + 1}" else s"$dot AS pc${j + 1}")
    }
    s"""WITH c AS (SELECT ${comps.map(_._1).mkString(",\n  ")})
       |SELECT $idCol,
       |  ${comps.map(_._2).mkString(",\n  ")}
       |FROM $table, c
       |ORDER BY $idCol""".stripMargin
  }
}
