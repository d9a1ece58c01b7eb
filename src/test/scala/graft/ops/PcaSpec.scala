package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("pc1 recovers the dominant direction of a line-shaped 2D cloud") {
    // points near y = 2x: pc1 must align with (1,2)/√5 and carry ~all
    // the variance
    val pts = (1 to 200).map { i =>
      val t = i / 10.0
      val noise = (i % 7 - 3) * 0.01
      (i.toLong, Seq(t + noise, 2 * t - noise))
    }
    val df = pts.toDF("id", "v")
    val m = Pca.fit(df, "v", k = 2)
    val dir = Array(1.0, 2.0).map(_ / math.sqrt(5.0))
    val cosAlign = math.abs(m.components(0).zip(dir).map { case (a, b) => a * b }.sum)
    cosAlign should be > 0.999
    m.explainedVariance(0) / m.totalVariance should be > 0.999
    // deterministic sign: largest-|coordinate| positive
    m.components(0)(1) should be > 0.0
  }

  test("jacobi handles equal-diagonal covariance (theta == 0 rotation)") {
    // points along y = x: cov = [[v, v], [v, v]] — equal diagonal, so
    // the rotation angle is exactly 45 degrees (theta = 0); a naive
    // signum(0) = 0 would return the identity and eigenvalues [v, v]
    val pts = (1 to 100).map(i => (i.toLong, Seq(i / 10.0, i / 10.0)))
    val m = Pca.fit(pts.toDF("id", "v"), "v", k = 2)
    m.explainedVariance(0) / m.totalVariance should be > 0.999
    m.explainedVariance(1) should be < 1e-9
    val dir = Array(1.0, 1.0).map(_ / math.sqrt(2.0))
    math.abs(m.components(0).zip(dir).map { case (a, b) => a * b }.sum) should be > 0.999
  }

  test("whitened projection has unit population variance per component") {
    // an anisotropic cloud (x-spread 10x the y-spread, rotated by the
    // y=2x mix): after whitening each coordinate must have population
    // variance 1 and the coordinates must be uncorrelated
    val pts = (1 to 400).map { i =>
      val a = (i % 20 - 9.5) * 1.0   // large-variance direction
      val b = (i / 20 % 20 - 9.5) * 0.1 // small-variance direction
      (i.toLong, Seq(a + b, 2 * a - b))
    }
    val df = pts.toDF("id", "v")
    val m = Pca.fit(df, "v", k = 2)
    val w = Pca.projectWhitened(df, "id", "v", m)
      .agg(var_pop(col("w1")).as("v1"), var_pop(col("w2")).as("v2"),
        covar_pop(col("w1"), col("w2")).as("cv"))
      .head()
    w.getDouble(0) shouldBe 1.0 +- 1e-6
    w.getDouble(1) shouldBe 1.0 +- 1e-6
    w.getDouble(2) shouldBe 0.0 +- 1e-6
  }

  test("whitening a zero-variance direction clamps instead of exploding") {
    // y is constant: λ2 = 0 — the whitened w2 must stay finite (the
    // 1e-12 clamp), not blow up to ±inf
    val pts = (1 to 50).map(i => (i.toLong, Seq(i / 5.0, 3.0)))
    val df = pts.toDF("id", "v")
    val m = Pca.fit(df, "v", k = 2)
    val mx = Pca.projectWhitened(df, "id", "v", m)
      .agg(max(abs(col("w2")))).head().getDouble(0)
    mx.isNaN shouldBe false
    mx.isInfinite shouldBe false
  }

  test("effectiveDim: rank-1 cloud ~1, isotropic cloud ~d, constant cloud NULL") {
    // rank-1: every point on the y=2x line
    val line = (1 to 200).map(i => (i.toLong, Seq(i / 10.0, 2 * i / 10.0))).toDF("id", "v")
    val r1 = Pca.effectiveDim(line, "v", dim = 2).head()
    r1.getDouble(3) shouldBe 1.0 +- 0.01
    // isotropic: two independent equal-variance coordinates
    val iso = (0 until 400).map { i =>
      (i.toLong, Seq((i % 20 - 9.5) * 1.0, (i / 20 - 9.5) * 1.0))
    }.toDF("id", "v")
    val r2 = Pca.effectiveDim(iso, "v", dim = 2).head()
    r2.getDouble(3) shouldBe 2.0 +- 0.01
    // fully collapsed: identical vectors -> fro2 = 0 -> NULL, no error
    val const = (1 to 20).map(i => (i.toLong, Seq(1.0, 2.0))).toDF("id", "v")
    Pca.effectiveDim(const, "v", dim = 2).head().isNullAt(3) shouldBe true
  }

  test("fit is deterministic: two fits over the same frame are element-wise identical") {
    // oracles that embed a model refit it from the corpus, so a refit
    // must reproduce the query's own fit bit for bit
    val pts = (1 to 60).map(i => (i.toLong, Seq(i / 3.0, (i % 7).toDouble, (i * i % 11).toDouble)))
    val df = pts.toDF("id", "v").repartition(3)
    val m1 = Pca.fit(df, "v", k = 2)
    val m2 = Pca.fit(df, "v", k = 2)
    m2.mean.toSeq shouldBe m1.mean.toSeq
    m2.components.map(_.toSeq).toSeq shouldBe m1.components.map(_.toSeq).toSeq
    m2.explainedVariance.toSeq shouldBe m1.explainedVariance.toSeq
  }

  test("fit raises a clear error on empty input") {
    val empty = Seq.empty[(Long, Seq[Double])].toDF("id", "v")
    val ex = intercept[IllegalArgumentException](Pca.fit(empty, "v", k = 1))
    ex.getMessage should include("at least 2")
  }

  test("components are orthonormal and variances descend on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val m = Pca.fit(emb, "embedding", k = 4)
    for (i <- 0 until 4; j <- i until 4) {
      val dot = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      if (i == j) dot shouldBe 1.0 +- 1e-9 else dot shouldBe 0.0 +- 1e-9
    }
    m.explainedVariance.toSeq shouldBe m.explainedVariance.sortBy(-_).toSeq
    m.explainedVariance.sum should be <= m.totalVariance + 1e-9
    // projections actually have the variances the model claims
    val proj = Pca.project(emb, "vec_id", "embedding", m)
    val vars = proj.agg(var_pop(col("pc1")), var_pop(col("pc2"))).head()
    vars.getDouble(0) shouldBe m.explainedVariance(0) +- m.explainedVariance(0) * 0.01
    vars.getDouble(1) shouldBe m.explainedVariance(1) +- m.explainedVariance(1) * 0.01
    vars.getDouble(0) should be >= vars.getDouble(1)
  }

  test("fitProject output is map-only over the scan (no shuffle)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val proj = Pca.fitProject(emb, "vec_id", "embedding", k = 2)
    proj.columns.toSeq shouldBe Seq("vec_id", "pc1", "pc2")
    proj.count() shouldBe 500
    // flattenPlan: a bare collect over executedPlan goes vacuous the
    // moment an AQE wrapper appears (it would hide a regression, not
    // catch it)
    val exchanges = flattenPlan(proj.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    exchanges shouldBe empty
  }
}
