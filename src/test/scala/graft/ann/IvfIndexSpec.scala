package graft.ann

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Persisted IVF index: parity with the scan-time [[Knn.ivfTopK]] and
  * the plan-level guarantee that probes prune to nProbe cell
  * partitions (the point of persisting the index).
  */
class IvfIndexSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("persisted probe matches scan-time ivfTopK on real embeddings") {
    val root = java.nio.file.Files.createTempDirectory("ivf").toString
    val coll = new graft.api.ParquetCollection(spark, root, "emb")
    coll.replace(emb)
    // untrained = the same first-k-by-id quantizer ivfTopK plans with,
    // so parity is exact (the trained default is pinned by KMeansSpec)
    coll.attachVectorIndex("vec_id", "embedding", nCells = 16, trained = false)

    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0)
    val got = coll.searchVector("embedding", qv, k = 11, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._1 != 0L).take(10) // ivfTopK excludes the query row
    val want = Knn.ivfTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10,
      nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    got shouldBe want
  }

  test("probe plans a partition-pruned scan of the cell directories") {
    val root = java.nio.file.Files.createTempDirectory("ivf2").toString
    val coll = new graft.api.ParquetCollection(spark, root, "emb")
    coll.replace(emb)
    coll.attachVectorIndex("vec_id", "embedding", nCells = 16)
    val qv = Seq.fill(64)(0.1)
    val probe = coll.searchVector("embedding", qv, k = 5, nProbe = 4)
    val scans = probe.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains("cells")) => s
    }
    scans should not be empty
    // the cell filter must reach the PARTITION level (planner prunes
    // directories), not sit above the scan as a data filter
    scans.head.partitionFilters should not be empty
    // and only nProbe of the nCells partitions survive pruning
    scans.head.relation.location.listFiles(scans.head.partitionFilters, Nil)
      .size should be <= 4
  }

  test("probe reads centroids and cells with their declared schemas: no inference job") {
    val root = java.nio.file.Files.createTempDirectory("ivf_jobs").toString
    val coll = new graft.api.ParquetCollection(spark, root, "emb")
    coll.replace(emb)
    coll.attachVectorIndex("vec_id", "embedding", nCells = 16, trained = false)
    val dir = s"$root/_vindex_embedding"
    Seq("centroids", "cells").foreach { d =>
      jobsIn(graft.io.ParquetDir.read(spark, s"$dir/$d"))._2 shouldBe 0
    }
    // what remains is the bounded codebook collect
    jobsIn(IvfIndex.probe(spark, dir, Seq.fill(64)(0.1), k = 5))._2 shouldBe 1
  }

  test("append ingests a delta without touching the standing cells; probe equals a rebuild") {
    import scala.jdk.CollectionConverters._
    def filesUnder(p: String): Set[String] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(_.toString).filter(_.endsWith(".parquet")).toSet

    val standing = emb.filter(col("vec_id") < 400L)
    val delta = emb.filter(col("vec_id") >= 400L)
    val dirA = java.nio.file.Files.createTempDirectory("ivf_app").toString
    IvfIndex.build(standing, "vec_id", "embedding", nCells = 16, dir = dirA)

    val before = filesUnder(s"$dirA/cells")
    IvfIndex.append(delta, "vec_id", "embedding", dirA)
    val after = filesUnder(s"$dirA/cells")
    // ingest-only contract: every standing file is still there,
    // untouched; the delta arrives purely as new files
    before.subsetOf(after) shouldBe true
    (after -- before) should not be empty

    // placement is deterministic from the persisted codebook, so the
    // appended index IS the from-scratch rebuild on the union
    val cent = spark.read.parquet(s"$dirA/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val dirB = java.nio.file.Files.createTempDirectory("ivf_reb").toString
    IvfIndex.build(standing.unionByName(delta), "vec_id", "embedding", cent, dirB)
    val qv = emb.filter(col("vec_id") === 450L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val gotA = IvfIndex.probe(spark, dirA, qv, k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotB = IvfIndex.probe(spark, dirB, qv, k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    gotA shouldBe gotB
    // the delta's own neighborhood is findable through the probe
    gotA.map(_._1) should contain(450L)
  }

  test("ids beyond Int.MaxValue: build, append and probe; cells stay int") {
    val shift = 3000000000L
    val big = emb.withColumn("vec_id", col("vec_id") + shift)
    val qv = emb.filter(col("vec_id") === 450L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    def probe(dir: String, k: Int = 10) = IvfIndex.probe(spark, dir, qv, k, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // the default quantizer's centroids are rows with large ids; the
    // cells are keyed by their positions, so a probe still matches the
    // scan-time tier on the same ids
    val full = java.nio.file.Files.createTempDirectory("ivf_big").toString
    IvfIndex.build(big, "vec_id", "embedding", nCells = 16, dir = full)
    spark.read.parquet(s"$full/cells").schema("__cell").dataType shouldBe
      org.apache.spark.sql.types.IntegerType
    jobsIn(graft.io.ParquetDir.read(spark, s"$full/cells"))._2 shouldBe 0
    val want = Knn.ivfTopK(big, "vec_id", "embedding", queryId = 450L + shift, k = 10,
      nCells = 16, nProbe = 4).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    probe(full, k = 11).filter(_._1 != 450L + shift).take(10) shouldBe want

    val dirA = java.nio.file.Files.createTempDirectory("ivf_big_app").toString
    IvfIndex.build(big.filter(col("vec_id") < shift + 400L), "vec_id", "embedding",
      nCells = 16, dir = dirA)
    IvfIndex.append(big.filter(col("vec_id") >= shift + 400L), "vec_id", "embedding", dirA)
    graft.io.ParquetDir.read(spark, s"$dirA/cells").schema shouldBe
      spark.read.parquet(s"$dirA/cells").schema
    val dirB = java.nio.file.Files.createTempDirectory("ivf_big_reb").toString
    IvfIndex.build(big, "vec_id", "embedding", IvfIndex.centroids(spark, dirA), dirB)
    probe(dirA) shouldBe probe(dirB)
    probe(dirA).map(_._1) should contain(450L + shift)
  }

  test("an index whose cells are keyed by large row ids still appends and probes") {
    // the layout before centroids were stored by position: cid = row id,
    // long cell directories, no schema sidecars
    val shift = 3000000000L
    val e = emb.select((col("vec_id") + shift).as("id"),
      col("embedding").cast("array<double>").as("__v"))
    val cent = e.orderBy("id").limit(16).collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val dir = java.nio.file.Files.createTempDirectory("ivf_legacy").toString
    import spark.implicits._
    cent.toSeq.toDF("cid", "vec").write.parquet(s"$dir/centroids")
    e.filter(col("id") < shift + 400L).withColumn("__cell", Knn.ivfCellExpr(cent))
      .write.partitionBy("__cell").parquet(s"$dir/cells")
    IvfIndex.append(emb.filter(col("vec_id") >= 400L)
      .withColumn("vec_id", col("vec_id") + shift), "vec_id", "embedding", dir)
    val qv = emb.filter(col("vec_id") === 450L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val got = IvfIndex.probe(spark, dir, qv, k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("ivf_legacy_reb").toString
    IvfIndex.build(e, "id", "__v", cent, rebuilt)
    got shouldBe IvfIndex.probe(spark, rebuilt, qv, k = 10, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cells", "_SCHEMA")) shouldBe false
  }

  test("insertIndexed appends corpus + index together and keeps probes fresh") {
    val root = java.nio.file.Files.createTempDirectory("ivf_ins").toString
    val coll = new graft.api.ParquetCollection(spark, root, "emb")
    coll.replace(emb.filter(col("vec_id") < 400L))
    coll.attachVectorIndex("vec_id", "embedding", nCells = 16, trained = false)
    val delta = emb.filter(col("vec_id") >= 400L)
    coll.insertIndexed(delta, "vec_id", "embedding")
    coll.df.count() shouldBe 500L
    val qv = emb.filter(col("vec_id") === 450L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    // no rebuild needed: the probe is fresh and sees the delta
    val got = coll.searchVector("embedding", qv, k = 5, nProbe = 4)
      .collect().map(_.getLong(0))
    got should contain(450L)
    // a plain insert WITHOUT index ingest leaves the index stale
    coll.insert(delta.withColumn("vec_id", col("vec_id") + 1000L))
    an[IllegalArgumentException] should be thrownBy
      coll.searchVector("embedding", qv, k = 5)
  }

  test("searchVector without an index raises") {
    val root = java.nio.file.Files.createTempDirectory("ivf3").toString
    val coll = new graft.api.ParquetCollection(spark, root, "emb")
    coll.replace(emb)
    an[IllegalArgumentException] should be thrownBy
      coll.searchVector("embedding", Seq(1.0), k = 3)
  }
}
