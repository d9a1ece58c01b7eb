package graft.io

import graft.SparkSpec
import graft.api.{BucketedParquetCollection, ParquetCollection}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema parity: every directory graft writes declares exactly the
  * schema Spark's inference reads it back with (for bucketed
  * collections, the `mergeSchema` read of the live buckets), so reading
  * with the declared schema changes no result — it only drops the
  * inference job. Also pins the legacy fallback and the append guard.
  */
class ParquetDirSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def inferred(dir: String): StructType = spark.read.parquet(dir).schema

  /** Sidecar present, and the declared read equals the inferred one. */
  private def parity(dir: String): Unit = withClue(s"$dir: ") {
    val side = ParquetDir.loadSchema(Paths.get(dir, ParquetDir.SchemaFile))
    side shouldBe defined
    ParquetDir.read(spark, dir).schema shouldBe inferred(dir)
    side.get shouldBe inferred(dir)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def current(root: String): Int =
    Files.readString(Paths.get(root, "_CURRENT")).trim.toInt

  private lazy val nested: DataFrame = Seq(
    (1, ("a", 1.5), Seq(1, 2), Map("k" -> 1L), java.sql.Date.valueOf("2024-01-02"),
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), Seq(("x", Seq(1.0)))),
    (2, ("b", 2.5), Seq.empty[Int], Map.empty[String, Long], java.sql.Date.valueOf("2024-02-03"),
      java.sql.Timestamp.valueOf("2024-02-03 04:05:06"), Seq.empty[(String, Seq[Double])])
  ).toDF("id", "s", "arr", "m", "d", "ts", "items")

  test("nested struct, array, map, date and timestamp columns declare the inferred schema") {
    val c = new ParquetCollection(spark, tmp("pd-nested"), "t")
    c.replace(nested)
    parity(s"${c.root}/v_${current(c.root)}")
    rows(c.df) shouldBe rows(spark.read.parquet(s"${c.root}/v_${current(c.root)}"))
  }

  test("a widening insert on a ParquetCollection declares the widened schema") {
    val c = new ParquetCollection(spark, tmp("pd-widen"), "t")
    c.replace(Seq((1, "a")).toDF("id", "name"))
    c.insert(Seq((2, "b", 7L)).toDF("id", "name", "extra"))
    parity(s"${c.root}/v_${current(c.root)}")
    c.df.orderBy("id").collect().map(r => Option(r.get(2))) shouldBe Array(None, Some(7L))
  }

  test("a user-partitioned ParquetCollection declares the inferred partition types") {
    // the long partition column reads back as int: its type is resolved
    // once after the commit, not taken from the writer
    val c = new ParquetCollection(spark, tmp("pd-part"), "t", partitionBy = Seq("region", "yr"))
    c.replace(Seq((1, "eu", 2024L, 1.0), (2, "us", 2025L, 2.0)).toDF("id", "region", "yr", "v"))
    val dir = s"${c.root}/v_${current(c.root)}"
    parity(dir)
    inferred(dir).fieldNames shouldBe Array("id", "v", "region", "yr")
    c.upsert(Seq((3, "eu", 2024L, 3.0)).toDF("id", "region", "yr", "v"), Seq("id"))
    parity(s"${c.root}/v_${current(c.root)}")
    c.df.filter($"region" === "eu").count() shouldBe 2
  }

  /** The buckets manifest v pins, read with mergeSchema. */
  private def merged(root: String): DataFrame = {
    val v = current(root)
    val paths = Files.readString(Paths.get(root, s"_MANIFEST_$v")).linesIterator
      .filter(_.nonEmpty).map { l => val Array(b, bv) = l.split(","); s"$root/b_$b/v_$bv" }.toSeq
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  test("bucketed collections declare the mergeSchema union, nested widening included") {
    val c = new BucketedParquetCollection(spark, tmp("pd-bucketed"), "t", "id", nBuckets = 8)
    c.replace((1 to 40).map(i => (i, (s"n$i", i))).toDF("id", "s"))
    c.df.schema shouldBe merged(c.root).schema
    // top-level and nested widening in one insert touching few buckets
    val wide = Seq((100, ("x", 1, true), 9.5)).toDF("id", "s", "w")
      .withColumn("s", struct(col("s._1").as("_1"), col("s._2").as("_2"), col("s._3").as("_3")))
    c.insert(wide)
    c.df.schema shouldBe merged(c.root).schema
    rows(c.df) shouldBe rows(merged(c.root))
    c.upsert(Seq((5, ("five", 5), 1.0)).toDF("id", "s", "w"))
    c.df.schema shouldBe merged(c.root).schema
    rows(c.df) shouldBe rows(merged(c.root))
    c.findByKey(100).collect().head.getDouble(2) shouldBe 9.5
  }

  test("BM25, IVF, IVF-PQ and signature indexes declare the inferred schemas after build and append") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta epsilon"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val more = Seq((4L, "alpha beta gamma kappa")).toDF("doc_id", "text")

    val bm = tmp("pd-bm25")
    graft.index.Bm25Index.build(docs, "doc_id", "text", bm, nBuckets = 8)
    Seq("postings", "meta").foreach(d => parity(s"$bm/$d"))
    graft.index.Bm25Index.append(more, "doc_id", "text", bm)
    Seq("postings", "meta").foreach(d => parity(s"$bm/$d"))

    val sig = tmp("pd-sig")
    graft.dedup.SignatureIndex.build(docs, "doc_id", "text", sig)
    Seq("bands", "shingles").foreach(d => parity(s"$sig/$d"))
    graft.dedup.SignatureIndex.append(more, "doc_id", "text", sig)
    Seq("bands", "shingles").foreach(d => parity(s"$sig/$d"))

    val rnd = new scala.util.Random(7)
    val vecs = (1 to 60).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian()))).toDF("id", "v")
    val ivf = tmp("pd-ivf")
    graft.ann.IvfIndex.build(vecs, "id", "v", 4, ivf)
    Seq("centroids", "cells").foreach(d => parity(s"$ivf/$d"))
    graft.ann.IvfIndex.append(vecs.limit(5).withColumn("id", col("id") + 1000), "id", "v", ivf)
    Seq("centroids", "cells").foreach(d => parity(s"$ivf/$d"))

    val pq = tmp("pd-ivfpq")
    graft.ann.IvfPqIndex.build(vecs, "id", "v", pq, nCells = 2, m = 2, ks = 4)
    Seq("centroids", "pq", "cells").foreach(d => parity(s"$pq/$d"))
  }

  test("a legacy snapshot without a sidecar reads the same rows through inference") {
    val c = new ParquetCollection(spark, tmp("pd-legacy"), "t")
    c.replace(nested)
    val before = rows(c.df)
    Files.delete(Paths.get(s"${c.root}/v_${current(c.root)}", ParquetDir.SchemaFile))
    rows(c.df) shouldBe before
    c.df.schema shouldBe inferred(s"${c.root}/v_${current(c.root)}")
    // the next commit records a sidecar again
    c.insert(nested.limit(1))
    parity(s"${c.root}/v_${current(c.root)}")

    val b = new BucketedParquetCollection(spark, tmp("pd-legacy-b"), "t", "id", nBuckets = 4)
    b.replace((1 to 20).map(i => (i, s"n$i")).toDF("id", "name"))
    b.insert(Seq((21, "n21", 2.0)).toDF("id", "name", "w"))
    val bBefore = rows(b.df)
    val bSchema = Paths.get(b.root, s"_SCHEMA_${current(b.root)}")
    Files.delete(bSchema)
    // the first read of the legacy manifest infers each live bucket
    // once and records the union beside it; later reads infer nothing
    val live = Files.readString(Paths.get(b.root, s"_MANIFEST_${current(b.root)}"))
      .linesIterator.count(_.nonEmpty)
    val (first, firstJobs) = jobsIn(b.df)
    firstJobs shouldBe live
    first.schema shouldBe merged(b.root).schema
    ParquetDir.loadSchema(bSchema) shouldBe Some(first.schema)
    jobsIn(b.df)._2 shouldBe 0
    jobsIn(b.findByKey(21))._2 shouldBe 0
    rows(b.df) shouldBe bBefore
    b.findByKey(21).count() shouldBe 1

    // an append into a legacy index directory stays legacy
    val bm = tmp("pd-legacy-bm25")
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    graft.index.Bm25Index.build(docs, "doc_id", "text", bm, nBuckets = 4)
    Seq("postings", "meta").foreach(d => Files.delete(Paths.get(bm, d, ParquetDir.SchemaFile)))
    graft.index.Bm25Index.append(Seq((3L, "beta delta")).toDF("doc_id", "text"), "doc_id", "text", bm)
    Files.exists(Paths.get(bm, "postings", ParquetDir.SchemaFile)) shouldBe false
    graft.index.Bm25Index.search(spark, bm, "beta", k = 5).count() shouldBe 3
  }

  test("an append whose schema differs from the declared one fails before writing") {
    val dir = tmp("pd-append") + "/d"
    ParquetDir.write(Seq((1L, "a")).toDF("id", "s"), dir, "overwrite")
    val before = rows(ParquetDir.read(spark, dir))
    val e = the[IllegalArgumentException] thrownBy
      ParquetDir.write(Seq((2, "b")).toDF("id", "s"), dir, "append")
    e.getMessage should include("differs from the directory's declared")
    rows(ParquetDir.read(spark, dir)) shouldBe before
    ParquetDir.write(Seq((3L, "c")).toDF("id", "s"), dir, "append")
    ParquetDir.read(spark, dir).count() shouldBe 2
    parity(dir)
  }

  test("reading a directory with its sidecar submits no job; inference does") {
    val dir = tmp("pd-jobs") + "/d"
    ParquetDir.write(Seq((1, "a")).toDF("id", "s"), dir, "overwrite")
    jobsIn(ParquetDir.read(spark, dir))._2 shouldBe 0
    jobsIn(spark.read.parquet(dir))._2 should be >= 1
  }
}
