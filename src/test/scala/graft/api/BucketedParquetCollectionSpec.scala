package graft.api

import graft.SparkSpec
import graft.query.Filter
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class BucketedParquetCollectionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-bucketed").toString

  private def bucketVersions(root: String): Map[Int, Set[String]] = {
    val d = Paths.get(root)
    val ls = Files.list(d)
    try ls.iterator().asScala
      .filter(_.getFileName.toString.startsWith("b_"))
      .map { p =>
        val vs = Files.list(p)
        val names = try vs.iterator().asScala.map(_.getFileName.toString).toSet
        finally vs.close()
        p.getFileName.toString.drop(2).toInt -> names
      }.toMap
    finally ls.close()
  }

  test("upsert rewrites only the buckets containing upserted keys") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace((1 to 100).map(i => (i, s"name$i")).toDF("id", "name"))
    val before = bucketVersions(root)

    c.upsert(Seq((7, "SEVEN"), (8, "EIGHT")).toDF("id", "name"))
    val after = bucketVersions(root)

    // exactly the buckets of keys 7 and 8 grew a new version dir
    val touched = after.collect { case (b, vs) if vs != before(b) => b }.toSet
    touched should not be empty
    touched.size should be <= 2
    // every untouched bucket kept its directory set bit-identical
    (before.keySet -- touched).foreach { b => after(b) shouldBe before(b) }

    // content equals a straight overwrite
    val got = c.df.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    got.length shouldBe 100
    got(6) shouldBe ((7, "SEVEN"))
    got(7) shouldBe ((8, "EIGHT"))
    got(0) shouldBe ((1, "name1"))
  }

  test("insert appends into only the new rows' buckets; count grows") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace((1 to 50).map(i => (i, i * 10)).toDF("id", "v"))
    val before = bucketVersions(root)
    c.insert(Seq((1001, 1), (1002, 2)).toDF("id", "v"))
    val after = bucketVersions(root)
    val touched = after.collect { case (b, vs) if vs != before.getOrElse(b, Set.empty[String]) => b }.toSet
    touched.size should be <= 2
    c.count() shouldBe 52
    // duplicate pk allowed on insert (reference insert is append)
    c.insert(Seq((1001, 99)).toDF("id", "v"))
    c.count() shouldBe 53
  }

  test("deleteWhere rewrites matching buckets; emptied buckets leave the manifest") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 4)
    c.replace(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "tag"))
    c.deleteWhere(Filter.parse(Map("tag" -> Map("$in" -> Seq("a", "b")))))
    val got = c.df.orderBy("id").collect().map(_.getInt(0))
    got shouldBe Array(3, 4)
    // deleting everything leaves an empty (readable-as-absent) collection
    c.deleteWhere(Filter.True)
    an[Exception] should be thrownBy c.df
  }

  test("findByKey scans a single bucket and returns the row") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace((1 to 100).map(i => (i, s"n$i")).toDF("id", "name"))
    val r = c.findByKey(42).collect()
    r.length shouldBe 1
    r.head.getString(1) shouldBe "n42"
    // the lookup plan reads one bucket directory, not all eight
    val scanned = c.findByKey(42).queryExecution.sparkPlan.toString()
    "b_\\d+".r.findAllIn(scanned).toSet.size shouldBe 1
    c.findByKey(-5).collect() shouldBe empty
  }

  test("df and findByKey read with the declared schema: building them submits no job") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace((1 to 100).map(i => (i, s"n$i")).toDF("id", "name"))
    c.upsert(Seq((7, "SEVEN")).toDF("id", "name"))
    val (all, dfJobs) = jobsIn(c.df)
    dfJobs shouldBe 0
    all.count() shouldBe 100
    val (hit, keyJobs) = jobsIn(c.findByKey(7))
    keyJobs shouldBe 0
    hit.collect().map(_.getString(1)) shouldBe Array("SEVEN")
  }

  test("a widening insert: untouched buckets read null for the new column") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace((1 to 40).map(i => (i, s"n$i")).toDF("id", "name"))
    val before = bucketVersions(root)
    c.insert(Seq((1001, "wide", 3.5)).toDF("id", "name", "score"))
    val after = bucketVersions(root)
    val touched = after.collect { case (b, vs) if vs != before.getOrElse(b, Set.empty[String]) => b }.toSet
    touched.size shouldBe 1
    // the untouched buckets' files predate the column, yet every read
    // of the snapshot carries it
    c.df.columns shouldBe Array("id", "name", "score")
    val byId = c.df.collect().map(r => r.getInt(0) -> Option(r.get(2))).toMap
    byId.size shouldBe 41
    byId(1001) shouldBe Some(3.5)
    (1 to 40).foreach(i => byId(i) shouldBe None)
    c.findByKey(3).collect().head.isNullAt(2) shouldBe true
    c.findByKey(1001).collect().head.getDouble(2) shouldBe 3.5
  }

  test("findByKey casts the lookup literal to the pk type (Int vs bigint pk)") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")) // bigint pk
    // Int lookup value against the Long pk must still land in the right
    // bucket (murmur hash is type-dependent)
    val r = c.findByKey(42).collect()
    r.length shouldBe 1
    r.head.getString(1) shouldBe "n42"
  }

  test("upsert with a mismatched pk type still lands in the right bucket") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")) // bigint pk
    // Int-typed upsert rows: without pk alignment the staged bucket
    // (hash of 42L after union-widening) differed from the touched
    // bucket (hash of 42: int) and the row silently vanished
    c.upsert(Seq((42, "FORTY-TWO")).toDF("id", "name"))
    c.count() shouldBe 100
    c.findByKey(42L).collect().head.getString(1) shouldBe "FORTY-TWO"
    c.df.filter(org.apache.spark.sql.functions.col("id") === 42L).count() shouldBe 1
  }

  test("upsert of k keys rewrites at most k buckets — the 100 TB contract") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 32)
    c.replace((1 to 400).map(i => (i, s"name$i")).toDF("id", "name"))
    val before = bucketVersions(root)
    val ks = Seq(3, 77, 151) // k = 3 upserted keys
    c.upsert(ks.map(i => (i, "X")).toDF("id", "name"))
    val after = bucketVersions(root)
    val touched = after.collect { case (b, vs) if vs != before(b) => b }.toSet
    touched.size should be <= ks.size
    (before.keySet -- touched).foreach(b => after(b) shouldBe before(b))
    c.count() shouldBe 400
  }

  test("update is upsert by pk; delete removes all-column null-safe matches, touching only their buckets") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "tag"))
    c.update(Seq((2, "B")).toDF("id", "tag"))
    c.findByKey(2).collect().head.getString(1) shouldBe "B"
    val before = bucketVersions(root)
    // full-object match: (3, "c") matches, (4, "nope") does not
    c.delete(Seq((3, "c"), (4, "nope")).toDF("id", "tag"))
    val after = bucketVersions(root)
    val touched = after.collect { case (b, vs) if vs != before.getOrElse(b, Set.empty[String]) => b }.toSet
    touched.size should be <= 1
    c.df.orderBy("id").collect().map(_.getInt(0)) shouldBe Array(1, 2, 4)
    // a delete that matches nothing writes nothing
    val v = bucketVersions(root)
    c.delete(Seq((99, "zz")).toDF("id", "tag"))
    bucketVersions(root) shouldBe v
  }

  test("updatePath rewrites matching rows' buckets only") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 8)
    c.replace(Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)).toDF("id", "tag", "score"))
    val before = bucketVersions(root)
    c.updatePath("score", org.apache.spark.sql.functions.lit(99L),
      Filter.parse(Map("tag" -> "b")))
    val after = bucketVersions(root)
    val touched = after.collect { case (b, vs) if vs != before(b) => b }.toSet
    touched.size shouldBe 1
    val got = c.df.orderBy("id").collect().map(r => (r.getInt(0), r.getLong(2)))
    got shouldBe Array((1, 10L), (2, 99L), (3, 30L))
  }

  test("Database creates, lists, and reopens a bucketed collection; the flat accessor rejects it") {
    val root = tmpDir()
    val db = new Database(spark, root, "testdb")
    val c = db.createBucketedCollection("big", (1 to 40).map(i => (i, i * 2)).toDF("id", "v"), "id", nBuckets = 8)
    c.count() shouldBe 40
    db.listCollectionNames should contain("big")
    // reopen from the persisted (pk, nBuckets) meta
    val re = db.bucketedCollection("big")
    re.nBuckets shouldBe 8
    re.pk shouldBe "id"
    re.findByKey(7).collect().head.getInt(1) shouldBe 14
    re.upsert(Seq((7, 700)).toDF("id", "v"))
    db.bucketedCollection("big").findByKey(7).collect().head.getInt(1) shouldBe 700
    an[Exception] should be thrownBy db.collection("big")
  }

  test("vacuum removes unreferenced bucket versions, keeps the live snapshot") {
    val root = tmpDir()
    val c = new BucketedParquetCollection(spark, root, "t", "id", nBuckets = 4)
    c.replace((1 to 20).map(i => (i, i)).toDF("id", "v"))
    c.upsert(Seq((1, 100)).toDF("id", "v"))
    c.upsert(Seq((2, 200)).toDF("id", "v"))
    c.vacuum()
    // every surviving version dir is the one the manifest references
    bucketVersions(root).values.foreach(_.size shouldBe 1)
    // and only the live manifest and its schema file are left
    val meta = Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("_MANIFEST_") || n.startsWith("_SCHEMA_")).toSet
    meta shouldBe Set("_MANIFEST_2", "_SCHEMA_2")
    c.df.count() shouldBe 20
    c.findByKey(1).collect().head.getInt(1) shouldBe 100
  }
}
