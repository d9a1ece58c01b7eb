package graft.index

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index: bit-identical parity with the
  * scan-time [[Bm25.search]], planner partition pruning to the query
  * terms' buckets, and ingest-only incremental appends — the same
  * contract trio IvfIndexSpec pins for the vector index.
  */
class Bm25IndexSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def searchPairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("indexed search is bit-identical to scan-time Bm25.search") {
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    Bm25Index.build(docs, "doc_id", "text", dir, nBuckets = 64)
    for (q <- Seq("table", "table scan merge", "window agg join sort")) {
      val got = searchPairs(Bm25Index.search(spark, dir, q, k = 10))
      val want = searchPairs(Bm25.search(docs, "doc_id", "text", q, k = 10))
      withClue(s"query '$q': ") { got shouldBe want }
    }
  }

  test("a term absent from the corpus matches the scan-time df=0 path") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_abs").toString
    Bm25Index.build(docs, "doc_id", "text", dir, nBuckets = 64)
    val q = "table zzznotaword"
    searchPairs(Bm25Index.search(spark, dir, q, k = 5)) shouldBe
      searchPairs(Bm25.search(docs, "doc_id", "text", q, k = 5))
  }

  test("probe plans a partition-pruned scan of the term buckets") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_prune").toString
    Bm25Index.build(docs, "doc_id", "text", dir, nBuckets = 64)
    val probe = Bm25Index.search(spark, dir, "table scan", k = 5)
    // the scoring plan aggregates (exchanges ⇒ AQE wrapper), so a naive
    // plan.collect sees nothing inside — flatten through the boundaries
    val scans = flattenPlan(probe.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("postings")) => s
    }
    scans should not be empty
    // the bucket filter must reach the PARTITION level (planner prunes
    // directories), not sit above the scan as a data filter
    scans.head.partitionFilters should not be empty
    // two terms hash to at most two of the 64 bucket directories
    scans.head.relation.location.listFiles(scans.head.partitionFilters, Nil)
      .size should be <= 2
  }

  test("search reads postings and meta with their declared schemas: no inference job") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_jobs").toString
    Bm25Index.build(docs, "doc_id", "text", dir, nBuckets = 64)
    Seq("postings", "meta").foreach { d =>
      jobsIn(graft.io.ParquetDir.read(spark, s"$dir/$d"))._2 shouldBe 0
    }
    // what remains are the two bounded collects (meta sum, document
    // frequencies), each a shuffle stage plus its result stage
    jobsIn(Bm25Index.search(spark, dir, "table scan merge", k = 10))._2 shouldBe 4
  }

  test("append ingests a delta without touching standing postings; search equals a rebuild") {
    import scala.jdk.CollectionConverters._
    def filesUnder(p: String): Set[String] =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f))
        .map(_.toString).filter(_.endsWith(".parquet")).toSet

    val standing = docs.filter(col("doc_id") < 400L)
    val delta = docs.filter(col("doc_id") >= 400L)
    val dirA = java.nio.file.Files.createTempDirectory("bm25_app").toString
    Bm25Index.build(standing, "doc_id", "text", dirA, nBuckets = 64)

    val before = filesUnder(s"$dirA/postings")
    Bm25Index.append(delta, "doc_id", "text", dirA)
    val after = filesUnder(s"$dirA/postings")
    before.subsetOf(after) shouldBe true
    (after -- before) should not be empty

    // the merged index answers like a from-scratch rebuild on the
    // union — and like the scan-time tier over the full corpus
    val q = "table scan merge"
    val got = searchPairs(Bm25Index.search(spark, dirA, q, k = 10))
    got shouldBe searchPairs(Bm25.search(docs, "doc_id", "text", q, k = 10))
  }

  test("collection surface: attach, search, indexed ingest, stale guard") {
    val root = java.nio.file.Files.createTempDirectory("bm25_coll").toString
    val coll = new graft.api.ParquetCollection(spark, root, "docs")
    coll.replace(docs.filter(col("doc_id") < 400L))
    coll.attachBm25Index("doc_id", "text")
    // indexed ingest keeps the index fresh and the answers whole-corpus
    coll.insertBm25Indexed(docs.filter(col("doc_id") >= 400L), "doc_id", "text")
    searchPairs(coll.searchBm25Indexed("text", "table scan", k = 10)) shouldBe
      searchPairs(Bm25.search(docs, "doc_id", "text", "table scan", k = 10))
    // a mutation OUTSIDE the indexed-ingest path staleness-guards
    coll.insert(docs.limit(1).withColumn("doc_id", col("doc_id") + 100000L))
    an[IllegalArgumentException] should be thrownBy
      coll.searchBm25Indexed("text", "table", k = 5)
  }
}
