package graft.api

import graft.SparkSpec
import graft.query.Filter
import java.nio.file.Files

class ParquetCollectionSpec extends SparkSpec {
  import spark.implicits._

  private def freshColl(): ParquetCollection = {
    val dir = Files.createTempDirectory("graft-crud").toString
    val c = new ParquetCollection(spark, dir, "people")
    c.replace(Seq(
      (1, "alice", 30), (2, "bob", 25), (3, "carol", 41)
    ).toDF("id", "name", "age"))
    c
  }

  test("insert appends rows and null-fills missing columns") {
    val c = freshColl()
    c.insert(Seq((4, "dave")).toDF("id", "name"))
    c.count() shouldBe 4
    c.df.filter($"id" === 4).select("age").collect().head.isNullAt(0) shouldBe true
  }

  test("deleteWhere removes definite matches only (3VL keeps null predicates)") {
    val c = freshColl()
    c.insert(Seq((5, "eve", null.asInstanceOf[Integer])).toDF("id", "name", "age"))
    c.deleteWhere(Filter.gt("age", 28))
    // alice(30) and carol(41) deleted; eve has null age -> kept
    c.df.select("id").as[Int].collect().sorted shouldBe Array(2, 5)
  }

  test("delete removes rows matching all given columns (null-safe)") {
    val c = freshColl()
    c.delete(Seq((1, "alice")).toDF("id", "name"))
    c.df.select("id").as[Int].collect().sorted shouldBe Array(2, 3)
    // non-matching object deletes nothing
    c.delete(Seq((2, "not-bob")).toDF("id", "name"))
    c.count() shouldBe 2
  }

  test("updatePath sets a nested value on matching rows only") {
    val c = freshColl()
    c.updatePath("age", org.apache.spark.sql.functions.lit(99),
      where = Filter.gt("age", 28))
    c.df.orderBy("id").select("age").as[Int].collect() shouldBe Array(99, 25, 99)
    // new nested column: scaffolded for matches, null elsewhere
    c.updatePath("meta.flag", org.apache.spark.sql.functions.lit(true),
      where = Filter.eq("id", 1))
    val rows = c.df.orderBy("id")
      .select($"meta.flag").collect().map(r => Option(r.get(0)))
    rows shouldBe Array(Some(true), None, None)
  }

  test("upsert replaces matching keys and appends new ones") {
    val c = freshColl()
    c.upsert(Seq((2, "bobby", 26), (9, "zoe", 19)).toDF("id", "name", "age"), Seq("id"))
    val rows = c.df.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    rows shouldBe Array((1, "alice", 30), (2, "bobby", 26), (3, "carol", 41), (9, "zoe", 19))
  }

  test("update is upsert by pk") {
    val c = freshColl()
    c.update(Seq((3, "caroline", 42)).toDF("id", "name", "age"), "id")
    c.df.filter($"id" === 3).select("name").as[String].collect() shouldBe Array("caroline")
    c.count() shouldBe 3
  }

  test("replace swaps the whole collection") {
    val c = freshColl()
    c.replace(Seq((100, "x", 1)).toDF("id", "name", "age"))
    c.count() shouldBe 1
  }

  test("snapshot isolation: an old DataFrame handle survives a mutation") {
    val c = freshColl()
    val before = c.df
    c.deleteWhere(Filter.eq("id", 1))
    before.count() shouldBe 3 // old version dir untouched
    c.count() shouldBe 2
  }

  test("vacuum drops all but the current version") {
    val c = freshColl()
    c.insert(Seq((4, "dave", 20)).toDF("id", "name", "age"))
    c.vacuum()
    val dirs = Files.list(java.nio.file.Paths.get(c.root)).toArray.map(_.toString)
    dirs.count(_.contains("v_")) shouldBe 1
    c.count() shouldBe 4 // still readable
  }

  test("df reads the snapshot with its declared schema: building it submits no job") {
    val c = freshColl()
    c.insert(Seq((4, "dave", 20)).toDF("id", "name", "age"))
    val (df, jobs) = jobsIn(c.df)
    jobs shouldBe 0
    df.count() shouldBe 4
  }

  test("partitioned collection prunes partitions on partition-column filters") {
    val dir = Files.createTempDirectory("graft-crud-part").toString
    val c = new ParquetCollection(spark, dir, "orders", partitionBy = Seq("status"))
    c.replace(Seq(
      (1, "open", 10.0), (2, "closed", 20.0), (3, "open", 30.0), (4, "pending", 5.0)
    ).toDF("id", "status", "amount"))
    // partition directories exist
    val vdir = Files.list(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString.startsWith("v_")).findFirst().get
    Files.exists(vdir.resolve("status=open")) shouldBe true
    // a filter on the partition column becomes a PartitionFilter (no data read for other partitions)
    val plan = c.df.filter($"status" === "open").queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include regex """\(status#\d+ = open\)"""
    c.df.filter($"status" === "open").count() shouldBe 2
    // mutations keep the partitioned layout
    c.upsert(Seq((5, "open", 7.5)).toDF("id", "status", "amount"), Seq("id"))
    c.df.filter($"status" === "open").count() shouldBe 3
  }

  test("importFile appends and exportFile round-trips via the format registry") {
    val c = freshColl()
    val dir = Files.createTempDirectory("graft-io-coll")
    val csv = dir.resolve("extra.csv").toString
    Seq((7, "gail", 33)).toDF("id", "name", "age")
      .coalesce(1).write.option("header", "true").csv(csv)
    c.importFile(csv, "csv")
    c.count() shouldBe 4
    val out = dir.resolve("dump.jsonl").toString
    c.exportFile(out, "jsonl")
    spark.read.json(out).count() shouldBe 4
  }

  test("find compiles Mongo filters against the current snapshot") {
    val c = freshColl()
    c.find(Filter.parse(Map("age" -> Map("$gte" -> 30))))
      .select("id").as[Int].collect().sorted shouldBe Array(1, 3)
  }

  test("attachIndex materializes a shadow index that search scans; reindex refreshes") {
    val dir = Files.createTempDirectory("graft-idx").toString
    val c = new ParquetCollection(spark, dir, "docs")
    c.replace(Seq(
      (1, "spark is fast"), (2, "ducks swim in ponds"), (3, "spark is fast")
    ).toDF("doc_id", "text"))

    // search without an index: inline build, still correct
    val r0 = c.search("doc_id", "text", "spark is fast", k = 2)
      .collect().map(_.getInt(0)).sorted
    r0 shouldBe Array(1, 3)

    c.attachIndex("doc_id", "text")
    // the shadow collection exists on disk as versioned parquet
    Files.exists(java.nio.file.Paths.get(dir, "_index_text", "_CURRENT")) shouldBe true
    val r1 = c.search("doc_id", "text", "spark is fast", k = 2)
      .collect().map(_.getInt(0)).sorted
    r1 shouldBe Array(1, 3)

    // a mutation + reindex is reflected in search results
    c.insert(Seq((4, "spark is fast")).toDF("doc_id", "text"))
    c.indexObjects("doc_id", "text")
    val r2 = c.search("doc_id", "text", "spark is fast", k = 3)
      .collect().map(_.getInt(0)).sorted
    r2 shouldBe Array(1, 3, 4)

    // stale-index semantics: the mutation bumps the snapshot version,
    // so the materialized postings are IGNORED and the inline fallback
    // over the current snapshot serves — the new row is visible even
    // before reindex (correctness over scan cost)
    c.insert(Seq((5, "spark is fast")).toDF("doc_id", "text"))
    c.search("doc_id", "text", "spark is fast", k = 5)
      .collect().map(_.getInt(0)).sorted shouldBe Array(1, 3, 4, 5)
  }

  test("a materialized no-template index never serves a templated search") {
    val dir = Files.createTempDirectory("graft-idx2").toString
    val c = new ParquetCollection(spark, dir, "docs")
    c.replace(Seq(
      (1, "alpha", "zebra stripes everywhere"), // zebra only in BODY
      (2, "zebra", "plain text without animals") // zebra only in TITLE
    ).toDF("doc_id", "title", "body"))
    // materialize the attrs-only rendering ("title: ...; body: ...")
    c.attachIndex("doc_id", Seq("title", "body"))
    // a TEMPLATE search over the same attrs renders "{title}" only —
    // it must NOT reuse the materialized no-template postings (doc 1
    // matches only through body, which the template excludes)
    val r = c.search("doc_id", Seq("title", "body"), "zebra", 2, Some("{title}"))
      .collect().map(_.getInt(0))
    r shouldBe Array(2)
  }

  test("a mutation makes indexes stale: text search falls back fresh, vector search fails loud") {
    val dir = Files.createTempDirectory("graft-stale").toString
    val c = new ParquetCollection(spark, dir, "docs")
    c.replace(Seq((1L, "spark streams fast", Array(1.0f, 0.0f)),
      (2L, "ducks swim in ponds", Array(0.0f, 1.0f)))
      .toDF("doc_id", "text", "embedding"))
    c.attachIndex("doc_id", "text")
    c.attachVectorIndex("doc_id", "embedding", nCells = 2)
    // sanity: both serve
    c.search("doc_id", "text", "spark streams", k = 2).collect() should not be empty
    c.searchVector("embedding", Seq(1.0, 0.0), k = 1).collect() should not be empty

    c.insert(Seq((3L, "spark streams quack", Array(0.9f, 0.1f)))
      .toDF("doc_id", "text", "embedding"))
    // text search: the stale postings are NOT consulted — the inline
    // fallback over the current snapshot finds the NEW doc
    val ids = c.search("doc_id", "text", "spark streams", k = 3)
      .collect().map(_.getLong(0)).toSet
    ids should contain(3L)
    // vector search: wrong results are refused, not served
    val e1 = the[IllegalArgumentException] thrownBy
      c.searchVector("embedding", Seq(1.0, 0.0), k = 1)
    e1.getMessage should include("STALE")
    // re-attach restores both materialized paths
    c.attachIndex("doc_id", "text")
    c.attachVectorIndex("doc_id", "embedding", nCells = 2)
    c.search("doc_id", "text", "spark streams", k = 3)
      .collect().map(_.getLong(0)).toSet should contain(3L)
    c.searchVector("embedding", Seq(1.0, 0.0), k = 3)
      .collect().map(_.getLong(0)) should contain(3L)
  }

  test("search where= scores only the matching slice; filter reaches PushedFilters") {
    val dir = Files.createTempDirectory("graft-idx3").toString
    val c = new ParquetCollection(spark, dir, "docs")
    c.replace(Seq(
      (1, "spark is fast", "keep"),
      (2, "spark is fast", "drop"), // best text match but excluded by where
      (3, "ducks swim in ponds", "keep")
    ).toDF("doc_id", "text", "tag"))
    val where = Filter.parse(Map("tag" -> "keep"))

    // inline-index path: the pre-filter restricts the scored slice
    val r = c.search("doc_id", "text", "spark is fast", k = 5, where = where)
    r.collect().map(_.getInt(0)) should contain(1)
    r.collect().map(_.getInt(0)) should not contain 2
    // the bound predicate must land on the parquet scan, not above it
    val pushed = r.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "[]")
    }
    pushed.exists(_.contains("tag")) shouldBe true

    // materialized path: postings restricted via left-semi on the slice
    c.attachIndex("doc_id", "text")
    val r2 = c.search("doc_id", "text", "spark is fast", k = 5, where = where)
    r2.collect().map(_.getInt(0)) should contain(1)
    r2.collect().map(_.getInt(0)) should not contain 2

    // selectCols joins data columns back; rank column keeps its place
    val r3 = c.search("doc_id", "text", "spark is fast", k = 5,
      where = where, selectCols = Seq("tag"))
    r3.columns.toSeq shouldBe Seq("doc_id", "tag", "score")
    val top = r3.collect().head
    top.getInt(0) shouldBe 1
    top.getString(1) shouldBe "keep"
  }
}
