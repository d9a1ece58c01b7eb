package graft.api

import graft.SparkSpec
import graft.query.Filter

class CollectionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val coll = new Collection("orders", Seq(
    (1, "open", 100.0), (2, "closed", 250.0), (3, "open", 50.0),
    (4, "open", 300.0), (5, "closed", 150.0)
  ).toDF("id", "status", "amount"))

  test("find with where + projection + sort + limit + offset") {
    val r = coll.find(
      where = Filter.eq("status", "open"),
      selectCols = Seq("id", "amount"),
      sortBy = Seq(SortKey("amount", ascending = false)),
      limit = 2, offset = 1)
    r.columns shouldBe Array("id", "amount")
    r.select("id").as[Int].collect() shouldBe Array(1, 3)
  }

  test("query executes the full Query object: rows, total count, facets") {
    val r = coll.query(Query(
      where = Filter.eq("status", "open"),
      selectCols = Seq("id", "amount"),
      sortBy = Seq(SortKey("amount", ascending = false)),
      limit = 2,
      facetSlots = Seq("status")))
    // numRows is the TOTAL match count, not the limited page
    r.numRows shouldBe 3
    r.rows.select("id").as[Int].collect() shouldBe Array(4, 1)
    // facet slot constrained by the where gets exclusion semantics:
    // counts are over ALL statuses, not just 'open'
    val f = r.facetCounts("status").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    f shouldBe Map("open" -> 3L, "closed" -> 2L)
  }

  test("each facet slot holds its batched rows and collects without a job") {
    val slots = Seq("status", "amount")
    val where = Filter.eq("status", "open")
    val r = coll.query(Query(where = where, facetSlots = slots))
    val batched = coll.facetsBatched(slots, where).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2))).sorted
    val perSlot = slots.flatMap { s =>
      val (rows, jobs) = jobsIn(r.facetCounts(s).collect())
      jobs shouldBe 0
      rows.map(x => (s, x.getString(0), x.getLong(1)))
    }.sorted
    perSlot shouldBe batched
  }

  test("find with Mongo map") {
    coll.find(Map("amount" -> Map("$gte" -> 150.0)))
      .select("id").as[Int].collect().sorted shouldBe Array(2, 4, 5)
  }

  test("get by ids") {
    coll.get("id", Seq(2, 4)).select("id").as[Int].collect().sorted shouldBe Array(2, 4)
  }

  test("count and peek") {
    coll.count() shouldBe 5
    coll.count(Filter.eq("status", "open")) shouldBe 3
    coll.peek(2).count() shouldBe 2
  }

  test("distinct values") {
    coll.distinctValues(Seq("status")).as[String].collect().sorted shouldBe
      Array("closed", "open")
  }

  test("findIter streams matching rows") {
    val it = coll.findIter(Filter.eq("status", "open"))
    it.map(_.getAs[Int]("id")).toSeq.sorted shouldBe Seq(1, 3, 4)
  }

  test("sort key parsing: '-col' is descending") {
    SortKey.parse("-amount") shouldBe SortKey("amount", ascending = false)
    SortKey.parse("amount") shouldBe SortKey("amount", ascending = true)
  }

  test("groupByNested nests non-key fields as structs") {
    val r = coll.groupByNested(Seq("status"), "objects")
      .orderBy("status").collect()
    r.map(_.getString(0)) shouldBe Array("closed", "open")
    r.map(_.getSeq[Any](1).size) shouldBe Array(2, 3)
  }

  test("groupByNested with firstFields and explicit listFields") {
    val r = coll.groupByNested(Seq("status"), "objs",
      firstFields = Seq("amount"), listFields = Seq("id"))
      .orderBy("status").collect()
    // struct list only contains the requested field
    r.head.schema.fieldNames should contain allOf ("status", "amount", "objs")
  }

  test("dedupe keeps one representative per near-dup cluster") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      // near-dup of 1: one appended token -> shingle Jaccard 7/8
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "an entirely different document about spark engines"),
      (5L, "completely unrelated text with fresh words only")
    ).toDF("doc_id", "text")
    val scope = new graft.api.CacheScope
    val kept = new Collection("docs", docs).dedupe("doc_id", "text",
      threshold = 0.5, scope = scope)
      .select("doc_id").as[Long].collect().sorted
    scope.release()
    kept shouldBe Array(1L, 4L, 5L) // 2 and 3 fold into cluster min 1
  }

  test("dedupeKeepBest keeps the best-scoring cluster member, not the min id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (3L, "an entirely different document about spark engines")
    ).toDF("doc_id", "text")
    val scope = new graft.api.CacheScope
    // score doc 2 higher: keepBest must keep 2 and drop 1 (dedupe
    // would keep min-id 1)
    val kept = new Collection("docs", docs)
      .dedupeKeepBest("doc_id", "text", score = col("doc_id").cast("double"),
        scope = scope)
      .select("doc_id").as[Long].collect().sorted
    scope.release()
    kept shouldBe Array(2L, 3L)
  }

  test("splitAssign / shardAssign / searchQuality compose on the collection") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, s"document number token$i " + (1 to 6).map(j => s"w${i}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val c = new Collection("docs", docs)
    val split = c.splitAssign("doc_id", valPm = 250, testPm = 250, salt = "s")
    split.count() shouldBe 40L
    split.select("split").distinct().count() should be >= 2L
    val shards = c.shardAssign("doc_id", "text", shardTokens = 50L)
    shards.select("shard").distinct().count() should be >= 2L
    shards.agg(org.apache.spark.sql.functions.sum("n_toks")).head().getLong(0) shouldBe
      docs.select(org.apache.spark.sql.functions.sum(
        graft.text.TextFunctions.wsTokenCount($"text").cast("long"))).head().getLong(0)
    // each doc's opening tokens are distinctive -> self-retrieval at 1
    val mrr = c.searchQuality("doc_id", "text", probeIds = Seq(5L, 20L), nTerms = 4)
      .select("rr").as[Double].collect()
    mrr.toSeq shouldBe Seq(1.0, 1.0)
    graft.api.CacheScope.global.release(blocking = true)
  }

  test("corpus accessors compose on the collection: contamination, pmi, resample, dup matrix") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "eval", "s1"),
      (2L, "alpha beta gamma delta zeta", "train", "s1"),   // shares a 4-gram
      (3L, "one two three four five six", "train", "s2"),
      (4L, "alpha beta gamma delta epsilon", "train", "s2") // exact dup of 1
    ).toDF("doc_id", "text", "split", "source")
    val c = new Collection("docs", docs)
    val frac = c.contaminationFrac("doc_id", "text", col("split") === "eval", w = 4)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    frac(4L) shouldBe 1.0
    frac(3L) shouldBe 0.0
    val pmi = c.pmiCollocations("text", minCount = 2, k = 5).collect()
    pmi.length should be > 0
    val sampled = c.importanceSample("doc_id", "text",
      col("split") === "eval", n = 2, salt = "x")
    sampled.count() shouldBe 2L
    val m = c.dupSourceMatrix("doc_id", "text", "source")
      .as[(String, String, Long)].collect().toSeq
    // docs 1 (s1) and 4 (s2) are exact duplicates -> cross-source pair
    m.map(r => (r._1, r._2)) should contain(("s1", "s2"))
    m.foreach(_._3 should be >= 1L)
    graft.api.CacheScope.global.release(blocking = true)
  }

  test("analytics accessors compose: histogram, corrMatrix, ewma, dup-graph pagerank") {
    import spark.implicits._
    val nums = (1 to 100).map(i => (i.toLong, i.toDouble, (i * 2).toDouble))
      .toDF("id", "x", "y")
    val cn = new Collection("nums", nums)
    val h = cn.histogram("x", lo = 0.0, width = 25.0, nBuckets = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    h.values.sum shouldBe 100L
    h(0) shouldBe 24L // buckets [0,25): x=1..24
    val cm = cn.corrMatrix(Seq("x", "y")).collect()
    cm.length shouldBe 1
    cm.head.getDouble(2) shouldBe 1.0
    val ev = (1L to 10L).map(i =>
      (i, 1L, new java.sql.Timestamp(i * 1000), 5.0)).toDF("eid", "uid", "ts", "v")
    new Collection("ev", ev).ewma("uid", "ts", "eid", "v")
      .collect().foreach(_.getDouble(2) shouldBe 5.0)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val pr = new Collection("docs", docs)
      .dupGraphPageRank("doc_id", "text", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1/2 are near-dups -> a 2-clique at the 1e8 fixed point
    pr.keySet shouldBe Set(1L, 2L)
    pr.values.foreach(_ shouldBe 100000000L)
    graft.api.CacheScope.global.release(blocking = true)
  }

  test("fuzzy accessors compose: fuzzyPairs, fuzzyResolve, fuzzyMatch") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("quick", "quack")),          // dist 1 of 1
      (3L, base.replace("tonight", "at night")),     // dist 2 of 1, dist 3 of 2
      (4L, "completely different text with nothing shared at all here"))
      .toDF("id", "s")
    val c = new Collection("docs", docs)
    val pairs = c.fuzzyPairs("id", "s", q = 3, d = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((1L, 2L), (1L, 3L)) // (2,3) is dist 3 > d
    // transitive closure: 2 ~ 1 ~ 3 resolve to one golden id even
    // though 2 !~ 3 directly
    val clusters = c.fuzzyResolve("id", "s", q = 3, d = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clusters(2L) shouldBe clusters(3L)
    clusters(2L) shouldBe 1L
    val other = new Collection("other",
      Seq((10L, base.replace("lazy", "hazy"))).toDF("id", "s"))
    val m = other.fuzzyMatch(c, "id", "s", q = 3, d = 2, topN = 1).collect()
    m.length shouldBe 1
    m.head.getLong(1) shouldBe 1L // best match is the base doc
    graft.api.CacheScope.global.release(blocking = true)
  }

  test("sketch accessors compose: distinctSketch, similaritySketch") {
    import spark.implicits._
    val nums = (0 until 9000).map(i => ((i % 3).toString, i.toLong)).toDF("g", "k")
    val ds = new Collection("nums", nums).distinctSketch("k", "g")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("exact_distinct"), r.getAs[Double]("rel_err"))).toMap
    ds.keySet shouldBe Set("0", "1", "2")
    ds.values.foreach { case (exact, err) => exact shouldBe 3000L; err should be < 0.26 }
    val docs = Seq(
      ("a", (1 to 30).map(i => s"w$i").mkString(" ")),
      ("b", (1 to 30).map(i => s"w$i").mkString(" ")),
      ("c", (1 to 30).map(i => s"v$i").mkString(" "))).toDF("source", "text")
    val sim = new Collection("docs", docs).similaritySketch("source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("kmv_j")).toMap
    sim(("a", "b")) shouldBe 1.0
    sim(("a", "c")) shouldBe 0.0
    graft.api.CacheScope.global.release(blocking = true)
  }

  test("sketch accessors compose: signatureSketch round-trips through kmvJaccardFromSignatures; sketchTuning grid") {
    import spark.implicits._
    val docs = Seq(
      ("a", (1 to 30).map(i => s"w$i").mkString(" ")),
      ("b", (1 to 30).map(i => s"w$i").mkString(" ")),
      ("c", (1 to 30).map(i => s"v$i").mkString(" "))).toDF("source", "text")
    val sigs = new Collection("docs", docs).signatureSketch("source", "text")
    sigs.columns.toSet shouldBe Set("source", "sig", "kmv_k")
    val sim = graft.ops.Sketches.kmvJaccardFromSignatures(sigs, "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("kmv_j")).toMap
    sim(("a", "b")) shouldBe 1.0
    sim(("a", "c")) shouldBe 0.0
    val nums = (0 until 9000).map(i => ("r", i.toLong)).toDF("g", "k")
    val grid = new Collection("nums", nums).sketchTuning("k")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[Long]("exact_distinct"), r.getAs[Double]("rel_err"))).toMap
    grid.keySet shouldBe Set(("hll", 8), ("hll", 12), ("kmv", 64), ("kmv", 256))
    grid.values.foreach { case (exact, err) => exact shouldBe 9000L; err should be < 0.3 }
    // bigger sketches should not be WILDLY worse — and p=12/k=256 sit
    // inside their tighter theoretical envelopes
    grid(("hll", 12))._2 should be < 0.08 // 1.04/sqrt(4096) ~ 1.6%, 4 sigma margin
    grid(("kmv", 256))._2 should be < 0.3
    graft.api.CacheScope.global.release(blocking = true)
  }

  test("behavioral/lexical accessors compose: userFeatures, sessionStats, " +
      "quantileNormalize, valueDrift, lexicalDiversity, burstiness, sourceGini") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      (1L, 1L, ts(0L), "view", 1.0),
      (2L, 1L, ts(600L), "view", 2.0),
      (3L, 1L, ts(1200L), "click", 3.0),
      (4L, 1L, ts(10000L), "view", 4.0), // gap 8800s > 1800 -> new session
      (5L, 2L, ts(0L), "click", 10.0)
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val c = new Collection("ev", ev)

    val uf = c.userFeatures("user_id", "event_type", "ts", "value")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    uf(1L) shouldBe ((4L, 2L, 0.5623, 2.5, 0L)) // H = ln4 - (3ln3)/4
    uf(2L) shouldBe ((1L, 1L, 0.0, 10.0, 0L))

    val ss = c.sessionStats("user_id", "ts", "event_id").collect().head
    ss.getLong(0) shouldBe 3L            // sessions: {e1-e3}, {e4}, {e5}
    ss.getLong(1) shouldBe 2L
    ss.getDouble(2) shouldBe 0.6667      // 2 of 3 are single-event
    ss.getDouble(3) shouldBe 1.6667      // 5 events / 3 sessions
    ss.getDouble(4) shouldBe 400.0       // (1200 + 0 + 0) / 3
    ss.getLong(5) shouldBe 1200L

    val qn = c.quantileNormalize("event_type", "event_id", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    qn(1L) shouldBe 0.25 // view ranks 1..3 of n=3 -> r/(n+1)
    qn(2L) shouldBe 0.5
    qn(4L) shouldBe 0.75
    qn(3L) shouldBe 0.3333 // click ranks over n=2
    qn(5L) shouldBe 0.6667

    val vd = c.valueDrift("event_type", "ts", "event_id", "value")
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    vd("view") shouldBe ((1.0, 3.0, 2.0))    // h1 = {1.0}, h2 = {2.0, 4.0}
    vd("click") shouldBe ((10.0, 3.0, -7.0)) // time-ordered: e5 (t=0) first

    val docs = Seq((1L, "a a b", "s1"), (2L, "a b c d", "s2"))
      .toDF("doc_id", "text", "source")
    val cd = new Collection("docs", docs)
    val ld = cd.lexicalDiversity("doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    ld(1L) shouldBe ((0.6667, 0.3333)) // ttr 2/3, simpson 2/(3*2)
    ld(2L) shouldBe ((1.0, 0.0))
    val b = cd.burstiness("doc_id", "text", minDf = 1, topK = 10).collect()
    b.map(_.getString(0)).toSeq shouldBe Seq("a", "b", "c", "d")
    b.head.getDouble(3) shouldBe 1.5 // 'a': c=3 over df=2 docs
    val g = cd.sourceGini("source", "text").collect().head
    g.getLong(0) shouldBe 2L
    g.getLong(1) shouldBe 7L
    g.getDouble(2) shouldBe 0.0714 // ((-1)*3 + 1*4) / (2*7)
    graft.api.CacheScope.global.release(blocking = true)
  }
}
