package graft.api

import graft.query.{Facets, Filter}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Sort key: `"col"` ascending, `"-col"` descending (reference sort_by is
  * a list of column names — reference: src/linkml_store/api/queries.py:26).
  */
final case class SortKey(field: String, ascending: Boolean = true) {
  def toColumn: Column = if (ascending) col(field).asc else col(field).desc
}
object SortKey {
  def parse(s: String): SortKey =
    if (s.startsWith("-")) SortKey(s.drop(1), ascending = false)
    else SortKey(s.stripSuffix(" ASC").stripSuffix(" asc"), ascending = true)
}

/** A declarative query against a Collection — the engine analog of the
  * reference's Query dataclass (reference:
  * src/linkml_store/api/queries.py:12-40: from_table, select_cols,
  * where_clause, sort_by, limit, offset, facet_slots).
  */
final case class Query(
    where: Filter = Filter.True,
    selectCols: Seq[String] = Nil,
    sortBy: Seq[SortKey] = Nil,
    limit: Long = -1,
    offset: Long = 0,
    facetSlots: Seq[String] = Nil)

/** Result of [[Collection.query]] (reference QueryResult:
  * queries.py:43-74 — num_rows is the TOTAL match count, independent of
  * limit/offset; facet counts are per requested slot). `rows` stays a
  * lazy DataFrame: collecting is the caller's choice.
  */
final case class QueryResult(
    numRows: Long,
    rows: DataFrame,
    facetCounts: Map[String, DataFrame])

/** A collection of similar objects, backed by a DataFrame.
  *
  * The Spark-native analog of the reference's Collection (reference:
  * src/linkml_store/api/collection.py:57-74): for a relational backend a
  * collection is a table; here it is an immutable DataFrame (usually a
  * parquet scan), so every operation below is a declarative plan that
  * Catalyst can push down, prune, and reorder — nothing materializes on
  * the driver.
  */
class Collection(val name: String, val df: DataFrame) {

  def spark = df.sparkSession

  /** Find objects matching a Mongo-style where filter (reference:
    * src/linkml_store/api/collection.py:460-504). Returns a DataFrame —
    * the caller decides whether to collect, write, or keep composing.
    *
    * limit = -1 means "all rows" (reference convention); offset uses
    * Spark's native Dataset.offset (no driver paging loop — the
    * reference's find_iter pagination is subsumed by this + streaming
    * consumption of the returned DataFrame).
    */
  def find(
      where: Filter = Filter.True,
      selectCols: Seq[String] = Nil,
      sortBy: Seq[SortKey] = Nil,
      limit: Long = -1,
      offset: Long = 0): DataFrame = {
    var out = df.filter(Filter.bind(where, df.schema).toColumn)
    if (selectCols.nonEmpty) out = out.select(selectCols.map(col): _*)
    if (sortBy.nonEmpty) out = out.orderBy(sortBy.map(_.toColumn): _*)
    if (offset > 0) out = out.offset(offset.toInt)
    if (limit >= 0) out = out.limit(limit.toInt)
    out
  }

  def find(where: Map[String, Any]): DataFrame = find(Filter.parse(where))

  /** Execute a full [[Query]] (reference Database.query → QueryResult):
    * rows via [[find]], total match count, and per-slot facet counts
    * (batched: one scan for all unconstrained slots).
    */
  def query(q: Query): QueryResult = {
    val rows = find(q.where, q.selectCols, q.sortBy, q.limit, q.offset)
    // numRows uses the same BOUND filter as the rows (binding rewrites
    // e.g. $in over array columns); the unbound toColumn would diverge
    val numRows = df.filter(Filter.bind(q.where, df.schema).toColumn).count()
    val facets: Map[String, DataFrame] =
      if (q.facetSlots.isEmpty) Map.empty
      else {
        // ONE batched pass, collected once (bounded: <= limit rows per
        // slot, reference facet_counts are dicts too) and split
        // driver-side — lazily splitting the batched DataFrame would
        // re-execute the whole scan once per slot. Each slot is a local
        // relation, so collecting it runs no job.
        val all = Facets.facetCountsBatched(df, q.where, q.facetSlots).collect()
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("facet_value",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("count",
            org.apache.spark.sql.types.LongType, nullable = false)))
        q.facetSlots.map { s =>
          val rows = all.filter(_.getString(0) == s)
            .map(r => org.apache.spark.sql.Row(r.get(1), r.getLong(2)))
          s -> spark.createDataFrame(rows.toSeq.asJava, schema)
        }.toMap
      }
    QueryResult(numRows, rows, facets)
  }

  /** Get objects by primary-key values (reference:
    * src/linkml_store/api/collection.py:425-439).
    */
  def get(idField: String, ids: Seq[Any]): DataFrame =
    find(Filter.in(idField, ids))

  def count(where: Filter = Filter.True): Long = df.filter(where.toColumn).count()

  def peek(limit: Int = 10): DataFrame = df.limit(limit)

  /** True iff any row matches (evaluates at most one row). */
  def exists(where: Filter): Boolean =
    !df.filter(Filter.bind(where, df.schema).toColumn).isEmpty

  /** Streaming iteration over matches (reference find_iter — reference:
    * src/linkml_store/api/collection.py:506-529, which pages with
    * limit/offset loops; toLocalIterator fetches one partition at a
    * time instead, so the driver holds at most a partition).
    */
  def findIter(where: Filter = Filter.True): Iterator[org.apache.spark.sql.Row] = {
    find(where).toLocalIterator().asScala
  }

  /** The single object with the given id, if present (reference
    * get_one — reference: src/linkml_store/api/collection.py:441-458).
    */
  def getOne(idField: String, id: Any): Option[org.apache.spark.sql.Row] =
    find(Filter.eq(idField, id)).limit(1).collect().headOption

  /** Full-text cosine search over a hashed-trigram index of `textCol`
    * (reference: collection.py:810-905 search + SimpleIndexer). The
    * index builds as part of the plan; persist it via
    * [[graft.index.TrigramIndexer.index]] for repeated queries.
    */
  def search(textCol: String, query: String, k: Int = 10,
             where: Filter = Filter.True, selectCols: Seq[String] = Nil): DataFrame = {
    val idCol = df.columns.head
    val base = df.filter(Filter.bind(where, df.schema).toColumn)
    val ranked = graft.index.Search.searchTrigram(spark,
      graft.index.TrigramIndexer.index(base, idCol, textCol), idCol, query, k)
    attachSearchCols(ranked, base, idCol, selectCols, Seq("score"))
  }

  /** BM25 lexical ranked search ([[graft.index.Bm25]]) — the tf-idf
    * weighted alternative to the trigram-cosine [[search]]; same
    * where=/select_cols= composition (the pre-filter restricts the
    * scored slice AND the corpus statistics, as a per-slice BM25
    * should).
    */
  def searchBm25(textCol: String, query: String, k: Int = 10,
                 where: Filter = Filter.True, selectCols: Seq[String] = Nil): DataFrame = {
    val idCol = df.columns.head
    val base = df.filter(Filter.bind(where, df.schema).toColumn)
    val ranked = graft.index.Bm25.search(base, idCol, textCol, query, k)
    attachSearchCols(ranked, base, idCol, selectCols, Seq("score"))
  }

  private def attachSearchCols(ranked: DataFrame, base: DataFrame, idCol: String,
                               selectCols: Seq[String], rankCols: Seq[String]): DataFrame =
    Collection.attachSearchCols(ranked, base, idCol, selectCols, rankCols)

  /** Multi-attribute search (reference index_attributes /
    * text_template — indexer.py:81-156): each object renders to text
    * via [[graft.index.Indexer.objectText]] (single attribute → its
    * raw value; several → joined "attr: value" segments, nulls
    * dropped; template → f-string substitution), then the
    * hashed-trigram cosine search runs over that rendering. The
    * rendering is a Column fused into the index scan — no per-object
    * driver loop.
    */
  def searchObjects(query: String, indexAttributes: Seq[String],
                    template: Option[String] = None, k: Int = 10,
                    where: Filter = Filter.True, selectCols: Seq[String] = Nil): DataFrame = {
    val idCol = df.columns.head
    val base = df.filter(Filter.bind(where, df.schema).toColumn)
    val withText = base.withColumn("__obj_text",
      graft.index.Indexer.objectText(indexAttributes, template))
    val ranked = graft.index.Search.searchTrigram(spark,
      graft.index.TrigramIndexer.index(withText, idCol, "__obj_text"),
      idCol, query, k)
    attachSearchCols(ranked, base, idCol, selectCols, Seq("score"))
  }

  /** Search with MMR-diversified re-ranking of the cosine top-`fetchK`
    * (reference: mmr_diversified_search).
    */
  def searchMmr(textCol: String, query: String, k: Int = 10,
                fetchK: Int = 50, relevanceFactor: Double = 0.7,
                where: Filter = Filter.True, selectCols: Seq[String] = Nil): DataFrame = {
    val idCol = df.columns.head
    val base = df.filter(Filter.bind(where, df.schema).toColumn)
    val ranked = graft.index.Search.searchTrigramMmr(spark, base, idCol, textCol, query,
      k, fetchK, relevanceFactor)
    attachSearchCols(ranked, base, idCol, selectCols, Seq("score", "mmr_rank"))
  }

  def distinctValues(cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  /** Per-group approximate distinct with the exact audit beside it —
    * the deterministic HLL tier of [[distinctValues]] cardinality
    * checks; see [[graft.ops.Sketches.hllDistinct]].
    */
  def distinctSketch(keyCol: String, groupCol: String, p: Int = 8): DataFrame =
    graft.ops.Sketches.hllDistinct(df, keyCol, groupCol, p)

  /** Per-group quantile estimates from a deterministic bottom-n hash
    * sample with the exact audit beside them — the sketch tier of
    * [[groupQuantiles]]; see [[graft.ops.Sketches.quantileSketch]].
    */
  def quantileSketch(groupCol: String, valCol: String, idCol: String,
      n: Int = 512): DataFrame =
    graft.ops.Sketches.quantileSketch(df, groupCol, valCol, idCol, n)

  /** All-pairs group similarity from KMV bottom-k shingle sketches
    * (exact Jaccard audited beside the estimate); see
    * [[graft.ops.Sketches.kmvJaccard]].
    */
  def similaritySketch(groupCol: String, textCol: String,
      w: Int = 3, k: Int = 256): DataFrame =
    graft.ops.Sketches.kmvJaccard(df, groupCol, textCol, w, k)

  /** Persisted bottom-k signature of each group's shingle set — the
    * write side of the similarity sketch: write per day/shard, merge
    * with [[graft.ops.Sketches.kmvMergeSignatures]], and compare any
    * two snapshots with [[graft.ops.Sketches.kmvJaccardFromSignatures]]
    * without rescanning raw data.
    */
  def signatureSketch(groupCol: String, textCol: String,
      w: Int = 3, k: Int = 256): DataFrame =
    graft.ops.Sketches.kmvShingleSignatureTable(df, groupCol, textCol, w, k)

  /** est-vs-exact accuracy sweep over HLL register (p) and KMV
    * signature (k) grids on this collection's key column — pick sketch
    * parameters from measured error; see
    * [[graft.ops.Sketches.sketchTuning]].
    */
  def sketchTuning(keyCol: String, hllPs: Seq[Int] = Seq(8, 12),
      kmvKs: Seq[Int] = Seq(64, 256)): DataFrame =
    graft.ops.Sketches.sketchTuning(df, keyCol, hllPs, kmvKs)

  /** Facet counts for a single column; see [[Facets.facetCounts]]. */
  def facet(facetCol: String, where: Filter = Filter.True, limit: Int = 100): DataFrame =
    Facets.facetCounts(df, where, facetCol, limit)

  def facetTuple(facetCols: Seq[String], where: Filter = Filter.True, limit: Int = 100): DataFrame =
    Facets.facetCountsTuple(df, where, facetCols, limit)

  def facetsBatched(facetCols: Seq[String], where: Filter = Filter.True, limit: Int = 100): DataFrame =
    Facets.facetCountsBatched(df, where, facetCols, limit)

  /** Group rows and nest the non-key fields as a list of structs under
    * `inlinedField` (reference: src/linkml_store/api/collection.py:625-664
    * — group_by with agg_map {"first": [...], "list": [...]}).
    * One shuffle; nested rows stay distributed (no driver loop, unlike
    * the reference's pandas implementation).
    */
  def groupByNested(
      groupFields: Seq[String],
      inlinedField: String = "objects",
      firstFields: Seq[String] = Nil,
      listFields: Seq[String] = Nil,
      where: Filter = Filter.True,
      sortList: Boolean = false): DataFrame = {
    val base = df.filter(where.toColumn)
    val effList =
      if (listFields.nonEmpty) listFields
      else base.columns.toSeq.filterNot(c => groupFields.contains(c) || firstFields.contains(c))
    // collect_list order is partition-dependent; sortList=true makes the
    // nested array deterministic by sorting on struct field order (put
    // the key field first in listFields).
    val collected = collect_list(struct(effList.map(col): _*))
    val aggs =
      firstFields.map(f => first(col(f)).as(f)) :+
        (if (sortList) sort_array(collected) else collected).as(inlinedField)
    base.groupBy(groupFields.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Drop near-duplicate documents, keeping ONE representative (the
    * min id) per duplicate cluster — the full pipeline step: MinHash-LSH
    * pairs → connected components → anti-join the non-representatives.
    * Exact duplicates are a subset of near-dups, so this subsumes
    * exact dedup at threshold 1.0. The pair/cluster tables are tiny
    * next to the corpus (only docs WITH a duplicate appear), so the
    * anti-join broadcasts under AQE.
    */
  def dedupe(
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val pairs = graft.dedup.MinHash.nearDupPairs(
      df, idCol, textCol, threshold = threshold, scope = scope)
    val clusters = graft.dedup.Cluster.connectedComponents(pairs, "id_a", "id_b")
    val dropped = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Quality-aware dedupe: like [[dedupe]], but each near-dup cluster
    * keeps its BEST member by `score` (ties → lowest id) instead of
    * the min-id representative — the RefinedWeb-style policy (keep the
    * longest/cleanest copy, drop the mirrors). The ranking window
    * partitions on the cluster label — cluster tables are tiny next to
    * the corpus (only docs WITH a duplicate appear), same bound as
    * [[dedupe]]'s anti-join side. `score` is any Column over this
    * collection's rows (pre-round it if engines must agree on ties).
    */
  def dedupeKeepBest(
      idCol: String,
      textCol: String,
      score: Column,
      threshold: Double = 0.5,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val pairs = graft.dedup.MinHash.nearDupPairs(
      df, idCol, textCol, threshold = threshold, scope = scope)
    val clusters = graft.dedup.Cluster.connectedComponents(pairs, "id_a", "id_b")
    val scored = df.select(col(idCol).as("id"), score.as("__q"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      .orderBy(col("__q").desc, col("id").asc)
    val dropped = clusters.join(scored, "id")
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Corpus-wide exact LINE dedup (keep the global first occurrence of
    * every distinct line, drop later repeats); see
    * [[graft.dedup.LineDedup.dedupLines]].
    */
  def dedupLines(idCol: String, textCol: String, sep: String = "\n"): DataFrame =
    graft.dedup.LineDedup.dedupLines(df, idCol, textCol, sep)

  /** Deterministic train/val/test split column (`split`) — pure
    * function of (idCol, salt); see [[graft.ops.Sampling.splitAssign]].
    */
  def splitAssign(idCol: String, valPm: Int = 100, testPm: Int = 100,
      salt: String = ""): DataFrame =
    graft.ops.Sampling.splitAssign(df, idCol, valPm, testPm, salt)

  /** Token-balanced shard assignment (`shard`, `cum_before`) — hash
    * order cut at running-token boundaries; see
    * [[graft.ops.TrainStream.shardAssign]].
    */
  def shardAssign(idCol: String, textCol: String, shardTokens: Long,
      salt: String = ""): DataFrame =
    graft.ops.TrainStream.shardAssign(df, idCol, textCol, shardTokens, salt)

  /** Self-retrieval MRR@k of the BM25 surface over this collection —
    * the retrieval-quality gauge; see
    * [[graft.index.SearchEval.bm25SelfMrr]].
    */
  def searchQuality(idCol: String, textCol: String, probeIds: Seq[Long],
      nTerms: Int = 4, k: Int = 10): DataFrame =
    graft.index.SearchEval.bm25SelfMrr(df, idCol, textCol, probeIds, nTerms, k)

  /** Per-feature k-fold CV predictive power of `targetCol` (reference
    * stats_utils.analyze_predictive_power) — see
    * [[graft.ops.PredictivePower.cvAccuracy]].
    */
  def predictivePower(idCol: String, targetCol: String,
      features: Seq[(String, org.apache.spark.sql.Column)], k: Int = 3,
      salt: String = ""): DataFrame =
    graft.ops.PredictivePower.cvAccuracy(df, idCol, targetCol, features, k, salt)

  /** Exact per-group quantiles (grouped describe) — see
    * [[graft.ops.Describe.groupQuantiles]].
    */
  def groupQuantiles(groupCol: String, valCol: String,
      ps: Seq[(String, Double)] = Seq("p50" -> 0.5, "p90" -> 0.9)): DataFrame =
    graft.ops.Describe.groupQuantiles(df, groupCol, valCol, ps)

  /** Equi-width histogram of a numeric column (bounded-key aggregate;
    * the computation behind distribution plots).
    */
  def histogram(valCol: String, lo: Double, width: Double,
      nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val bucket = least(greatest(
      floor((col(valCol) - lit(lo)) / lit(width)), lit(0.0)),
      lit((nBuckets - 1).toDouble)).cast("int")
    df.select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * lit(width)).as("bucket_lo"), col("n"))
  }

  /** One-pass Pearson correlation matrix over numeric columns — see
    * [[graft.ops.CorrMatrix.corrMatrix]].
    */
  def corrMatrix(cols: Seq[String], scale: Long = 100L): DataFrame =
    graft.ops.CorrMatrix.corrMatrix(df, cols, scale)

  /** Per-key truncated EWMA smoothing — see [[graft.ops.Ewma.ewma]]. */
  def ewma(keyCol: String, tsCol: String, tieCol: String,
      valueCol: String): DataFrame =
    graft.ops.Ewma.ewma(df, keyCol, tsCol, tieCol, valueCol)

  /** Fixed-point integer PageRank over this collection's near-dup
    * pair graph — the template-hub report (see
    * [[graft.ops.PageRank]]); `idCol`/`textCol` feed the same
    * MinHash-LSH pair finder [[dedupe]] uses.
    */
  def dupGraphPageRank(idCol: String, textCol: String,
      iters: Int = 5): DataFrame =
    graft.ops.PageRank.ranks(
      graft.dedup.MinHash.nearDupPairs(df, idCol, textCol),
      "id_a", "id_b", iters)

  /** EXACT edit-distance near-dup pairs (levenshtein <= d) via Ed-Join
    * prefix blocking — see [[graft.dedup.EdJoin.edPairs]].
    */
  def fuzzyPairs(idCol: String, textCol: String, q: Int = 3,
      d: Int = 8): DataFrame =
    graft.dedup.EdJoin.edPairs(df, idCol, textCol, q, d)

  /** Fuzzy entity resolution: Ed-Join pairs → transitive closure →
    * canonical cluster id per row (typo'd re-submissions of one record
    * resolve to one golden id).
    */
  def fuzzyResolve(idCol: String, textCol: String, q: Int = 3,
      d: Int = 8): DataFrame =
    graft.dedup.Cluster.connectedComponents(
      graft.dedup.EdJoin.edPairs(df, idCol, textCol, q, d)
        .select("id_a", "id_b"),
      "id_a", "id_b")

  /** Cross-collection fuzzy-string match: for each row here, the top-N
    * `other` rows within edit distance d — see
    * [[graft.dedup.EdJoin.edMatchTopN]].
    */
  def fuzzyMatch(other: Collection, idCol: String, textCol: String,
      q: Int = 3, d: Int = 8, topN: Int = 1): DataFrame =
    graft.dedup.EdJoin.edMatchTopN(df, other.df, idCol, textCol, q, d, topN)

  /** Per-key behavioral feature vector (volume, type breadth +
    * entropy, exact mean value, active span) — see
    * [[graft.ops.EventFeatures.userFeatures]].
    */
  def userFeatures(keyCol: String, typeCol: String, tsCol: String,
      valueCol: String): DataFrame =
    graft.ops.EventFeatures.userFeatures(df, keyCol, typeCol, tsCol, valueCol)

  /** First-vs-second-half mean shift per group — see
    * [[graft.ops.EventFeatures.valueDrift]].
    */
  def valueDrift(groupCol: String, tsCol: String, tieCol: String,
      valueCol: String): DataFrame =
    graft.ops.EventFeatures.valueDrift(df, groupCol, tsCol, tieCol, valueCol)

  /** One-row session-health digest over gap sessions — see
    * [[graft.ops.EventFeatures.sessionStats]].
    */
  def sessionStats(keyCol: String, tsCol: String, tieCol: String,
      gapSeconds: Long = 1800): DataFrame =
    graft.ops.EventFeatures.sessionStats(df, keyCol, tsCol, tieCol, gapSeconds)

  /** Per-row within-group quantile normalization — see
    * [[graft.ops.EventFeatures.quantileNormalize]].
    */
  def quantileNormalize(groupCol: String, idCol: String,
      valueCol: String): DataFrame =
    graft.ops.EventFeatures.quantileNormalize(df, groupCol, idCol, valueCol)

  /** Per-doc type-token ratio + Simpson repeat probability — see
    * [[graft.text.Lexical.lexicalDiversity]].
    */
  def lexicalDiversity(idCol: String, textCol: String): DataFrame =
    graft.text.Lexical.lexicalDiversity(df, idCol, textCol)

  /** Top-k token burstiness (c/df) — see
    * [[graft.text.Lexical.burstiness]].
    */
  def burstiness(idCol: String, textCol: String, minDf: Long = 5,
      topK: Int = 50): DataFrame =
    graft.text.Lexical.burstiness(df, idCol, textCol, minDf, topK)

  /** Token-mass concentration Gini across a bounded group domain —
    * see [[graft.text.Lexical.sourceGini]].
    */
  def sourceGini(groupCol: String, textCol: String): DataFrame =
    graft.text.Lexical.sourceGini(df, groupCol, textCol)

  /** Hybrid lexical+trigram retrieval fused by reciprocal rank — see
    * [[graft.index.Search.hybridRrf]].
    */
  def searchHybrid(textCol: String, query: String, k: Int = 10,
      idCol: String = "doc_id"): DataFrame =
    graft.index.Search.hybridRrf(spark, df, idCol, textCol, query, k)

  /** Graded train/eval contamination fraction per doc — see
    * [[graft.ops.Corpus.contaminationFrac]].
    */
  def contaminationFrac(idCol: String, textCol: String,
      evalPred: Column, w: Int = 4): DataFrame =
    graft.ops.Corpus.contaminationFrac(df, idCol, textCol, evalPred, w)

  /** Top-k adjacent-token PMI collocations — see
    * [[graft.ops.Corpus.pmiCollocations]].
    */
  def pmiCollocations(textCol: String, minCount: Int = 5, k: Int = 25): DataFrame =
    graft.ops.Corpus.pmiCollocations(df, textCol, minCount, k)

  /** Deterministic DSIR importance resample (Gumbel-top-k, ∝
    * exp(log_w)) — see [[graft.ops.Corpus.importanceSample]].
    */
  def importanceSample(idCol: String, textCol: String, targetPred: Column,
      n: Int, salt: String = ""): DataFrame =
    graft.ops.Corpus.importanceSample(df, idCol, textCol, targetPred, n, salt = salt)

  /** Rows of this collection with ≥1 match in `other` (EXISTS) —
    * LEFT_SEMI: the probe side contributes keys only, no duplication,
    * no probe columns through the exchange.
    */
  def semiJoin(other: Collection, key: String, otherKey: String): Collection =
    new Collection(name,
      df.join(other.df, df(key) === other.df(otherKey), "left_semi"))

  /** Rows of this collection with NO match in `other` (NOT EXISTS) —
    * LEFT_ANTI, same keys-only shuffle economics.
    */
  def antiJoin(other: Collection, key: String, otherKey: String): Collection =
    new Collection(name,
      df.join(other.df, df(key) === other.df(otherKey), "left_anti"))

  /** Skew-salted inner equi-join against `other` — see
    * [[graft.ops.SkewJoin.saltedInner]]; row-identical to the plain
    * join, hot keys spread over `s` shuffle tasks.
    */
  def saltedJoin(other: Collection, key: String, otherKey: String,
      saltOn: Column, s: Int = 8): DataFrame =
    graft.ops.SkewJoin.saltedInner(df, other.df, key, otherKey, saltOn, s)

  /** Bloom-prefiltered inner equi-join against a selective `other` —
    * see [[graft.ops.SkewJoin.bloomInner]].
    */
  def bloomJoin(other: Collection, key: String, otherKey: String,
      expectedOtherKeys: Long, fpp: Double = 0.01): DataFrame =
    graft.ops.SkewJoin.bloomInner(df, other.df, key, otherKey,
      expectedOtherKeys, fpp)

  /** Top-k within-session event-type 3-grams — see
    * [[graft.ops.EventFeatures.eventPaths]].
    */
  def eventPaths(keyCol: String, typeCol: String, tsCol: String,
      tieCol: String, gapSeconds: Long = 1800, k: Int = 20): DataFrame =
    graft.ops.EventFeatures.eventPaths(df, keyCol, typeCol, tsCol, tieCol,
      gapSeconds, k)

  /** Two-proportion A/B z-test over a deterministic hash split — see
    * [[graft.ops.EventFeatures.abTest]].
    */
  def abTest(keyCol: String, convPred: Column, salt: String = "ab"): DataFrame =
    graft.ops.EventFeatures.abTest(df, keyCol, convPred, salt)

  /** Per-group skewness + excess kurtosis — see
    * [[graft.ops.Moments.groupMoments]].
    */
  def groupMoments(groupCol: String, valCol: String,
      scale: Long = 100L): DataFrame =
    graft.ops.Moments.groupMoments(df, groupCol, valCol, scale)

  /** Per-group winsorized (outlier-capped) mean — see
    * [[graft.ops.Describe.winsorizedMeans]].
    */
  def winsorizedMeans(groupCol: String, valCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame =
    graft.ops.Describe.winsorizedMeans(df, groupCol, valCol, pLo, pHi)

  /** Hourly session-concurrency profile — see
    * [[graft.ops.EventFeatures.concurrency]].
    */
  def concurrency(keyCol: String, tsCol: String, tieCol: String,
      gapSeconds: Long = 1800): DataFrame =
    graft.ops.EventFeatures.concurrency(df, keyCol, tsCol, tieCol, gapSeconds)

  /** Cross-source duplicate-leakage matrix: near-dup pairs rolled up by
    * unordered source pair — which sources copy from each other.
    */
  def dupSourceMatrix(idCol: String, textCol: String, srcCol: String,
      threshold: Double = 0.5): DataFrame = {
    val src = df.select(col(idCol), col(srcCol))
    graft.dedup.MinHash.nearDupPairs(df, idCol, textCol, threshold = threshold)
      .join(src.select(col(idCol).as("id_a"), col(srcCol).as("src_a")), "id_a")
      .join(src.select(col(idCol).as("id_b"), col(srcCol).as("src_b")), "id_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_pairs"))
  }
}

object Collection {

  /** Join a bounded ranked search result back to the (filtered)
    * collection to attach `selectCols` (reference search select_cols —
    * collection.py:531-537). The ranked side is ≤ k rows, so it
    * broadcasts; the big side streams once. Rank columns keep their
    * position after the projection; order restores by the last rank
    * column (`score` desc / `mmr_rank` asc).
    */
  private[api] def attachSearchCols(
      ranked: org.apache.spark.sql.DataFrame,
      base: org.apache.spark.sql.DataFrame,
      idCol: String,
      selectCols: Seq[String],
      rankCols: Seq[String]): org.apache.spark.sql.DataFrame =
    if (selectCols.isEmpty) ranked
    else {
      // a selected column that collides with a rank column (e.g. a data
      // column literally named "score") is served by the rank side
      val dataCols =
        (idCol +: selectCols.filterNot(c => c == idCol || rankCols.contains(c))).distinct
      val sortCol = rankCols.last
      org.apache.spark.sql.functions.broadcast(ranked)
        .join(base.select(dataCols.map(col): _*), Seq(idCol))
        .select((dataCols ++ rankCols).map(col): _*)
        .orderBy(if (sortCol == "mmr_rank") col(sortCol).asc
                 else col(sortCol).desc, col(idCol).asc)
    }
}
