package graftbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.ann.{Knn, Matcher, SemDedup}
import graft.ann.Matcher.MatchConfig
import graft.api.ParquetCollection
import graft.dedup.{Cluster, EdJoin, MinHash, NgramJaccard, SimHash, Winnow}
import graft.text.{Clean, QualityFilter}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** `dedup`: a batch near-duplicate pass over a seeded corpus, the
  * operators in a fixed order; the loop runs whole passes until the run's
  * seconds are up. Each op collects its result, as a pass hands its
  * output on; the components op clusters the union of the five text
  * finders' pairs.
  */
final class Dedup(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private var docs: DataFrame = _
  private var embs: DataFrame = _
  private var root: String = _
  /** Last result of each op, for the output checks. */
  private val last = mutable.LinkedHashMap[String, Array[Row]]()
  private val Match = MatchConfig(metric = "cosine", topN = 3, minSimilarity = Some(0.1))
  private val Finders = Seq("dedup.minhash_pairs", "dedup.simhash_pairs", "dedup.winnow_pairs",
    "dedup.jaccard_pairs", "dedup.edjoin_pairs")
  private val LineRe = "(([^ ]+ ){9}[^ ]+) "
  private val WarmRows = 150

  def replayable = true

  def setup(root: String): Unit = {
    this.root = root
    def create(name: String): DataFrame = ctx.span("api.create_collection") {
      val c = new ParquetCollection(spark, s"$root/$name", name)
      c.replace(ctx.input(name))
      c.df
    }
    docs = create("documents")
    embs = create("embeddings")
  }

  /** One pass over the first WarmRows documents and vectors: the same
    * plans on a small slice, so the timed passes run compiled code.
    */
  def warmupOps(rng: SplittableRandom): Seq[Op] =
    pass(docs.filter(col("doc_id") < WarmRows), embs.filter(col("vec_id") < WarmRows))

  def ops(rng: SplittableRandom): Iterator[Op] = Iterator.continually(pass(docs, embs)).flatten

  override def round: Int = pass(docs, embs).size

  private def op(span: String)(body: => Array[Row]): Op =
    Op(span, "read", span, () => {
      val rows = body
      last(span) = rows
      Outcome(rows.length)
    })

  private def pass(docs: DataFrame, embs: DataFrame): Seq[Op] = Seq(
    op("text.c4_clean") {
      val lined = docs.withColumn("text", regexp_replace(col("text"), LineRe, "$1.|"))
      Clean.c4Clean(lined, "doc_id", "text", sep = "|").collect()
    },
    op("text.quality_flags")(QualityFilter.flags(docs, "doc_id", "text").collect()),
    op("dedup.minhash_pairs")(MinHash.nearDupPairs(docs, "doc_id", "text").collect()),
    op("dedup.simhash_pairs")(SimHash.nearDupPairs(docs, "doc_id", "text", maxDist = 3).collect()),
    op("dedup.winnow_pairs")(Winnow.sharedFingerprintPairs(docs, "doc_id", "text").collect()),
    op("dedup.jaccard_pairs")(
      NgramJaccard.jaccardPairs(docs, "doc_id", "text", w = 3, threshold = 0.5).collect()),
    op("dedup.edjoin_pairs")(EdJoin.edPairs(docs, "doc_id", "text", q = 3, d = 8).collect()),
    op("dedup.components") {
      val pairs = Finders.flatMap(f => last(f).toSeq.map(r => Row(r.getLong(0), r.getLong(1)))).distinct
      val schema = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(pairs, 1), schema)
      Cluster.connectedComponents(df, "id_a", "id_b").collect()
    },
    op("ann.neardup_pairs")(
      Knn.nearDupPairs(embs, "vec_id", "embedding", threshold = 0.95).collect()),
    op("ann.semdedup")(SemDedup.semDedup(embs.select("vec_id", "embedding"), "vec_id",
      "embedding", k = 8, iters = 3, threshold = 0.95).collect()),
    op("ann.topn_matches")(Matcher.findMatchesTopN(embs.filter(col("half") === 0),
      embs.filter(col("half") === 1), "vec_id", "embedding", Match).collect())
  )

  override def finish(checks: ArrayNode, extra: ObjectNode): Unit = {
    val dim = ctx.meta.get("dim").asInt()
    def twin(span: String, sql: String): Unit =
      checks.add(Json.check(span, sql, last(span).toSeq))
    twin("text.c4_clean", s"""WITH lined AS (
      |  SELECT doc_id, regexp_replace(text, '${LineRe}', '\\1.|', 'g') AS text FROM documents)
      |""".stripMargin + Clean.c4CleanDuckSql("lined", "doc_id", "text", sep = "|"))
    twin("text.quality_flags", QualityFilter.flagsDuckSql("documents", "doc_id", "text"))
    twin("dedup.simhash_pairs", SimHash.nearDupPairsDuckSql("documents", "doc_id", "text", maxDist = 3))
    twin("dedup.winnow_pairs", Winnow.sharedFingerprintPairsDuckSql("documents", "doc_id", "text"))
    twin("dedup.jaccard_pairs",
      NgramJaccard.jaccardPairsDuckSql("documents", "doc_id", "text", w = 3, threshold = 0.5))
    twin("dedup.edjoin_pairs", EdJoin.edPairsDuckSql("documents", "doc_id", "text", q = 3, d = 8))
    twin("ann.semdedup", SemDedup.semDedupDuckSql("embeddings", "vec_id", "embedding",
      k = 8, iters = 3, threshold = 0.95, dim = dim))
    twin("ann.topn_matches", Matcher.findMatchesTopNDuckSql("embeddings", "vec_id", "embedding",
      srcPred = "half = 0", tgtPred = "half = 1", dim = dim, Match))
    // LSH finders: every verified pair must be in the exact set
    checks.add(Json.check("dedup.minhash_pairs", null, last("dedup.minhash_pairs").toSeq,
      mode = "subset", of = "dedup.jaccard_pairs"))
    checks.add(Json.check("ann.neardup_pairs", null,
      last("ann.neardup_pairs").toSeq, mode = "subset", of = "exact_cosine"))
    // components: labels must equal union-find over the finders' pairs
    val edges = ctx.json.arrayNode()
    Finders.foreach(f => last(f).foreach(r =>
      edges.addObject().put("id_a", r.getLong(0)).put("id_b", r.getLong(1))))
    checks.add(Json.check("dedup.components", null, last("dedup.components").toSeq,
      mode = "components"))
    checks.add(Json.checkRows("dedup.components.edges", null, edges, mode = "input"))
    val t = extra.putObject("tables")
    Seq("documents", "embeddings").foreach(n => t.put(n, s"$root/$n/v_0/*.parquet"))
    val pairs = extra.putObject("pairs")
    last.foreach { case (k, v) => pairs.put(k, v.length) }
    extra.put("input_rows", ctx.rows("documents") + ctx.rows("embeddings"))
  }
}
