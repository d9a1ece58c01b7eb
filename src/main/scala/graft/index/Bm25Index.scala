package graft.index

import graft.io.ParquetDir
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 inverted index — the "build once, probe many" tier of
  * [[Bm25.search]] (which re-scans and re-tokenizes the corpus on every
  * call). The same relationship [[graft.ann.IvfIndex]] has to
  * [[graft.ann.Knn.ivfTopK]], applied to lexical retrieval.
  *
  * Layout under `dir`:
  *   - `postings/` — (term, id, tf, dl) parquet PARTITIONED BY `__bkt`
  *     = floorMod(hash60(term), nBuckets). Document length rides every
  *     posting row (classic search-engine denormalization), so scoring
  *     never joins a corpus-sized docs table.
  *   - `meta/` — one (n_docs, sum_dl) row appended per ingest batch;
  *     global stats are the SUM over rows, so ingest never
  *     read-modify-writes shared state.
  *   - `_BUCKETS` — bucket count, pinned so appends and probes agree.
  *   Both directories carry the [[graft.io.ParquetDir]] schema
  *   sidecar, so a probe resolves them without an inference job.
  *
  * Scale shape (100 TB): a probe reads ONLY the query terms' bucket
  * partitions — planner partition pruning on `__bkt` (spec-asserted),
  * then a term pushdown inside them — so probe I/O is bounded by the
  * probe terms' posting lists, never a corpus scan. Scoring pivots the
  * ≤|terms| posting rows per candidate back to fixed tf columns and
  * replays [[Bm25]]'s literal-order arithmetic with driver-literal
  * stats, so scores are BIT-IDENTICAL to a fresh [[Bm25.search]] over
  * the same corpus (spec-pinned, including after incremental appends).
  * Incremental ingest appends new posting files under touched buckets
  * only; the standing postings are never read, never shuffled, never
  * rewritten ([[graft.dedup.SignatureIndex]]'s contract).
  *
  * Reference anchor: linkml-store attaches persistent search indexes to
  * collections (src/linkml_store/api/collection.py attach_indexer /
  * indexers); this is the Spark-native lexical instance of that
  * surface beside the vector ones (IvfIndex, IvfPqIndex).
  */
object Bm25Index {

  /** Tokenize + count: (term, id, tf, dl, __bkt) posting rows. */
  private def postings(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    df.select(col(idCol).cast("long").as("id"), size(toks).as("dl"),
        explode(toks).as("term"))
      .groupBy("id", "dl", "term")
      .agg(count(lit(1)).cast("int").as("tf"))
      // INT partition values: partition-column inference reads the
      // directory names back as int (so the declared schema can say
      // so), and a long-vs-int comparison in the probe filter would
      // cast the partition column and defeat planner pruning
      .withColumn("__bkt",
        pmod(graft.text.TextFunctions.portableHash60(col("term")),
          lit(nBuckets.toLong)).cast("int"))
  }

  private def metaRow(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
      sum(size(split(lower(col(textCol)), " "))).as("sum_dl"))

  def build(df: DataFrame, idCol: String, textCol: String, dir: String,
      nBuckets: Int = 64): Unit = {
    ParquetDir.write(postings(df, idCol, textCol, nBuckets), s"$dir/postings",
      "overwrite", Seq("__bkt"))
    ParquetDir.write(metaRow(df, idCol, textCol), s"$dir/meta", "overwrite")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_BUCKETS"), nBuckets.toString)
  }

  /** Incremental ingest: append the delta's postings under their bucket
    * partitions and one meta row. Placement is a pure function of the
    * term and the pinned bucket count, so the merged index is the same
    * table a from-scratch rebuild on the union would produce
    * (spec-pinned probe-identical).
    */
  def append(df: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    val nBuckets = bucketCount(dir)
    ParquetDir.write(postings(df, idCol, textCol, nBuckets), s"$dir/postings",
      "append", Seq("__bkt"))
    ParquetDir.write(metaRow(df, idCol, textCol), s"$dir/meta", "append")
  }

  def bucketCount(dir: String): Int = {
    val p = java.nio.file.Paths.get(dir, "_BUCKETS")
    require(java.nio.file.Files.exists(p), s"no BM25 index at $dir — build first")
    java.nio.file.Files.readString(p).trim.toInt
  }

  /** Top-k by BM25(query), bit-identical to [[Bm25.search]] over the
    * indexed corpus: (id, score desc, id asc), score rounded to 4dp,
    * docs matching no term absent. Driver-side work is bounded: the
    * |terms| df counts and the 1-row meta sum; candidate scoring and
    * top-k stay distributed.
    */
  def search(spark: SparkSession, dir: String, query: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val terms = Bm25.queryTerms(query)
    require(terms.nonEmpty, "query has no terms")
    val nBuckets = bucketCount(dir)
    val buckets = terms.map(t =>
      math.floorMod(TrigramIndexer.hash60(t), nBuckets.toLong).toInt).distinct
    val hits = ParquetDir.read(spark, s"$dir/postings")
      .filter(col("__bkt").isin(buckets: _*)) // planner partition pruning
      .filter(col("term").isin(terms: _*))    // pushed into the pruned scan
    // global stats: 1-row meta sum + |terms| document frequencies from
    // the pruned read — both bounded collects (model state, not data)
    val Array(nDocs, sumDl) = ParquetDir.read(spark, s"$dir/meta")
      .agg(sum("n_docs"), sum("sum_dl")).collect()(0)
      .toSeq.map(v => v.asInstanceOf[Long].toDouble).toArray
    val dfByTerm: Map[String, Long] = hits.groupBy("term")
      .agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // pivot candidates back to fixed tf columns: contribution addition
    // order below follows the query's term order exactly as
    // Bm25.scoreAndTake does (absent terms contribute an exact 0.0),
    // so the double sum is bit-identical to the scan-time tier
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      coalesce(max(when(col("term") === lit(t), col("tf"))), lit(0))
        .cast("double").as(s"__tf$i")
    }
    val cand = hits.groupBy("id")
      .agg(max(col("dl")).cast("double").as("__dl"), tfAggs: _*)
    val contributions: Seq[Column] = terms.zipWithIndex.map { case (t, i) =>
      val dfi = dfByTerm.getOrElse(t, 0L).toDouble
      // StrictMath, not math.log: Spark's Log expression evaluates via
      // StrictMath, and an intrinsic java.lang.Math.log may differ in
      // the last ULP — this keeps the bit-identical contract with the
      // scan-time Bm25.scoreAndTake exact, not just 4dp-rounded
      val idf = StrictMath.log(1.0 + (nDocs - dfi + 0.5) / (dfi + 0.5))
      val tf = col(s"__tf$i")
      lit(idf) * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") * lit(nDocs) / lit(sumDl)))
    }
    cand.select(col("id"), round(contributions.reduce(_ + _), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }
}
