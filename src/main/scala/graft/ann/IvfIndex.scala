package graft.ann

import graft.functions.VectorFunctions
import graft.io.ParquetDir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF vector index — the "build once, probe many" tier of
  * [[Knn.ivfTopK]] (which recomputes cell assignments on every call).
  *
  * Build writes the cell assignments PARTITIONED BY CELL, so a probe
  * is a partition-pruned read of `nProbe` directories — at 100 TB the
  * probe I/O is corpus_size × nProbe / nCells, not a full scan, and
  * the pruning happens in the planner (spec-asserted), not at runtime.
  * Centroids use the same deterministic first-nCells-by-id pattern as
  * [[Knn.ivfTopK]], stored beside the cells keyed by POSITION (see
  * [[byPosition]]); both are bounded model state (nCells rows).
  *
  * Layout under `dir`: `centroids/` (cid, vec) and `cells/`
  * (__cell=<cid>/ partitioned parquet of id, vec), each with the
  * [[graft.io.ParquetDir]] schema sidecar probes read with.
  */
object IvfIndex {

  /** Assign every row to its nearest centroid (max dot product, ties
    * to the lower cid — the [[Knn.ivfTopK]] argmin) and persist.
    * Centroids default to the deterministic first-nCells-by-id coarse
    * quantizer; pass a [[KMeans.Model]]'s centroids via the overload
    * for a trained codebook (tighter cells ⇒ better recall at the
    * same nProbe).
    */
  def build(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
            dir: String): Unit = {
    val e = normalized(df, idCol, vecCol)
    val cent: Array[(Long, Seq[Double])] = e.orderBy(col("id").asc).limit(nCells)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    write(e, cent, dir)
  }

  /** Build with a provided codebook (e.g. [[KMeans.fit]] centroids). */
  def build(df: DataFrame, idCol: String, vecCol: String,
            centroids: Array[(Long, Seq[Double])], dir: String): Unit =
    write(normalized(df, idCol, vecCol), centroids, dir)

  /** Normalized index schema (id, __v) regardless of source names. */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("__v"))

  private def write(e: DataFrame, cent: Array[(Long, Seq[Double])], dir: String): Unit = {
    require(cent.nonEmpty, "cannot build an IVF index with no centroids")
    val spark = e.sparkSession
    import spark.implicits._
    val keyed = byPosition(cent)
    ParquetDir.write(keyed.toSeq.toDF("cid", "vec"), s"$dir/centroids", "overwrite")
    ParquetDir.write(withCell(e, keyed), s"$dir/cells", "overwrite", Seq("__cell"))
    // bounded metadata for listings (no spark job to answer "what
    // indexes exist with what geometry")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_CELLS"), cent.length.toString)
  }

  /** Incremental ingest into a standing index — the daily-delta path
    * at 100 TB (the [[graft.dedup.SignatureIndex]] contract applied
    * to vectors): the delta is assigned with the PERSISTED codebook
    * (same `ivfCellExpr`, so placement is identical to a full
    * rebuild) and appended as new files under the touched cell
    * directories only. The standing corpus is never read, never
    * shuffled, never rewritten; cells the delta misses gain nothing.
    * A probe afterwards sees old + new rows indistinguishably —
    * spec-pinned equal to a probe of a from-scratch rebuild on the
    * union (deterministic placement makes them the same table).
    * The codebook itself is intentionally frozen: re-training
    * centroids on drifted data is a REBUILD decision (build), not an
    * ingest decision.
    */
  def append(df: DataFrame, idCol: String, vecCol: String, dir: String): Unit = {
    val spark = df.sparkSession
    val cent = centroids(spark, dir)
    require(cent.nonEmpty, s"no centroids at $dir — build the index first")
    ParquetDir.write(withCell(normalized(df, idCol, vecCol), cent), s"$dir/cells",
      "append", Seq("__cell"))
  }

  /** The codebook as an index stores it: cid = position, 0 until
    * nCells in ascending-cid order (so the (nd, cid) tie-breaks, and
    * with them every placement and probe, are unchanged). Cell
    * directories are then small ints whatever the row ids are.
    */
  private[ann] def byPosition(cent: Array[(Long, Seq[Double])]): Array[(Long, Seq[Double])] =
    cent.sortBy(_._1).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }

  /** Cell column as INT, the type partition inference gives the
    * `__cell=<cid>` directory names, so the declared schema matches it.
    * An index built before centroids were stored by position keys its
    * cells by row id, which may not fit an int: appends to it keep the
    * long (that directory has no sidecar and reads through inference).
    */
  private def withCell(e: DataFrame, cent: Array[(Long, Seq[Double])]): DataFrame = {
    val cell = Knn.ivfCellExpr(cent)
    e.withColumn("__cell", if (cent.forall(_._1.isValidInt)) cell.cast("int") else cell)
  }

  private[ann] def centroids(spark: SparkSession, dir: String): Array[(Long, Seq[Double])] =
    ParquetDir.read(spark, s"$dir/centroids")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))

  /** Exact cosine top-k within the `nProbe` cells whose centroids best
    * match the query vector. One partition-pruned scan ending in
    * TakeOrdered; only the centroid frame (nCells rows) is collected.
    */
  def probe(spark: SparkSession, dir: String, queryVec: Seq[Double], k: Int,
            nProbe: Int = 4): DataFrame = {
    val cent = centroids(spark, dir)
    // shared with the scan-time tier: same dot fold, same -0.0
    // normalization, same (nd, cid) tie-break
    val probeCells = Knn.ivfProbeCells(cent, queryVec, nProbe)
    val qvLit = typedLit(queryVec)
    ParquetDir.read(spark, s"$dir/cells")
      .filter(col("__cell").isin(probeCells: _*)) // planner partition pruning
      .select(col("id"),
        round(VectorFunctions.cosine(col("__v"), qvLit), 4).as("score"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }
}
