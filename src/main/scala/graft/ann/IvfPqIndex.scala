package graft.ann

import graft.functions.VectorFunctions
import graft.io.ParquetDir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF+PQ index — the memory-bound production shape for
  * ANN over a corpus whose raw vectors do NOT fit in cluster RAM
  * (the standard coarse-quantizer + product-code architecture of
  * billion-scale similarity search; reference surface:
  * embedding_matcher.py / vector search, re-expressed at the scale
  * the reference's in-memory matrix cannot reach).
  *
  * On disk under `dir`:
  *  - `centroids/` — the trained coarse codebook ([[KMeans.fit]]),
  *    nCells rows.
  *  - `pq/`        — the residual product-quantization codebooks
  *    ([[Pq.fit]] over v − centroid(cell)), m·ks rows of dsub-dim
  *    palette vectors.
  *  - `cells/`     — ONE row per corpus vector: (id, codes), codes =
  *    m bytes-as-ints, PARTITIONED BY CELL. At m=8 over 64-dim
  *    float32 this is ~32× smaller than the raw vectors — the part
  *    that must be hot.
  *
  * Probe shape (all inside one partition-pruned scan):
  *  1. driver ranks cells by query·centroid, keeps nProbe (tiny:
  *     nCells rows collected, nothing corpus-sized);
  *  2. the query's RESIDUAL distance tables per probed cell (nProbe ×
  *     m × ks doubles) ship as literals; each scanned code row costs
  *     m `element_at` lookups selected by a when-chain on its cell —
  *     whole-stage codegen, zero vector math against the corpus;
  *  3. ADC top-`rerank` candidates join their RAW vectors back (a
  *     k-sized broadcast semi-join against the cells' id partition)
  *     for exact cosine re-ranking to top-k — the standard two-stage
  *     answer to quantization error.
  *
  * Residual encoding (codes quantize v − centroid, not v) is what
  * makes nCells × ks effective centroids out of nCells + m·ks
  * trained ones; [[IvfPqSpec]] pins its recall edge over flat PQ.
  */
object IvfPqIndex {

  final case class Meta(nCells: Int, m: Int, ks: Int, dsub: Int)

  /** Train coarse + residual codebooks and persist codes by cell.
    * Heavy lifting is two bounded model fits (driver holds k×d and
    * m×ks×dsub doubles) plus ONE map-only encode pass over the
    * corpus; the write shuffles once on the partition column.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, dir: String,
            nCells: Int = 16, m: Int = 8, ks: Int = 16,
            trainIters: Int = 5): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val e = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(col("__v").isNotNull)
    val coarse = KMeans.fit(e, "id", "__v", k = nCells, maxIters = trainIters)
    // residuals: assign each row its cell (codegen argmin), broadcast
    // the nCells-row centroid frame, subtract element-wise
    val cent = IvfIndex.byPosition(coarse.centroids)
    val centDf = cent.toSeq.toDF("__cell", "__cv")
    // persisted: Pq.fit re-scans it m×iters times for the per-block
    // codebooks, then encode reads it once more
    val resid = e.withColumn("__cell", Knn.ivfCellExpr(cent))
      .join(broadcast(centDf), "__cell")
      .withColumn("__r", zip_with(col("__v"), col("__cv"), (a, b) => a - b))
      .persist()
    val pq = Pq.fit(resid, "id", "__r", m = m, ks = ks, maxIters = trainIters)
    val dsub = pq.dsub
    // cell rides through the encode projection — no re-attach join
    val codes = Pq.encode(resid, "id", "__r", pq, keep = Seq("__cell"))
    ParquetDir.write(centDf.select(col("__cell").as("cid"), col("__cv").as("vec")),
      s"$dir/centroids", "overwrite")
    ParquetDir.write(pq.codebooks.zipWithIndex.flatMap { case (palette, b) =>
      palette.zipWithIndex.map { case (cv, i) => (b, i, cv.toSeq) }
    }.toSeq.toDF("block", "idx", "vec"), s"$dir/pq", "overwrite")
    // INT cell column (positions always fit): the type partition
    // inference gives the directory names
    ParquetDir.write(codes.withColumn("__cell", col("__cell").cast("int")),
      s"$dir/cells", "overwrite", Seq("__cell"))
    resid.unpersist()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_META"),
      s"$nCells\t$m\t$ks\t$dsub")
  }

  def meta(dir: String): Meta = {
    val Array(n, m, ks, dsub) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "_META"))
        .trim.split('\t').map(_.toInt)
    Meta(n, m, ks, dsub)
  }

  /** ADC top-`rerank` within the probed cells, exact-cosine re-rank
    * to top-k against `raw` (the collection holding idCol/vecCol —
    * only the ≤rerank winners' vectors are ever touched, via a
    * broadcast join). `rerank <= k` disables the second stage and
    * returns ADC order directly (score = −adc so higher is better,
    * matching the cosine probes' descending contract).
    */
  def probe(spark: SparkSession, dir: String, queryVec: Seq[Double], k: Int,
            nProbe: Int = 4, rerank: Int = 0,
            raw: Option[(DataFrame, String, String)] = None): DataFrame = {
    val mt = meta(dir)
    val cent = IvfIndex.centroids(spark, dir)
    val books: Array[Array[Array[Double]]] =
      ParquetDir.read(spark, s"$dir/pq").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
    val probeCells = Knn.ivfProbeCells(cent, queryVec, nProbe)
    val centMap = cent.toMap
    // per-probed-cell ADC tables over the query RESIDUAL — the tables
    // differ per cell because the residual does
    def adcFor(cellId: Long) = {
      val cv = centMap(cellId)
      val qr = queryVec.zip(cv).map { case (q, c) => q - c }
      (0 until mt.m).map { b =>
        val qb = qr.slice(b * mt.dsub, (b + 1) * mt.dsub)
        val table: Seq[Double] = books(b).map { pal =>
          pal.zip(qb).map { case (c, x) => (c - x) * (c - x) }.sum
        }.toSeq
        element_at(typedLit(table), element_at(col("codes"), b + 1) + 1)
      }.reduce(_ + _)
    }
    val adc = probeCells.tail.foldLeft(
      when(col("__cell") === probeCells.head, adcFor(probeCells.head))) {
      (acc, c) => acc.when(col("__cell") === c, adcFor(c))
    }
    val scanned = ParquetDir.read(spark, s"$dir/cells")
      .filter(col("__cell").isin(probeCells: _*)) // planner partition pruning
      .select(col("id"), adc.as("adc"))
    val nCand = math.max(k, rerank)
    val cand = scanned.orderBy(col("adc").asc, col("id").asc).limit(nCand)
    raw match {
      case Some((df, idCol, vecCol)) if rerank > k =>
        // collect the ≤rerank winning ids (driver-bounded, like the
        // centroid frame) and push them INTO the raw scan as an In
        // predicate — parquet row-group stats skip everything else, so
        // the exact re-rank reads ~rerank rows, not the corpus (a
        // broadcast join would scan every raw vector to probe the hash
        // table)
        val candIds = cand.select(col("id")).collect().map(_.getLong(0))
        val qvLit = typedLit(queryVec)
        df.select(col(idCol).cast("long").as("id"),
            col(vecCol).cast("array<double>").as("__v"))
          .filter(col("id").isin(candIds: _*))
          .select(col("id"),
            round(VectorFunctions.cosine(col("__v"), qvLit), 4).as("score"))
          .orderBy(col("score").desc, col("id").asc)
          .limit(k)
      case _ =>
        cand.select(col("id"), round(-col("adc"), 4).as("score")).limit(k)
    }
  }
}
