package graft.ann

import graft.dedup.CandidateJoin
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Nearest-neighbor search over embedding columns (`array<float>`).
  *
  * Three tiers (SURVEY §2 rows 35-37, 43):
  *  - [[bruteForceTopK]]: exact cosine top-k against one query vector —
  *    the correctness baseline. One broadcast of the query row, no
  *    shuffle of the corpus, TakeOrdered for the top-k.
  *  - [[lshCandidates]] / sign-bit banding: random-hyperplane LSH with
  *    axis-aligned hyperplanes (bit i = sign of dimension i). Banding
  *    the signature bounds candidate generation by bucket sizes — the
  *    100 TB path. Approximate by construction; the oracle runs the
  *    same algorithm, so results are deterministic.
  *  - [[findMatches]]: cross-collection top-1 match per source row
  *    (reference: src/linkml_store/utils/embedding_matcher.py) — a
  *    broadcast nested-loop join ranked per source; broadcast the
  *    smaller (target) side.
  *
  * Cosine is computed in double from the float32 inputs on both engines
  * (fold in index order) so 4dp-rounded scores agree with DuckDB.
  */
object Knn {

  /** Sign-bit LSH signature over the first `nBits` dimensions. A FLAT
    * sum of nBits conditional terms (whole-stage codegen), not an
    * aggregate lambda (interpreted closure per element) — bit-identical
    * integer arithmetic either way, so the DuckDB twin is unchanged.
    */
  def signBits(vecCol: String, nBits: Int = 16): Column =
    (0 until nBits).map { i =>
      // try_element_at: a vector shorter than nBits contributes 0 for
      // the missing dimensions (ANSI element_at would throw), exactly
      // like the oracle's list index -> NULL -> CASE ELSE 0
      when(try_element_at(col(vecCol), lit(i + 1)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def signBitsDuck(vecSql: String, nBits: Int = 16): String =
    s"CAST(list_sum(list_transform(range(1, ${nBits + 1}), i -> CASE WHEN $vecSql[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  private def cosineDuck(a: String, b: String, dim: Int): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"
    s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** Exact cosine top-k to the vector of row `queryId`. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int): DataFrame = {
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val q = e.filter(col(idCol) === queryId).select(col("__v").as("__qv"))
    e.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(VectorFunctions.cosine(col("__v"), col("__qv")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  def bruteForceTopKDuckSql(table: String, idCol: String, vecCol: String, queryId: Long, k: Int, dim: Int): String =
    s"""WITH e AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |q AS (SELECT v AS qv FROM e WHERE $idCol = $queryId)
       |SELECT $idCol, round(${cosineDuck("v", "qv", dim)}, 4) AS score
       |FROM e, q
       |WHERE $idCol <> $queryId
       |ORDER BY score DESC, $idCol ASC
       |LIMIT $k""".stripMargin

  /** Banded sign-bit buckets: (idCol, band, chunk) rows. */
  def bandedSignBits(df: DataFrame, idCol: String, vecCol: String,
                     nBits: Int = 16, bands: Int = 4): DataFrame = {
    val width = nBits / bands
    val mask = (1L << width) - 1
    val sig = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__sig", signBits("__v", nBits))
    val chunks = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("__sig"), b * width).bitwiseAND(lit(mask)).as("chunk"))
    }
    sig.select(col(idCol), explode(array(chunks: _*)).as("bc"))
      .select(col(idCol), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
  }

  /** LSH top-k: rank only candidates sharing >= 1 signature band with
    * the query row. Candidate generation is a bucket join (bounded),
    * then exact cosine on the survivors.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
              nBits: Int = 16, bands: Int = 4): DataFrame = {
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val bk = bandedSignBits(df, idCol, vecCol, nBits, bands)
    val qb = bk.filter(col(idCol) === queryId)
      .select(col("band"), col("chunk"))
    val cand = bk.filter(col(idCol) =!= queryId)
      .join(broadcast(qb), Seq("band", "chunk"))
      .select(col(idCol)).distinct()
    val q = e.filter(col(idCol) === queryId).select(col("__v").as("__qv"))
    cand.join(e, idCol)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(VectorFunctions.cosine(col("__v"), col("__qv")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  def lshTopKDuckSql(table: String, idCol: String, vecCol: String, queryId: Long, k: Int,
                     dim: Int, nBits: Int = 16, bands: Int = 4): String = {
    val width = nBits / bands
    val mask = (1L << width) - 1
    val bandSelects = (0 until bands).map { b =>
      s"SELECT $idCol, $b AS band, (sig >> ${b * width}) & $mask AS chunk FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |sigs AS (SELECT $idCol, ${signBitsDuck("v", nBits)} AS sig FROM e),
       |bk AS ($bandSelects),
       |qb AS (SELECT band, chunk FROM bk WHERE $idCol = $queryId),
       |cand AS (
       |  SELECT DISTINCT bk.$idCol FROM bk JOIN qb USING (band, chunk)
       |  WHERE bk.$idCol <> $queryId),
       |q AS (SELECT v AS qv FROM e WHERE $idCol = $queryId)
       |SELECT e.$idCol, round(${cosineDuck("v", "qv", dim)}, 4) AS score
       |FROM cand JOIN e ON cand.$idCol = e.$idCol, q
       |ORDER BY score DESC, e.$idCol ASC
       |LIMIT $k""".stripMargin
  }

  /** Multi-probe LSH top-k: like [[lshTopK]], but each band also probes
    * the buckets whose chunk differs from the query's in EXACTLY ONE
    * bit — the standard multi-probe trick: near neighbors that barely
    * missed the query's bucket usually landed one sign-flip away, so
    * probing Hamming-1 neighbors buys most of the recall of doubling
    * the bands at (width+1)x probe cost and ZERO extra index size.
    * Candidate generation stays a bucket join (the probe list is
    * bounded: bands * (width+1) keys, broadcast); exact cosine re-ranks
    * the survivors. Deterministic, so the oracle replays it.
    */
  def lshTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
                        nBits: Int = 16, bands: Int = 4): DataFrame = {
    val width = nBits / bands
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val bk = bandedSignBits(df, idCol, vecCol, nBits, bands)
    // the query's own chunk plus its width Hamming-1 neighbors
    val probeChunks = array(
      col("chunk") +: (0 until width).map(i =>
        col("chunk").bitwiseXOR(lit(1L << i))): _*)
    val qb = bk.filter(col(idCol) === queryId)
      .select(col("band"), explode(probeChunks).as("chunk"))
    val cand = bk.filter(col(idCol) =!= queryId)
      .join(broadcast(qb), Seq("band", "chunk"))
      .select(col(idCol)).distinct()
    val q = e.filter(col(idCol) === queryId).select(col("__v").as("__qv"))
    cand.join(e, idCol)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(VectorFunctions.cosine(col("__v"), col("__qv")), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  def lshTopKMultiProbeDuckSql(table: String, idCol: String, vecCol: String, queryId: Long,
                               k: Int, dim: Int, nBits: Int = 16, bands: Int = 4): String = {
    val width = nBits / bands
    val mask = (1L << width) - 1
    val bandSelects = (0 until bands).map { b =>
      s"SELECT $idCol, $b AS band, (sig >> ${b * width}) & $mask AS chunk FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |sigs AS (SELECT $idCol, ${signBitsDuck("v", nBits)} AS sig FROM e),
       |bk AS ($bandSelects),
       |qb AS (
       |  SELECT band, unnest(list_prepend(chunk,
       |    list_transform(range(0, $width), i -> xor(chunk, CAST(1 AS BIGINT) << i)))) AS chunk
       |  FROM bk WHERE $idCol = $queryId),
       |cand AS (
       |  SELECT DISTINCT bk.$idCol FROM bk JOIN qb USING (band, chunk)
       |  WHERE bk.$idCol <> $queryId),
       |q AS (SELECT v AS qv FROM e WHERE $idCol = $queryId)
       |SELECT e.$idCol, round(${cosineDuck("v", "qv", dim)}, 4) AS score
       |FROM cand JOIN e ON cand.$idCol = e.$idCol, q
       |ORDER BY score DESC, e.$idCol ASC
       |LIMIT $k""".stripMargin
  }

  /** Driver-side dot product folding left-to-right like
    * graft_dot/list_sum, so probe-cell selection matches the oracle's
    * bit-for-bit (shared by [[ivfTopK]] and [[IvfIndex]]).
    */
  private[ann] def ivfDot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** The nProbe centroids closest to the query vector. 0.0-normalize
    * the negation (Scala's total order ranks -0.0 < 0.0, SQL doesn't).
    */
  private[ann] def ivfProbeCells(cent: Array[(Long, Seq[Double])], qv: Seq[Double],
                                 nProbe: Int): Seq[Long] = cent
    .map { case (cid, cv) =>
      val d = ivfDot(cv, qv)
      (if (d == 0.0) 0.0 else -d, cid)
    }
    .sortBy(identity).take(nProbe).map(_._2).toSeq

  /** Per-row cell assignment against literal centroids: lexicographic
    * min of struct(-dot, cid), evaluated inside codegen.
    */
  private[ann] def ivfCellExpr(cent: Array[(Long, Seq[Double])]): Column =
    array_min(array(cent.map { case (cid, cv) =>
      struct((-VectorFunctions.dot(col("__v"), typedLit(cv))).as("nd"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** IVF (inverted-file) ANN: vectors are assigned to the cell of their
    * nearest CENTROID; a query probes only the `nProbe` cells whose
    * centroids are closest, then ranks the probed vectors exactly. The
    * 100 TB shape: the corpus is partitioned/bucketed by cell id, so a
    * search reads nProbe/nCells of the data instead of all of it, and
    * assignment is one broadcast join (centroids are tiny).
    *
    * The coarse quantizer here picks the first `nCells` vectors by id
    * as centroids — deterministic, so the DuckDB oracle can run the
    * identical algorithm (a trained k-means codebook would slot into
    * the same plan; training is an offline concern). Similarity is the
    * dot product (the embeddings are unit-norm); ties break on cell id
    * in both engines.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    // Centroids + query vector are BOUNDED model state (nCells rows,
    // one row) — collect them and ship as literals, the KMeans-centers
    // pattern. Cell assignment is then a per-row argmin evaluated
    // inside codegen against the literal centroid arrays: no nCells-x
    // crossJoin blowup, no groupBy shuffle, no join-back on id — the
    // probe is ONE scan ending in TakeOrdered, at any corpus size.
    // ("first nCells vectors by id" literally — an id-range filter
    // would yield few/zero centroids when ids don't start at 0.)
    val cent: Array[(Long, Seq[Double])] = e.orderBy(col(idCol).asc).limit(nCells)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val qRows = e.filter(col(idCol) === queryId).select("__v").collect()
    if (qRows.isEmpty || cent.isEmpty)
      return e.select(col(idCol), lit(null).cast("double").as("score")).filter(lit(false))
    val qv = qRows.head.getSeq[Double](0)
    val probeCells = ivfProbeCells(cent, qv, nProbe)
    val cellExpr = ivfCellExpr(cent)
    val qvLit = typedLit(qv)
    e.filter(col(idCol) =!= queryId)
      .withColumn("__cell", cellExpr)
      .filter(col("__cell").isin(probeCells: _*))
      .select(col(idCol),
        round(VectorFunctions.cosine(col("__v"), qvLit), 4).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  def ivfTopKDuckSql(table: String, idCol: String, vecCol: String, queryId: Long, k: Int,
                     dim: Int, nCells: Int = 16, nProbe: Int = 4): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"
    s"""WITH e AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |cent AS (SELECT $idCol AS cid, v AS cv FROM e ORDER BY $idCol LIMIT $nCells),
       |assigned AS (
       |  SELECT $idCol, cid AS cell FROM (
       |    SELECT e.$idCol, cent.cid,
       |      row_number() OVER (PARTITION BY e.$idCol
       |        ORDER BY -(${dot("e.v", "cent.cv")}) ASC, cent.cid ASC) AS rn
       |    FROM e, cent) t WHERE rn = 1),
       |q AS (SELECT v AS qv FROM e WHERE $idCol = $queryId),
       |probes AS (
       |  SELECT cid AS cell FROM cent, q
       |  ORDER BY -(${dot("cv", "qv")}) ASC, cid ASC
       |  LIMIT $nProbe)
       |SELECT e.$idCol, round(${cosineDuck("e.v", "qv", dim)}, 4) AS score
       |FROM e JOIN assigned USING ($idCol) JOIN probes ON assigned.cell = probes.cell, q
       |WHERE e.$idCol <> $queryId
       |ORDER BY score DESC, e.$idCol ASC
       |LIMIT $k""".stripMargin
  }

  /** Cross-collection top-1 embedding match: for every row of `src`,
    * the best `tgt` row by cosine. Broadcast the target side; rank with
    * a per-source window (deterministic tie-break on target id).
    */
  def findMatches(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val a = src.select(col(idCol).as("src_id"), col(vecCol).cast("array<double>").as("__va"))
    val b = tgt.select(col(idCol).as("tgt_id"), col(vecCol).cast("array<double>").as("__vb"))
    val w = Window.partitionBy("src_id")
      .orderBy(col("__score").desc, col("tgt_id").asc)
    a.crossJoin(broadcast(b))
      .withColumn("__score", VectorFunctions.cosine(col("__va"), col("__vb")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("src_id"), col("tgt_id"), round(col("__score"), 4).as("score"))
  }

  def findMatchesDuckSql(table: String, idCol: String, vecCol: String,
                         srcPred: String, tgtPred: String, dim: Int): String =
    s"""WITH e AS (SELECT $idCol, $srcPred AS is_src, $tgtPred AS is_tgt,
       |             CAST($vecCol AS DOUBLE[]) AS v FROM $table)
       |SELECT src_id, tgt_id, round(c, 4) AS score FROM (
       |  SELECT a.$idCol AS src_id, b.$idCol AS tgt_id,
       |    ${cosineDuck("a.v", "b.v", dim)} AS c,
       |    row_number() OVER (PARTITION BY a.$idCol
       |      ORDER BY ${cosineDuck("a.v", "b.v", dim)} DESC, b.$idCol ASC) AS rn
       |  FROM e a, e b WHERE a.is_src AND b.is_tgt) t
       |WHERE rn = 1
       |ORDER BY src_id""".stripMargin

  /** Scale tier of [[findMatches]]: candidate generation via shared
    * sign-bit LSH bands on BOTH collections, exact cosine re-rank
    * within the candidates, top-1 per source — the target collection is
    * never broadcast and never crossJoined, so the plan survives a
    * target that is itself a full collection (the brute tier's
    * `broadcast(tgt)` dies when the target outgrows executor memory;
    * keep it for dim-sized targets only). Sources sharing no band with
    * any target produce no row — the approximation the banding buys;
    * the oracle replays the identical banding, so results stay
    * deterministic. `maxBucket` caps each side's (band, chunk) postings
    * so a degenerate corpus cannot turn one bucket quadratic. Default
    * banding is the corpus-scaled sampled-planes one
    * ([[scaledBandChunks]] at [[widthForCount]] of the larger side) —
    * the fixed 8-bit slicing this op shipped with melted the sf1→sf10
    * smoke decade (200k rows into 4×256 buckets ≈ 780/bucket ≈ 640M
    * candidate pairs spilling past the disk).
    */
  def findMatchesLsh(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                     nBits: Int = -1, bands: Int = -1,
                     maxBucket: Int = 10000, dims: Int = -1): DataFrame = {
    def withNorm(df: DataFrame, id: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(s"__v_$id"))
        .withColumn(s"__n_$id", VectorFunctions.norm(col(s"__v_$id")))
    val cand = lshCandidates(src, tgt, idCol, vecCol, nBits, bands, maxBucket, dims)
    val w = Window.partitionBy("src_id")
      .orderBy(col("__score").desc, col("tgt_id").asc)
    cand
      .join(withNorm(src, "src_id"), "src_id")
      .join(withNorm(tgt, "tgt_id"), "tgt_id")
      .withColumn("__score",
        VectorFunctions.dot(col("__v_src_id"), col("__v_tgt_id")) /
          (col("__n_src_id") * col("__n_tgt_id")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("src_id"), col("tgt_id"), round(col("__score"), 4).as("score"))
  }

  /** Distinct (src_id, tgt_id) LSH candidates of the two-sided match
    * tiers ([[findMatchesLsh]], [[Matcher.findMatchesLshTopN]]): rows of
    * `src` and `tgt` sharing a capped (band, chunk) bucket.
    *
    * Default (nBits = -1): the corpus-scaled sampled-planes banding —
    * chunk width from the LARGER side's count, identical on both sides
    * so the bucket keys align. An explicit nBits pins the legacy fixed
    * slicing (bands×width ≤ the 64-bit signature), the domain that
    * saturated at the sf1→sf10 decade — keep it for recall tuning at
    * known corpus sizes, not as the default. `bands` defaults per tier
    * (4 fixed / 8 scaled) and is honored on BOTH paths; `dims` defaults
    * to the data's own vector length so the plane index set matches the
    * Duck twin's caller-supplied dim for any corpus, not only 64-dim
    * ones.
    */
  private[ann] def lshCandidates(src: DataFrame, tgt: DataFrame, idCol: String,
                                 vecCol: String, nBits: Int, bands: Int,
                                 maxBucket: Int, dims: Int): DataFrame = {
    val bandsOf: DataFrame => DataFrame =
      if (nBits > 0) bandedSignBits(_, idCol, vecCol, nBits, if (bands > 0) bands else 4)
      else {
        // the two side counts are independent driver jobs — overlapped;
        // the width they produce is the sequential one
        val fSrc = Future(src.count())(ExecutionContext.global)
        val nTgt = tgt.count()
        val width = widthForCount(math.max(Await.result(fSrc, Duration.Inf), nTgt))
        val d = if (dims > 0) dims else inferDims(src, tgt, vecCol)
        scaledBandChunks(_, idCol, vecCol, width, bands = if (bands > 0) bands else 8, dims = d)
      }
    CandidateJoin.crossPairs(bandsOf(src), bandsOf(tgt), Seq("band", "chunk"), idCol, maxBucket)
      .select("src_id", "tgt_id").distinct()
  }

  /** Vector dimensionality read off the data itself (first non-empty
    * vector of either side; src wins) — the default for the scaled
    * match tiers so the sampled plane index set always matches the
    * Duck twins' caller-supplied `dim`. One 1-row collect of plan-time
    * metadata, the `bucketOfValue` pattern. Empty inputs fall back to
    * 64 (the result is empty either way — the planes never see a row).
    */
  private[ann] def inferDims(src: DataFrame, tgt: DataFrame, vecCol: String): Int = {
    def head1(df: DataFrame) = df
      .select(size(col(vecCol).cast("array<double>")).as("__d"))
      .filter(col("__d") > 0).limit(1).collect()
    val rows = { val r = head1(src); if (r.nonEmpty) r else head1(tgt) }
    if (rows.nonEmpty) rows.head.getInt(0) else 64
  }

  /** Shared twin fragment: the `bk` CTE chain (e must already exist)
    * for either banding — scaled sampled planes (nBits = -1, the
    * Spark default) or legacy fixed slicing. Yields rows
    * (idCol, is_src, is_tgt, band, chunk). `bands = -1` picks the
    * tier default (4 fixed / 8 scaled), mirroring the Spark side.
    */
  private[ann] def lshBkDuck(idCol: String, dim: Int, nBits: Int, bands: Int): String =
    if (nBits > 0) {
      val nb = if (bands > 0) bands else 4
      val width = nBits / nb
      val mask = (1L << width) - 1
      val bandSelects = (0 until nb).map { b =>
        s"SELECT $idCol, is_src, is_tgt, $b AS band, (sig >> ${b * width}) & $mask AS chunk FROM sigs"
      }.mkString("\nUNION ALL\n")
      s"""sigs AS (SELECT $idCol, is_src, is_tgt, ${signBitsDuck("v", nBits)} AS sig FROM e),
         |bk AS ($bandSelects),""".stripMargin
    } else {
      val bandSelects = scaledChunk0Duck(dim, bands = if (bands > 0) bands else 8).zipWithIndex
        .map { case (ce, b) => s"SELECT $idCol, is_src, is_tgt, $b AS band, $ce AS chunk0 FROM e" }
        .mkString("\nUNION ALL\n")
      s"""w AS (SELECT LEAST(${math.min(28, dim)}, ${widthForCountDuckSql("n")}) AS width FROM (
         |  SELECT greatest((SELECT count(*) FROM e WHERE is_src),
         |                  (SELECT count(*) FROM e WHERE is_tgt)) AS n) cnt),
         |bk AS (
         |  SELECT $idCol, is_src, is_tgt, band,
         |         chunk0 & ((CAST(1 AS BIGINT) << width) - 1) AS chunk
         |  FROM ($bandSelects) raw, w),""".stripMargin
    }

  def findMatchesLshDuckSql(table: String, idCol: String, vecCol: String,
                            srcPred: String, tgtPred: String, dim: Int,
                            nBits: Int = -1, bands: Int = -1,
                            maxBucket: Int = 10000): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"
    val cos = s"${dot("ea.v", "eb.v")} / (ea.nrm * eb.nrm)"
    s"""WITH e AS (SELECT $idCol, ($srcPred) AS is_src, ($tgtPred) AS is_tgt,
       |             CAST($vecCol AS DOUBLE[]) AS v,
       |             sqrt(${dot("v", "v")}) AS nrm FROM $table),
       |${lshBkDuck(idCol, dim, nBits, bands)}
       |bka AS (
       |  SELECT $idCol AS src_id, band, chunk FROM bk WHERE is_src
       |  QUALIFY count(*) OVER (PARTITION BY band, chunk) <= $maxBucket),
       |bkb AS (
       |  SELECT $idCol AS tgt_id, band, chunk FROM bk WHERE is_tgt
       |  QUALIFY count(*) OVER (PARTITION BY band, chunk) <= $maxBucket),
       |cand AS (SELECT DISTINCT src_id, tgt_id FROM bka JOIN bkb USING (band, chunk)),
       |scored AS (
       |  SELECT src_id, tgt_id, $cos AS c,
       |    row_number() OVER (PARTITION BY src_id ORDER BY $cos DESC, tgt_id ASC) AS rn
       |  FROM cand JOIN e ea ON cand.src_id = ea.$idCol
       |            JOIN e eb ON cand.tgt_id = eb.$idCol)
       |SELECT src_id, tgt_id, round(c, 4) + 0 AS score FROM scored WHERE rn = 1
       |ORDER BY src_id""".stripMargin
  }

  /** Deterministic 64-bit mixer (splitmix64 finalizer) — seeds the
    * band-plane sampling below. Hand-rolled so the index table is a
    * pure function of (seed, band, draw) in BOTH engines forever, not
    * of a library PRNG's implementation.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-band sign-bit planes: `bands` arrays of up-to-`width` DISTINCT
    * 1-based dimension indices, drawn deterministically from the mixer.
    * Unlike disjoint bit-slices of one signature (which cap
    * bands×width at the vector dimension), sampling with replacement
    * ACROSS bands lets band count and chunk width scale independently —
    * the banding S-curve needs both dials at 100 TB.
    */
  def bandPlanes(dims: Int, bands: Int, width: Int, seed: Long = 41L): Array[Array[Int]] =
    Array.tabulate(bands) { b =>
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      var j = 0
      val target = math.min(width, dims)
      while (picked.size < target) {
        picked += 1 + java.lang.Math.floorMod(mix64(seed + b * 1000003L + j), dims)
        j += 1
      }
      picked.toArray
    }

  /** Chunk width from a corpus-count estimate: one bit per doubling
    * past 2^8 rows, clamped to [8, 28] — the bucket key space tracks
    * the corpus with average band-bucket occupancy ≈ 1 instead of
    * saturating a fixed domain. The ladder starts at 2^8 (not 2^10,
    * the first version of this fix): real embedding corpora hash their
    * sign patterns SKEWED, and at occupancy ~3-4 the hot buckets'
    * Σc² grew ~30× across the sf1→sf10 decade (measured by the
    * embed_neardup ScaleSmoke finder) — sub-1 average occupancy keeps
    * the hot-bucket mass bounded by the actual near-dup structure.
    * The 28 cap replaced the original 24 after the FOURTH measured
    * bucket-load decade (round 13, BUCKET_LOAD_DECADES.json x1000 =
    * 20M vectors): at the 24-bit clamp the key domain stopped growing
    * while rows kept coming — per-row fuel jumped 179 → 502
    * candidates/row and the hottest bucket (16,067) blew past the
    * 10,000 skew cap, i.e. the cap started deleting recall. At 28 the
    * ladder stays occupancy-≈1 to ~2.7·10^8 rows (the widths at every
    * test SF are identical — the extra rungs only engage past 2^24
    * rows, so every oracle/bench number below 16.7M rows is
    * unchanged). Beyond ~10^8 rows raise `maxWidth`/`bands`
    * explicitly or use the cluster-bounded SemDeDup tier. Integer
    * threshold ladder, NOT ceil(log2 n): float log boundaries are the
    * kind of cross-engine hazard PortableRound exists for, and the
    * DuckDB twin replays these exact comparisons.
    */
  def widthForCount(n: Long): Int =
    8 + (8 to 27).count(k => n > (1L << k))

  def widthForCountDuckSql(nExpr: String): String =
    "8 + " + (8 to 27).map(k => s"(CASE WHEN ($nExpr) > ${1L << k} THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** (id, band, chunk) keys from the corpus-scaled sampled sign planes
    * — the banding [[nearDupPairs]] pairs on, factored out so every
    * two-sided matcher shares ONE scaled candidate generator instead
    * of the fixed-domain [[bandedSignBits]] slicing (whose bands×width
    * is capped at the 64-bit signature — the domain that saturated at
    * the sf1→sf10 decade). Both sides of a join must pass the SAME
    * `width` (derive it from the larger side's count) or their chunk
    * keys will not align.
    */
  def scaledBandChunks(df: DataFrame, idCol: String, vecCol: String, width: Int,
                       bands: Int = 8, dims: Int = 64, maxWidth: Int = 28,
                       seed: Long = 41L): DataFrame = {
    val w = math.min(math.min(maxWidth, dims), width)
    val planes = bandPlanes(dims, bands, math.min(maxWidth, dims), seed)
    val v = col(vecCol).cast("array<double>")
    val chunks = planes.zipWithIndex.map { case (idxs, b) =>
      struct(lit(b).as("band"),
        idxs.take(w).zipWithIndex.map { case (idx, j) =>
          when(try_element_at(v, lit(idx)) > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("chunk"))
    }
    df.select(col(idCol), explode(array(chunks.toSeq: _*)).as("bc"))
      .select(col(idCol), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
  }

  /** Embedding-cosine near-duplicate pairs via banded sign-bit LSH +
    * cosine verify. Pairs only form inside (band, chunk) buckets.
    *
    * Scale shape (the round-9 weak mark, fixed): the chunk width — and
    * with it the bucket key space — SCALES WITH THE CORPUS
    * ([[widthForCount]]: 2^8 buckets per band at ≤256 rows up to 2^24
    * past ~8M, average band-bucket occupancy ≈ 1), so candidate counts
    * stay ~linear instead of going quadratic inside a constant
    * 4×256-bucket domain, and the `maxBucket` cap stays a skew guard
    * instead of becoming the main path (where it silently deletes
    * recall). Recall is held up by 8 bands of sampled planes (more
    * bands ⇒ more chances to collide; the S-curve 1-(1-p^w)^b at
    * w=16, b=8 gives ≈0.75 for cosine-0.95 pairs and ≈1.0 for
    * near-exact ones — the regime the op is named for) and AUDITED
    * against exact brute-force pairs by `q_embed_dedup_recall`.
    * Exact duplicates share every sign bit, hence every band, at any
    * width. Norms are precomputed PER VECTOR before the pair join, so
    * each candidate pair costs one dot product, not three. Beyond
    * ~10^8 vectors the cluster-bounded SemDeDup tier is the intended
    * path; this one stays the direct pairwise audit tool.
    *
    * The one count() materializes the input once to size the width —
    * at 100 TB that's a metadata count on the scan or a cached
    * estimate; pass `widthOverride` to skip it entirely.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double,
                   bands: Int = 8, maxWidth: Int = 28, dims: Int = 64,
                   maxBucket: Int = 10000, seed: Long = 41L,
                   widthOverride: Option[Int] = None): DataFrame = {
    val width = math.min(math.min(maxWidth, dims),
      widthOverride.getOrElse(widthForCount(df.count())))
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__nrm", VectorFunctions.norm(col("__v")))
    // chunk for band b = bits of planes(b).take(width): identical to
    // the Duck twin's full-width chunk masked to `width`, since bit j
    // comes from plane j in both engines.
    // skew guard: a degenerate embedding corpus cannot turn one bucket
    // quadratic
    val keys = Seq("band", "chunk")
    val bk = CandidateJoin.cap(
      scaledBandChunks(e, idCol, "__v", width, bands, dims, maxWidth, seed), keys, maxBucket)
    val cand = CandidateJoin.selfPairs(bk, keys, idCol).select("id_a", "id_b").distinct()
    cand
      .join(e.select(col(idCol).as("id_a"), col("__v").as("__va"), col("__nrm").as("__na")), "id_a")
      .join(e.select(col(idCol).as("id_b"), col("__v").as("__vb"), col("__nrm").as("__nb")), "id_b")
      .withColumn("score", round(
        VectorFunctions.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 4))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** DuckDB full-width (pre-mask) chunk0 expressions over an alias `v`,
    * one per band — the twin of [[scaledBandChunks]]'s plane bits; the
    * runtime width masks them down with `chunk0 & ((1 << width) - 1)`.
    */
  def scaledChunk0Duck(dim: Int, bands: Int = 8, maxWidth: Int = 28,
                       seed: Long = 41L): Seq[String] =
    bandPlanes(dim, bands, math.min(maxWidth, dim), seed).toSeq.map { idxs =>
      idxs.zipWithIndex.map { case (idx, j) =>
        s"(CASE WHEN v[$idx] > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("(", " + ", ")")
    }

  def nearDupPairsDuckSql(fromSql: String, idCol: String, vecCol: String, threshold: Double,
                          dim: Int, bands: Int = 8, maxWidth: Int = 28,
                          maxBucket: Int = 10000, seed: Long = 41L): String = {
    val effMax = math.min(maxWidth, dim)
    // full-width chunk per band; the runtime width masks it down
    val bandSelects = scaledChunk0Duck(dim, bands, maxWidth, seed).zipWithIndex
      .map { case (ce, b) => s"SELECT $idCol, $b AS band, $ce AS chunk0 FROM e" }
      .mkString("\nUNION ALL\n")
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"
    s"""WITH e AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v,
       |             sqrt(${dot("v", "v")}) AS nrm FROM ($fromSql) src),
       |w AS (SELECT LEAST($effMax, ${widthForCountDuckSql("count(*)")}) AS width FROM e),
       |bk AS (
       |  SELECT $idCol, band,
       |         chunk0 & ((CAST(1 AS BIGINT) << width) - 1) AS chunk
       |  FROM ($bandSelects) raw, w
       |  QUALIFY count(*) OVER (PARTITION BY band, chunk) <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.$idCol AS id_a, b.$idCol AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.chunk = b.chunk
       |  WHERE a.$idCol < b.$idCol)
       |SELECT id_a, id_b, score FROM (
       |  SELECT id_a, id_b,
       |    round(${dot("ea.v", "eb.v")} / (ea.nrm * eb.nrm), 4) AS score
       |  FROM cand JOIN e ea ON cand.id_a = ea.$idCol
       |            JOIN e eb ON cand.id_b = eb.$idCol) t
       |WHERE score >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Per-band bucket-load audit of [[nearDupPairs]]'s banding — the
    * quadratic-pair FUEL, measured instead of guessed (the
    * q_shingle_df_hist convention on the vector side): for each band,
    * the occupied-bucket count, corpus rows, the hottest bucket's
    * occupancy, Σc² and Σ c·(c−1)/2 over bucket occupancies c (the
    * candidate-pair count the band would feed the verify join BEFORE
    * the maxBucket cap). This is the number whose growth across
    * decades decides whether the [[widthForCount]] ladder holds at the
    * next 10× — sub-linear n_cand_pairs growth means occupancy stays
    * ~1; super-linear flags hot sign-pattern buckets before they
    * become the bottleneck (re-widen the ladder, raise bands, or drop
    * to the SemDeDup tier).
    *
    * Runs the IDENTICAL banding as the finder (same planes, same
    * corpus-scaled width): audit numbers transfer 1:1.
    */
  def bucketLoadAudit(df: DataFrame, idCol: String, vecCol: String,
                      bands: Int = 8, maxWidth: Int = 28, dims: Int = 64,
                      seed: Long = 41L,
                      widthOverride: Option[Int] = None): DataFrame = {
    val width = math.min(math.min(maxWidth, dims),
      widthOverride.getOrElse(widthForCount(df.count())))
    val e = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    scaledBandChunks(e, idCol, "__v", width, bands, dims, maxWidth, seed)
      .groupBy("band", "chunk").agg(count(lit(1)).as("c"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * col("c")).as("sum_c2"),
        // c·(c−1) is even and non-negative: shiftright IS the exact /2
        // (Column./ is double division — a schema drift vs the BIGINT twin)
        sum(shiftright(col("c") * (col("c") - 1), 1)).as("n_cand_pairs"))
      .orderBy("band")
  }

  /** DuckDB twin of [[bucketLoadAudit]]. */
  def bucketLoadAuditDuckSql(fromSql: String, idCol: String, vecCol: String,
                             dim: Int, bands: Int = 8, maxWidth: Int = 28,
                             seed: Long = 41L): String = {
    val effMax = math.min(maxWidth, dim)
    val bandSelects = scaledChunk0Duck(dim, bands, maxWidth, seed).zipWithIndex
      .map { case (ce, b) => s"SELECT $idCol, $b AS band, $ce AS chunk0 FROM e" }
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v FROM ($fromSql) src),
       |w AS (SELECT LEAST($effMax, ${widthForCountDuckSql("count(*)")}) AS width FROM e),
       |bk AS (
       |  SELECT $idCol, band,
       |         chunk0 & ((CAST(1 AS BIGINT) << width) - 1) AS chunk
       |  FROM ($bandSelects) raw, w),
       |cb AS (SELECT band, chunk, CAST(count(*) AS BIGINT) AS c
       |       FROM bk GROUP BY band, chunk)
       |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(c) AS BIGINT) AS n_rows,
       |  CAST(max(c) AS BIGINT) AS max_bucket,
       |  CAST(sum(c * c) AS BIGINT) AS sum_c2,
       |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs
       |FROM cb GROUP BY band ORDER BY band""".stripMargin
  }

  /** Per-band bucket-load audit of the TWO-SIDED matcher banding
    * ([[findMatchesLsh]] / [[graft.ann.Matcher.findMatchesLshTopN]]) —
    * the cross-product candidate FUEL, measured instead of guessed:
    * the [[bucketLoadAudit]] treatment for the matcher surface
    * (reference embedding_matcher.py), the round-12 verdict's
    * worst-remaining ScaleSmoke ratio (matcher_lsh 16.2×).
    *
    * Runs the IDENTICAL banding as the matchers' default scaled path
    * (same planes, same [[widthForCount]] width from the LARGER side's
    * count — both sides MUST share one width or their chunk keys would
    * not align), tags each side, and aggregates per (band, chunk) the
    * src occupancy `cs` and tgt occupancy `ct`. Per band:
    * co-occupied bucket count, per-side row totals, per-side hottest
    * bucket, and Σ cs·ct — exactly the candidate-pair count the band
    * would feed the metric re-rank join BEFORE the maxBucket cap and
    * the distinct. One banding pass + one aggregation, NO pair join,
    * so the 100× decade point is affordable where the full matcher is
    * not; sub-quadratic n_cand_pairs growth across decades is the
    * evidence that the ladder holds for the matcher shape too.
    */
  def matcherBucketLoadAudit(src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
                             bands: Int = 8, maxWidth: Int = 28, dims: Int = -1,
                             seed: Long = 41L,
                             widthOverride: Option[Int] = None): DataFrame = {
    val width = widthOverride.getOrElse(
      widthForCount(math.max(src.count(), tgt.count())))
    val d = if (dims > 0) dims else inferDims(src, tgt, vecCol)
    def sideBands(df: DataFrame, isSrc: Boolean) =
      scaledBandChunks(df, idCol, vecCol, width, bands, d, maxWidth, seed)
        .select(col("band"), col("chunk"),
          lit(if (isSrc) 1L else 0L).as("__s"),
          lit(if (isSrc) 0L else 1L).as("__t"))
    sideBands(src, isSrc = true).unionByName(sideBands(tgt, isSrc = false))
      .groupBy("band", "chunk")
      .agg(sum(col("__s")).as("cs"), sum(col("__t")).as("ct"))
      .groupBy("band").agg(
        sum(when(col("cs") > 0 && col("ct") > 0, 1L).otherwise(0L)).as("n_buckets"),
        sum(col("cs")).as("n_src_rows"),
        sum(col("ct")).as("n_tgt_rows"),
        max(col("cs")).as("max_src_bucket"),
        max(col("ct")).as("max_tgt_bucket"),
        sum(col("cs") * col("ct")).as("n_cand_pairs"))
      .orderBy("band")
  }

  /** DuckDB twin of [[matcherBucketLoadAudit]] — reuses the matcher
    * twins' exact `bk` banding fragment ([[lshBkDuck]], scaled path),
    * so the audit numbers transfer 1:1 to [[findMatchesLshDuckSql]].
    */
  def matcherBucketLoadAuditDuckSql(table: String, idCol: String, vecCol: String,
                                    srcPred: String, tgtPred: String, dim: Int,
                                    bands: Int = -1): String =
    s"""WITH e AS (SELECT $idCol, ($srcPred) AS is_src, ($tgtPred) AS is_tgt,
       |             CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |${lshBkDuck(idCol, dim, nBits = -1, bands = bands)}
       |cb AS (
       |  SELECT band, chunk,
       |    CAST(sum(CASE WHEN is_src THEN 1 ELSE 0 END) AS BIGINT) AS cs,
       |    CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM bk GROUP BY band, chunk)
       |SELECT band,
       |  CAST(sum(CASE WHEN cs > 0 AND ct > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets,
       |  CAST(sum(cs) AS BIGINT) AS n_src_rows,
       |  CAST(sum(ct) AS BIGINT) AS n_tgt_rows,
       |  CAST(max(cs) AS BIGINT) AS max_src_bucket,
       |  CAST(max(ct) AS BIGINT) AS max_tgt_bucket,
       |  CAST(sum(cs * ct) AS BIGINT) AS n_cand_pairs
       |FROM cb GROUP BY band ORDER BY band""".stripMargin

  /** Semantic train/eval decontamination: flag every train row whose
    * embedding is within cosine `threshold` of ANY eval embedding — the
    * embedding-space analog of the n-gram `Corpus.decontaminate`
    * (catches paraphrased benchmark leakage that exact n-gram overlap
    * misses). Candidates come from the same sign-bit banding as
    * [[nearDupPairs]], but CROSS-side: the eval set's band keys and
    * vectors broadcast (benchmark suites are thousands of rows, not
    * corpora), so the 100 TB train side computes its bands map-side and
    * never shuffles — candidate verification joins the bounded candidate
    * id set back under AQE. Returns one row per train row:
    * (idCol, contaminated) — callers drop `contaminated` rows.
    */
  def decontaminateEmbed(
      train: DataFrame,
      eval: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 32,
      bands: Int = 4): DataFrame = {
    val tb = bandedSignBits(train, idCol, vecCol, nBits, bands)
      .select(col("band"), col("chunk"), col(idCol).as("__train_id"))
    val eb = bandedSignBits(eval, idCol, vecCol, nBits, bands)
      .select(col("band"), col("chunk"), col(idCol).as("__eval_id"))
    val cand = tb.join(broadcast(eb), Seq("band", "chunk"))
      .select("__train_id", "__eval_id").distinct()
    val tv = train.select(col(idCol).as("__train_id"),
        col(vecCol).cast("array<double>").as("__tv"))
      .withColumn("__tn", VectorFunctions.norm(col("__tv")))
    val ev = eval.select(col(idCol).as("__eval_id"),
        col(vecCol).cast("array<double>").as("__ev"))
      .withColumn("__en", VectorFunctions.norm(col("__ev")))
    // NOT a semi join (round-14 negative, measured): the q_semdedup
    // EXISTS-as-left-semi rewrite was tried here and regressed 1.49 →
    // 2.65 s at sf1 (q_pipeline_e2e 4.19 → 6.16) — the semi's BUILD
    // side would be the candidate-pair × eval-vector table, which this
    // form never materializes (pairs stream against the broadcast eval
    // side and collapse in the distinct's partial aggregate).
    val hit = cand
      .join(tv, "__train_id")
      .join(broadcast(ev), "__eval_id")
      .filter(round(VectorFunctions.dot(col("__tv"), col("__ev")) /
        (col("__tn") * col("__en")), 4) >= threshold)
      .select(col("__train_id")).distinct()
      .withColumn("__c", lit(true))
    train.select(col(idCol))
      .join(hit, col(idCol) === col("__train_id"), "left")
      .select(col(idCol), coalesce(col("__c"), lit(false)).as("contaminated"))
  }

  /** DuckDB twin of [[decontaminateEmbed]]; train/eval sides are the
    * base table restricted by `trainWhere` / `evalWhere`.
    */
  def decontaminateEmbedDuckSql(
      table: String,
      idCol: String,
      vecCol: String,
      trainWhere: String,
      evalWhere: String,
      threshold: Double,
      dim: Int,
      nBits: Int = 32,
      bands: Int = 4): String = {
    val width = nBits / bands
    val mask = (1L << width) - 1
    def bandSelects(src: String) = (0 until bands).map { b =>
      s"SELECT $idCol, $b AS band, (sig >> ${b * width}) & $mask AS chunk FROM $src"
    }.mkString("\nUNION ALL\n")
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> $x[i] * $y[i]))"
    s"""WITH tr AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v,
       |              sqrt(${dot("v", "v")}) AS nrm FROM $table WHERE $trainWhere),
       |ev AS (SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v,
       |              sqrt(${dot("v", "v")}) AS nrm FROM $table WHERE $evalWhere),
       |tsig AS (SELECT $idCol, ${signBitsDuck("v", nBits)} AS sig FROM tr),
       |esig AS (SELECT $idCol, ${signBitsDuck("v", nBits)} AS sig FROM ev),
       |tbk AS (${bandSelects("tsig")}),
       |ebk AS (${bandSelects("esig")}),
       |cand AS (
       |  SELECT DISTINCT t.$idCol AS train_id, e.$idCol AS eval_id
       |  FROM tbk t JOIN ebk e ON t.band = e.band AND t.chunk = e.chunk),
       |hit AS (
       |  SELECT DISTINCT train_id
       |  FROM cand JOIN tr ON cand.train_id = tr.$idCol
       |            JOIN ev ON cand.eval_id = ev.$idCol
       |  WHERE round(${dot("tr.v", "ev.v")} / (tr.nrm * ev.nrm), 4) >= $threshold)
       |SELECT tr.$idCol, (hit.train_id IS NOT NULL) AS contaminated
       |FROM tr LEFT JOIN hit ON tr.$idCol = hit.train_id
       |ORDER BY tr.$idCol""".stripMargin
  }

  /** k-NN classification of the probe rows (matching `probePred`): each
    * probe takes the majority label of its k nearest train neighbors
    * (train = everything NOT matching `probePred`) by cosine; vote ties
    * break toward the smaller label, rank ties toward the smaller train
    * id. The sklearn-engine analog (reference: src/linkml_store/
    * inference/implementations/sklearn_inference_engine.py) as pure
    * joins + windows — no fitted model object, no driver loop: the
    * bounded probe set broadcasts, the train corpus streams once.
    * At 100 TB the exact candidate set swaps for LSH/IVF buckets
    * (rows 37/37a) — the rank-and-vote shape is unchanged.
    * Returns (idCol, label, label_pred, correct) per probe.
    */
  def classifyKnn(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      probePred: Column,
      k: Int): DataFrame = {
    val e = df.select(col(idCol), col(labelCol),
      col(vecCol).cast("array<double>").as("__v"))
    // coalesce the split predicate: a row where it evaluates to NULL
    // must land in exactly one set (train), not silently vanish from
    // both sides of the filter pair
    val isProbe = coalesce(probePred, lit(false))
    val probes = e.filter(isProbe)
      .select(col(idCol).as("__pid"), col(labelCol).as("label"), col("__v").as("__pv"))
    val train = e.filter(!isProbe)
      .select(col(idCol).as("__tid"), col(labelCol).as("__tlabel"), col("__v"))
    val scored = train.crossJoin(broadcast(probes))
      .select(col("__pid"), col("label"), col("__tid"), col("__tlabel"),
        round(VectorFunctions.cosine(col("__v"), col("__pv")), 4).as("score"))
    val top = scored.withColumn("rnk", row_number().over(
        Window.partitionBy("__pid").orderBy(col("score").desc, col("__tid").asc)))
      .filter(col("rnk") <= k)
    top.groupBy(col("__pid"), col("label"), col("__tlabel"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy("__pid").orderBy(col("votes").desc, col("__tlabel").asc)))
      .filter(col("vr") === 1)
      .select(col("__pid").as(idCol), col("label"),
        col("__tlabel").as("label_pred"),
        (col("label") === col("__tlabel")).as("correct"))
      .orderBy(idCol)
  }

  /** DuckDB twin of [[classifyKnn]]; `probePredSql` mirrors probePred. */
  def classifyKnnDuckSql(
      table: String,
      idCol: String,
      vecCol: String,
      labelCol: String,
      probePredSql: String,
      k: Int,
      dim: Int): String =
    s"""WITH e AS (SELECT $idCol, $labelCol, CAST($vecCol AS DOUBLE[]) AS v FROM $table),
       |p AS (SELECT $idCol AS pid, $labelCol AS label, v AS pv FROM e WHERE coalesce($probePredSql, false)),
       |t AS (SELECT $idCol AS tid, $labelCol AS tlabel, v FROM e WHERE NOT coalesce($probePredSql, false)),
       |scored AS (
       |  SELECT pid, label, tid, tlabel,
       |         round(${cosineDuck("v", "pv", dim)}, 4) AS score
       |  FROM t, p),
       |top AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY pid ORDER BY score DESC, tid ASC) AS rnk
       |  FROM scored),
       |votes AS (
       |  SELECT pid, label, tlabel, count(*) AS votes
       |  FROM top WHERE rnk <= $k GROUP BY pid, label, tlabel),
       |best AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY pid ORDER BY votes DESC, tlabel ASC) AS vr
       |  FROM votes)
       |SELECT pid AS $idCol, label, tlabel AS label_pred,
       |       (label = tlabel) AS correct
       |FROM best WHERE vr = 1
       |ORDER BY $idCol""".stripMargin
}
