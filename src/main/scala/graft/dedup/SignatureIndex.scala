package graft.dedup

import graft.io.ParquetDir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature index — incremental near-dup detection
  * for the daily-ingest corpus (reference scope: the dedupe surface,
  * extended to the scale workflow the reference's in-memory path
  * cannot express: at 100 TB you do NOT re-shingle the corpus every
  * time a delta arrives).
  *
  * On disk under `dir`:
  *  - `bands/`    — (id, band, bkey): the LSH join side, one row per
  *    doc per band. Tiny relative to text (bands × 36 bytes/doc).
  *  - `shingles/` — (id, sh): integer shingle sets for exact verify.
  *  - `_META`     — k, w, bands (the delta MUST hash identically).
  *
  * Delta query shape ([[deltaPairs]]): the delta's band keys BROADCAST
  * against the corpus band scan (map-side hash join — the corpus never
  * shuffles), candidates dedupe, and only candidate corpus rows'
  * shingle sets are read for the exact-Jaccard verify (again via a
  * broadcast of the candidate id set). Corpus-side cost is two
  * broadcast-filtered scans of the INDEX (not the text), linear in
  * corpus size with a ~36-byte row — and nothing corpus-sized ever
  * crosses the wire. [[append]] then folds the delta into the index
  * (append-mode write, no rewrite of existing files).
  */
object SignatureIndex {

  final case class Meta(k: Int, w: Int, bands: Int)

  def build(df: DataFrame, idCol: String, textCol: String, dir: String,
            k: Int = 8, w: Int = 3, bands: Int = 4): Unit = {
    ParquetDir.write(MinHash.bandRows(df, idCol, textCol, k, w, bands), s"$dir/bands",
      "overwrite")
    ParquetDir.write(MinHash.shingleSets(df, idCol, textCol, w), s"$dir/shingles",
      "overwrite")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_META"),
      s"$k\t$w\t$bands")
  }

  def meta(dir: String): Meta = {
    val Array(k, w, b) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "_META"))
        .trim.split('\t').map(_.toInt)
    Meta(k, w, b)
  }

  /** Fold a delta into the index (append-mode: existing files stay).
    * Call AFTER [[deltaPairs]] — an appended doc would otherwise
    * match itself.
    */
  def append(df: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    val mt = meta(dir)
    ParquetDir.write(MinHash.bandRows(df, idCol, textCol, mt.k, mt.w, mt.bands),
      s"$dir/bands", "append")
    ParquetDir.write(MinHash.shingleSets(df, idCol, textCol, mt.w), s"$dir/shingles",
      "append")
  }

  /** Near-dup pairs of `delta` against the PERSISTED corpus index:
    * (new_id, corpus_id, jaccard), exact set-Jaccard ≥ threshold.
    * The delta is assumed small vs the corpus (the ingest batch) —
    * its band keys and candidate ids broadcast; the corpus side is
    * two map-only index scans.
    */
  def deltaPairs(spark: SparkSession, dir: String, delta: DataFrame,
                 idCol: String, textCol: String, threshold: Double = 0.5,
                 maxBucket: Int = MinHash.DefaultMaxBucket,
                 scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val mt = meta(dir)
    val corpusBands = ParquetDir.read(spark, s"$dir/bands")
      .toDF(idCol, "band", "bkey")
    val corpusSh = ParquetDir.read(spark, s"$dir/shingles").toDF(idCol, "sh")
    crossPairs(corpusBands, corpusSh, delta, idCol, textCol,
      mt.k, mt.w, mt.bands, threshold, maxBucket, scope)
  }

  /** Frame-vs-frame variant (corpus bands/shingles computed inline):
    * the same plan [[deltaPairs]] runs, without the persistence — and
    * the form the registered query/oracle checks.
    */
  def crossPairsInline(corpus: DataFrame, delta: DataFrame, idCol: String,
                       textCol: String, k: Int = 8, w: Int = 3, bands: Int = 4,
                       threshold: Double = 0.5,
                       maxBucket: Int = MinHash.DefaultMaxBucket,
                       scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame =
    crossPairs(MinHash.bandRows(corpus, idCol, textCol, k, w, bands),
      MinHash.shingleSets(corpus, idCol, textCol, w),
      delta, idCol, textCol, k, w, bands, threshold, maxBucket, scope)

  private def crossPairs(corpusBands: DataFrame, corpusSh: DataFrame,
                         delta: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int, bands: Int, threshold: Double,
                         maxBucket: Int,
                         scope: graft.api.CacheScope): DataFrame = {
    // both the band join and the verify reference the delta's derived
    // frames — persist them through the scope, broadcast explicitly
    // (delta << corpus is the contract of this operator)
    val deltaBands = scope.persist(
      MinHash.bandRows(delta, idCol, textCol, k, w, bands))
    val deltaSh = scope.persist(MinHash.shingleSets(delta, idCol, textCol, w))
    // skew guard on the CORPUS side (a degenerate bucket of thousands
    // of identical corpus docs must not go quadratic against a delta
    // doc landing in it) WITHOUT a corpus shuffle: bucket sizes are
    // counted only for the DELTA's band keys — a map-only broadcast
    // semi-join, then a partial aggregate whose map-side combine
    // bounds the exchange to ≤ |delta keys| rows per partition. A
    // bucket's size is unchanged by the key restriction (every row of
    // a matching bucket matches), so the cap equals the oracle's
    // full-corpus QUALIFY.
    val deltaKeys = deltaBands.select(col("band"), col("bkey")).distinct()
    val okKeys = corpusBands
      .join(broadcast(deltaKeys), Seq("band", "bkey"), "left_semi")
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucket)
      .select(col("band"), col("bkey"))
    val cand = corpusBands
      .join(broadcast(okKeys), Seq("band", "bkey"), "left_semi")
      .join(broadcast(deltaBands.select(col("band"), col("bkey"),
        col(idCol).as("new_id"))), Seq("band", "bkey"))
      .select(col(idCol).as("corpus_id"), col("new_id"))
      .filter(col("corpus_id") =!= col("new_id")) // delta re-runs after append
      .distinct()
    CandidateJoin.withJaccard(cand
        .join(corpusSh.select(col(idCol).as("corpus_id"), col("sh").as("sh_a")), "corpus_id")
        .join(broadcast(deltaSh.select(col(idCol).as("new_id"), col("sh").as("sh_b"))), "new_id"),
        "sh_a", "sh_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
  }

  /** DuckDB twin of [[crossPairsInline]] with corpus/delta as WHERE
    * splits of one table.
    */
  def crossPairsDuckSql(table: String, idCol: String, textCol: String,
                        corpusWhere: String, deltaWhere: String,
                        k: Int = 8, w: Int = 3, bands: Int = 4,
                        threshold: Double = 0.5,
                        maxBucket: Int = MinHash.DefaultMaxBucket): String = {
    val r = k / bands
    def bandSql(src: String) = {
      val bandSelects = (0 until bands).map { b =>
        val slice = (b * r until (b + 1) * r).map(i => s"CAST(mh_$i AS VARCHAR)").mkString(", ")
        s"SELECT $idCol, $b AS band, md5(concat_ws(':', $slice)) AS bkey FROM $src"
      }.mkString("\nUNION ALL\n")
      s"($bandSelects)"
    }
    s"""WITH corpus AS (SELECT * FROM $table WHERE $corpusWhere),
       |delta AS (SELECT * FROM $table WHERE $deltaWhere),
       |csig AS (${MinHash.signaturesDuckSql("corpus", idCol, textCol, k, w)}),
       |dsig AS (${MinHash.signaturesDuckSql("delta", idCol, textCol, k, w)}),
       |cbk AS (
       |  SELECT * FROM ${bandSql("csig")} raw
       |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $maxBucket),
       |dbk AS (SELECT * FROM ${bandSql("dsig")} raw),
       |cand AS (
       |  SELECT DISTINCT c.$idCol AS corpus_id, d.$idCol AS new_id
       |  FROM cbk c JOIN dbk d ON c.band = d.band AND c.bkey = d.bkey
       |  WHERE c.$idCol <> d.$idCol),
       |csh AS MATERIALIZED (
       |  SELECT $idCol, hs AS sh
       |  FROM (${MinHash.hashedShingleDuck("corpus", idCol, textCol, w)}) __c0),
       |dsh AS MATERIALIZED (
       |  SELECT $idCol, hs AS sh
       |  FROM (${MinHash.hashedShingleDuck("delta", idCol, textCol, w)}) __d0)
       |SELECT new_id, corpus_id, jaccard FROM (
       |  SELECT cand.new_id, cand.corpus_id,
       |    round(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) /
       |      CAST(len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN csh sa ON cand.corpus_id = sa.$idCol
       |            JOIN dsh sb ON cand.new_id = sb.$idCol) t
       |WHERE jaccard >= $threshold
       |ORDER BY new_id, corpus_id""".stripMargin
  }
}
