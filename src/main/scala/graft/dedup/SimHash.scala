package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash fingerprinting: a 60-bit locality-sensitive hash where
  * near-identical documents differ in few bits (compare by hamming
  * distance). 60 bits (not 64) so the md5-derived token hash fits a
  * signed BIGINT in both Spark and DuckDB for the oracle.
  *
  * Per document: hash each distinct token to 60 bits; fingerprint bit b
  * is 1 iff more token hashes have bit b set than not. The per-bit
  * tallies are generated as flat codegen-friendly expressions over the
  * token-hash array — one scan, no shuffle.
  *
  * Near-dup pairs use LSH banding, NOT an all-pairs cross join: split
  * the 60 bits into maxDist+1 chunks; hamming <= maxDist guarantees at
  * least one chunk matches exactly (pigeonhole), so joining on
  * (band, chunk) finds EVERY qualifying pair while candidate formation
  * stays bounded by bucket sizes — the property that survives 100 TB.
  */
object SimHash {
  val Bits = 60

  /** Skew guard: (band, chunk) buckets larger than this are skipped
    * during candidate generation. A degenerate corpus (thousands of
    * identical or empty documents) would otherwise make one bucket
    * quadratic in the pair join. Capped buckets can drop true pairs —
    * the cap is deliberately far above any non-adversarial bucket size,
    * and the oracle applies the identical cap.
    */
  val DefaultMaxBucket = 10000

  private[graft] def tokenHashesExpr(textCol: String): String =
    s"transform(array_distinct(split($textCol, ' ')), t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint))"

  private def tokenHashesDuck(textCol: String): String =
    s"list_transform(list_distinct(string_split($textCol, ' ')), t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT))"

  /** SimHash fingerprint column for `textCol` (uses a precomputed
    * token-hash array column named `hs`).
    */
  private[dedup] def fingerprintFromHashes(hs: String): String =
    (0 until Bits).map { b =>
      s"IF(aggregate($hs, 0L, (acc, h) -> acc + IF((shiftright(h, $b) & 1) = 1, 1L, -1L)) > 0, shiftleft(cast(1 as bigint), $b), 0L)"
    }.mkString(" + ")

  private def fingerprintFromHashesDuck(hs: String): String =
    (0 until Bits).map { b =>
      s"CASE WHEN list_sum(list_transform($hs, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")

  /** (idCol, simhash) per row; unordered (order in the query if needed).
    * Uses the native one-pass tally expression
    * ([[graft.functions.SimHashFingerprint]]) — the SQL form
    * ([[fingerprintFromHashes]], kept as the formulation twin for the
    * oracle) folds 60 interpreted per-bit aggregates over the same
    * array. Integer tallies, so both forms are bit-identical.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // native one-pass token hashing ([[graft.functions.TokenHashes60]]);
    // [[tokenHashesExpr]] stays as the oracle's formulation twin
    df.select(col(idCol),
        call_function("graft_token_hashes60", col(textCol)).as("__hs"))
      .select(col(idCol), call_function("graft_simhash", col("__hs")).as("simhash"))
  }

  def fingerprintsDuckSql(table: String, idCol: String, textCol: String): String =
    s"""SELECT $idCol, ${fingerprintFromHashesDuck("hs")} AS simhash
       |FROM (SELECT $idCol, ${tokenHashesDuck(textCol)} AS hs FROM $table) t
       |ORDER BY $idCol""".stripMargin

  /** All pairs (id_a < id_b) with hamming(simhash_a, simhash_b) <=
    * maxDist, found via exact LSH banding (maxDist+1 bit-chunks; a
    * qualifying pair must agree exactly on >=1 chunk). Candidates only
    * form inside (band, chunk) buckets: no cartesian product anywhere
    * in the plan.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String, maxDist: Int = 3,
      maxBucket: Int = DefaultMaxBucket,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    // persisted: the pair plan references the fingerprints from three
    // branches (band explode + both verify-join sides) and a pure
    // projection has no exchange for Spark to reuse — without the cache
    // the 60-bit tally expression runs three times over the corpus
    val fps = scope.persist(fingerprints(df, idCol, textCol))
    nearDupPairsFromFingerprints(fps, idCol, maxDist, maxBucket)
  }

  def nearDupPairsFromFingerprints(fps: DataFrame, idCol: String, maxDist: Int,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxDist >= 0 && maxDist < Bits, s"maxDist must be in [0, $Bits)")
    val bands = maxDist + 1
    val width = (Bits + bands - 1) / bands
    val chunkCols = (0 until bands).map { b =>
      val lo = b * width
      val w = math.min(width, Bits - lo)
      struct(lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << w) - 1)).as("chunk"))
    }
    // The fingerprint is a single long, so it RIDES THROUGH the banding
    // (unlike MinHash, whose verify payload is a whole shingle array):
    // hamming-verify directly on the bucket join output, BEFORE the
    // distinct — failing candidates never reach a shuffle, and no
    // join-back to the fingerprint table is needed.
    val keys = Seq("band", "chunk")
    val ex = fps
      .select(col(idCol), col("simhash"), explode(array(chunkCols: _*)).as("bc"))
      .select(col(idCol), col("simhash"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    CandidateJoin.selfPairs(CandidateJoin.cap(ex, keys, maxBucket), keys, idCol,
        carry = Seq("simhash"))
      .withColumn("dist", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .distinct()
  }

  def nearDupPairsDuckSql(table: String, idCol: String, textCol: String, maxDist: Int = 3,
      maxBucket: Int = DefaultMaxBucket): String = {
    val bands = maxDist + 1
    val width = (Bits + bands - 1) / bands
    val bandSelects = (0 until bands).map { b =>
      val lo = b * width
      val w = math.min(width, Bits - lo)
      val mask = (1L << w) - 1
      s"SELECT $idCol, simhash, $b AS band, (simhash >> $lo) & $mask AS chunk FROM fp"
    }.mkString("\nUNION ALL\n")
    s"""WITH fp AS MATERIALIZED (
       |  SELECT $idCol, ${fingerprintFromHashesDuck("hs")} AS simhash
       |  FROM (SELECT $idCol, ${tokenHashesDuck(textCol)} AS hs FROM $table) t),
       |bk AS (
       |  SELECT * FROM ($bandSelects) raw
       |  QUALIFY count(*) OVER (PARTITION BY band, chunk) <= $maxBucket)
       |SELECT DISTINCT a.$idCol AS id_a, b.$idCol AS id_b,
       |  bit_count(xor(a.simhash, b.simhash)) AS dist
       |FROM bk a JOIN bk b ON a.band = b.band AND a.chunk = b.chunk
       |WHERE a.$idCol < b.$idCol
       |  AND bit_count(xor(a.simhash, b.simhash)) <= $maxDist
       |ORDER BY id_a, id_b""".stripMargin
  }
}
