package graft.dedup

import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection over a text column.
  *
  * Pipeline (all declarative, one scan of the corpus):
  *   1. w-token shingles per document ([[TextFunctions.shingles]])
  *   2. ONE 32-bit md5-derived hash per shingle, then k universal-hash
  *      permutations `(A_i * h + B_i) mod (2^61-1)` — multiply-shift
  *      instead of k md5 calls (8x less hashing; products stay < 2^62
  *      so the identical arithmetic runs overflow-free in DuckDB)
  *   3. signature = min of each permutation over the shingle set
  *   4. band keys: md5 over bands of r signature values
  *   5. candidate pairs: self-join on (band, key) — pairs only form
  *      inside buckets, so the shuffle is bounded by bucket sizes, not
  *      |corpus|^2 (the scale property that makes this work at 100 TB)
  *   6. verify: exact Jaccard on shingle sets, threshold filter
  */
object MinHash {

  val Mersenne61 = "2305843009213693951" // 2^61 - 1

  /** Skew guard: (band, bkey) buckets larger than this are skipped
    * during candidate generation — a degenerate corpus (thousands of
    * identical documents) would otherwise turn one bucket quadratic.
    * Far above any non-adversarial bucket size; the oracle applies the
    * identical cap, so results stay engine-equal.
    */
  val DefaultMaxBucket = 10000

  /** Deterministic permutation constants (A_i odd, < 2^29; B_i < 2^31);
    * source of truth lives with the native signature expression.
    */
  def permConsts(i: Int): (Long, Long) =
    graft.functions.MinHashSigs.permConsts(i)

  /** One permuted minhash over a PRE-HASHED shingle array column (the
    * 32-bit md5 hash is materialized once per shingle, then the k
    * permutations are pure arithmetic over the cached hashes — md5 runs
    * 1x, not k x).
    */
  private[graft] def minhashExpr(hashesSql: String, i: Int): String = {
    val (a, b) = permConsts(i)
    s"array_min(transform($hashesSql, h -> ($a * h + $b) % $Mersenne61))"
  }

  private def minhashDuck(hashesSql: String, i: Int): String = {
    val (a, b) = permConsts(i)
    s"list_min(list_transform($hashesSql, h -> ($a * h + $b) % $Mersenne61))"
  }

  /** doc signatures: (idCol, mh_0 .. mh_{k-1}). Empty-shingle docs drop
    * out. Shingles are INTEGER polynomial hashes of once-hashed tokens
    * ([[TextFunctions.hashedShinglesFromSql]]): one md5 per TOKEN, not
    * per shingle string.
    */
  def signatures(df: DataFrame, idCol: String, textCol: String, k: Int = 8, w: Int = 3): DataFrame = {
    val base = hashedShingleDf(df, idCol, textCol, w)
    // all k minima in ONE native pass over the shingle hashes
    // ([[graft.functions.MinHashSigs]]); the SQL form ([[minhashExpr]],
    // kept as the oracle's formulation twin) folds k interpreted
    // lambdas over the same array. Physical-plan CSE evaluates the
    // shared array expression once per row.
    val sigArr = call_function("graft_minhash_sigs", col("__hs"), lit(k))
    val sigCols = (0 until k).map(i => element_at(sigArr, i + 1).as(s"mh_$i"))
    base.filter(size(col("__hs")) > 0)
      .select(col(idCol) +: sigCols: _*)
  }

  /** (idCol, __hs: array<bigint>) — integer shingle sets per doc, via
    * the native one-pass expression (bit-identical to the SQL lambda
    * form [[TextFunctions.hashedShinglesSql]], which stays as the
    * oracle's formulation twin).
    */
  private def hashedShingleDf(df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol),
      call_function("graft_hashed_shingles", col(textCol), lit(w)).as("__hs"))
  }

  private[dedup] def hashedShingleDuck(table: String, idCol: String, textCol: String, w: Int): String =
    s"""SELECT $idCol, ${TextFunctions.hashedShinglesFromDuckSql("th", w)} AS hs
       |  FROM (SELECT $idCol, ${TextFunctions.tokenHashesDuckSql(textCol)} AS th FROM $table) __t0""".stripMargin

  def signaturesDuckSql(table: String, idCol: String, textCol: String, k: Int = 8, w: Int = 3): String = {
    val sigs = (0 until k).map(i => s"${minhashDuck("hs", i)} AS mh_$i").mkString(",\n  ")
    s"""SELECT $idCol, $sigs
       |FROM (${hashedShingleDuck(table, idCol, textCol, w)}) t
       |WHERE len(hs) > 0""".stripMargin
  }

  /** (idCol, band, bkey) — one row per document per band; band key =
    * md5 of the ':'-joined signature slice. The LSH join key shared by
    * [[nearDupPairs]] (self-join) and [[SignatureIndex]] (persisted
    * corpus side of the incremental delta join).
    */
  private[dedup] def bandRows(df: DataFrame, idCol: String, textCol: String,
                              k: Int, w: Int, bands: Int): DataFrame =
    bandKeys(signatures(df, idCol, textCol, k, w), idCol, k, bands)

  /** [[bandRows]] over already-computed [[signatures]]. */
  private def bandKeys(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val keys = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => s"mh_$i")
      struct(lit(b).as("band"), md5(concat_ws(":", slice.map(col): _*)).as("bkey"))
    }
    sigs.select(col(idCol), explode(array(keys: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  private val BandKey = Seq("band", "bkey")

  /** Distinct (id_a, id_b) pairs sharing at least one capped band bucket. */
  private def bandCandidates(bandRows: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    CandidateJoin.selfPairs(CandidateJoin.cap(bandRows, BandKey, maxBucket), BandKey, idCol)
      .select("id_a", "id_b")
      .distinct()

  /** (idCol, sh) — integer shingle sets, the exact-verify side. */
  private[dedup] def shingleSets(df: DataFrame, idCol: String, textCol: String,
                                 w: Int): DataFrame =
    hashedShingleDf(df, idCol, textCol, w)
      .select(col(idCol), col("__hs").as("sh"))

  /** Near-duplicate pairs (a < b) with exact Jaccard >= threshold.
    * bands*rowsPerBand must equal k of the signature step.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 3,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val candidates = bandCandidates(bandRows(df, idCol, textCol, k, w, bands), idCol, maxBucket)
    // verify with exact Jaccard on shingle sets; persisted (into the
    // caller's CacheScope) because both join sides reference it — a
    // projection has no reusable exchange
    val sh = scope.persist(shingleSets(df, idCol, textCol, w))
    CandidateJoin.withJaccard(candidates
        .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b"),
        "sh_a", "sh_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Signature-calibration report over the LSH candidate pairs:
    * estimated Jaccard (fraction of equal signature components — the
    * unbiased MinHash estimator) next to the exact shingle-set Jaccard,
    * for every candidate the banding surfaces (no threshold filter —
    * calibration needs the misses too). This is the tuning loop for
    * (k, bands): a fat |est−exact| tail at the chosen threshold means
    * the band/row split is mis-set for the corpus's similarity profile.
    *
    * Scale shape: identical to [[nearDupPairs]] (bucket-bounded
    * candidates, skew cap, keyed signature/shingle joins) — the only
    * extra work is the k equality checks per candidate.
    */
  def estVsExactPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 3,
      bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    // persisted: the candidate self-join reads band rows twice, and the
    // signature/shingle frames each join back twice (a/b sides)
    val sigs = scope.persist(signatures(df, idCol, textCol, k, w))
    val candidates = bandCandidates(bandKeys(sigs, idCol, k, bands), idCol, maxBucket)
    val sigA = sigs.select(col(idCol).as("id_a") +:
      (0 until k).map(i => col(s"mh_$i").as(s"a_mh_$i")): _*)
    val sigB = sigs.select(col(idCol).as("id_b") +:
      (0 until k).map(i => col(s"mh_$i").as(s"b_mh_$i")): _*)
    val eqCnt = (0 until k).map(i =>
      when(col(s"a_mh_$i") === col(s"b_mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val sh = scope.persist(shingleSets(df, idCol, textCol, w))
    CandidateJoin.withJaccard(candidates
        .join(sigA, "id_a").join(sigB, "id_b")
        .withColumn("est_j", round(eqCnt / lit(k.toDouble), 4))
        .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b"),
        "sh_a", "sh_b", "exact_j")
      .select(col("id_a"), col("id_b"), col("est_j"), col("exact_j"))
  }

  /** DuckDB twin of [[estVsExactPairs]]. */
  def estVsExactPairsDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 3,
      bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): String = {
    val r = k / bands
    val bandSelects = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => s"CAST(mh_$i AS VARCHAR)").mkString(", ")
      s"SELECT $idCol, $b AS band, md5(concat_ws(':', $slice)) AS bkey FROM sig"
    }.mkString("\nUNION ALL\n")
    val eqCnt = (0 until k).map(i =>
      s"(CASE WHEN sa.mh_$i = sb.mh_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH sig AS MATERIALIZED (${signaturesDuckSql(table, idCol, textCol, k, w)}),
       |bk AS (
       |  SELECT * FROM ($bandSelects) raw
       |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.$idCol AS id_a, b.$idCol AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.$idCol < b.$idCol),
       |sh AS MATERIALIZED (
       |  SELECT $idCol, hs AS sh
       |  FROM (${hashedShingleDuck(table, idCol, textCol, w)}) __hs0)
       |SELECT cand.id_a, cand.id_b,
       |  round(($eqCnt) / ${k.toDouble}, 4) AS est_j,
       |  round(len(list_filter(ha.sh, x -> list_contains(hb.sh, x))) /
       |    CAST(len(ha.sh) + len(hb.sh) - len(list_filter(ha.sh, x -> list_contains(hb.sh, x))) AS DOUBLE), 4) AS exact_j
       |FROM cand
       |JOIN sig sa ON cand.id_a = sa.$idCol
       |JOIN sig sb ON cand.id_b = sb.$idCol
       |JOIN sh ha ON cand.id_a = ha.$idCol
       |JOIN sh hb ON cand.id_b = hb.$idCol
       |ORDER BY id_a, id_b""".stripMargin
  }

  def nearDupPairsDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 3,
      bands: Int = 4,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): String = {
    val r = k / bands
    val bandSelects = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => s"CAST(mh_$i AS VARCHAR)").mkString(", ")
      s"SELECT $idCol, $b AS band, md5(concat_ws(':', $slice)) AS bkey FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""WITH sig AS (${signaturesDuckSql(table, idCol, textCol, k, w)}),
       |bk AS (
       |  SELECT * FROM ($bandSelects) raw
       |  QUALIFY count(*) OVER (PARTITION BY band, bkey) <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.$idCol AS id_a, b.$idCol AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.$idCol < b.$idCol),
       |sh AS MATERIALIZED (
       |  SELECT $idCol, hs AS sh
       |  FROM (${hashedShingleDuck(table, idCol, textCol, w)}) __hs0)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b,
       |    round(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) /
       |      CAST(len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN sh sa ON cand.id_a = sa.$idCol
       |            JOIN sh sb ON cand.id_b = sb.$idCol) t
       |WHERE jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }
}
