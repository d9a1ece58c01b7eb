package graft.dedup

import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
  * algorithm): slide a window of `window` consecutive w-token shingle
  * hashes over each document and keep the window MINIMUM. The selected
  * set is a ~2/(window+1) density sample of the shingle stream with the
  * winnowing guarantee: any duplicated passage of at least
  * `w + window - 1` tokens shares at least one fingerprint between its
  * copies — unlike MinHash (whole-document similarity) this catches
  * partial overlap, and unlike [[SpanDedup]] it keeps a compact per-doc
  * sketch suitable for indexing.
  *
  * Reference analog: the content-hash identity used by
  * src/linkml_store/api/collection.py dedup flows, extended to the
  * sub-document granularity a pretraining pipeline needs.
  *
  * Scale (100 TB): fingerprint selection is MAP-ONLY — one higher-order
  * expression per row over the positional shingle array (no explode, no
  * shuffle; the array is bound once per row via the aggregate-binding
  * idiom so the O(n·window) mins never re-derive the shingles).
  * Candidate pairs form only inside shared-fingerprint buckets
  * (the MinHash-LSH join shape) with the same skew cap — a boilerplate
  * fingerprint shared by millions of docs is dropped by the cap instead
  * of going quadratic.
  */
object Winnow {

  /** Hot-fingerprint skew guard (same rationale as
    * [[MinHash.DefaultMaxBucket]]): fingerprints appearing in more
    * documents than this are boilerplate, not duplication signal, and
    * would make the pair join quadratic in one bucket.
    */
  val DefaultMaxBucket = 10000

  /** SQL fragment: SORTED DISTINCT winnowed fingerprints of a text
    * column — minima of each `window`-length window over the
    * per-position w-shingle hash stream. Documents shorter than one
    * full window still emit one fingerprint (the global min) per the
    * paper's guarantee; shingle-less documents emit none. The
    * positional shingle array binds as a finish-lambda variable so it
    * evaluates once per row (see [[TextFunctions.hashedShinglesSql]]
    * for why a plain alias would re-run the md5s per window).
    */
  def winnowSql(textCol: String, w: Int = 3, window: Int = 4): String =
    s"aggregate(array(0), ${TextFunctions.positionalShinglesSql(textCol, w)}, " +
      "(acc, x) -> acc, hs -> " +
      "IF(size(hs) = 0, cast(array() as array<bigint>), " +
      s"IF(size(hs) < $window, array(array_min(hs)), " +
      s"array_sort(array_distinct(transform(sequence(0, size(hs) - $window), " +
      s"i -> array_min(slice(hs, i + 1, $window))))))))"

  /** DuckDB twin of [[winnowSql]] over a pre-bound token-hash list
    * column (stage the th column in a derived table, as
    * [[TextFunctions.tokenHashesDuckSql]] documents).
    */
  def winnowFromDuckSql(thCol: String, w: Int = 3, window: Int = 4): String = {
    val hs = TextFunctions.positionalShinglesDuckSql(thCol, w)
    s"""CASE WHEN len($hs) = 0 THEN CAST([] AS BIGINT[])
       | WHEN len($hs) < $window THEN [list_min($hs)]
       | ELSE list_sort(list_distinct(list_transform(
       |   range(1, len($hs) - ${window - 2}),
       |   i -> list_min(($hs)[i:i + ${window - 1}])))) END""".stripMargin
  }

  /** (idCol, fp: array<bigint>) — the library form callers index or
    * join on. Map-only.
    */
  def fingerprintSets(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, window: Int = 4): DataFrame =
    df.select(col(idCol), expr(winnowSql(textCol, w, window)).as("fp"))

  /** Driver-comparable per-doc sketch summary: fingerprint count + md5
    * digest of the sorted fingerprint list (arrays cannot cross the
    * oracle comparator).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, window: Int = 4): DataFrame =
    fingerprintSets(df, idCol, textCol, w, window)
      .select(col(idCol),
        size(col("fp")).as("n_fp"),
        md5(array_join(transform(col("fp"), x => x.cast("string")), " ")).as("fp_digest"))

  /** DuckDB twin of [[fingerprints]]. */
  def fingerprintsDuckSql(table: String, idCol: String, textCol: String,
      w: Int = 3, window: Int = 4): String =
    s"""SELECT $idCol, CAST(len(fp) AS INT) AS n_fp,
       |  md5(array_to_string(list_transform(fp, x -> CAST(x AS VARCHAR)), ' ')) AS fp_digest
       |FROM (
       |  SELECT $idCol, ${winnowFromDuckSql("th", w, window)} AS fp
       |  FROM (SELECT $idCol, ${TextFunctions.tokenHashesDuckSql(textCol)} AS th
       |        FROM $table) t0) t1
       |ORDER BY $idCol""".stripMargin

  /** Near-duplicate / shared-passage candidate pairs (a < b) with the
    * number of shared winnowed fingerprints >= minShared. Pairs only
    * form inside per-fingerprint buckets; buckets over `maxBucket`
    * docs are boilerplate and skipped (cap mirrored in the oracle).
    * The bucket-size window shuffles on the same key as the self-join,
    * so its exchange is reused.
    */
  def sharedFingerprintPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3, window: Int = 4, minShared: Int = 2,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val exploded = fingerprintSets(df, idCol, textCol, w, window)
      .select(col(idCol), explode(col("fp")).as("f"))
    CandidateJoin.selfPairs(CandidateJoin.cap(exploded, Seq("f"), maxBucket), Seq("f"), idCol)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DuckDB twin of [[sharedFingerprintPairs]]. */
  def sharedFingerprintPairsDuckSql(table: String, idCol: String, textCol: String,
      w: Int = 3, window: Int = 4, minShared: Int = 2,
      maxBucket: Int = DefaultMaxBucket): String =
    s"""WITH fps AS (
       |  SELECT $idCol, ${winnowFromDuckSql("th", w, window)} AS fp
       |  FROM (SELECT $idCol, ${TextFunctions.tokenHashesDuckSql(textCol)} AS th
       |        FROM $table) t0),
       |ex AS (
       |  SELECT * FROM (SELECT $idCol, unnest(fp) AS f FROM fps) raw
       |  QUALIFY count(*) OVER (PARTITION BY f) <= $maxBucket)
       |SELECT a.$idCol AS id_a, b.$idCol AS id_b, count(*) AS n_shared
       |FROM ex a JOIN ex b ON a.f = b.f
       |WHERE a.$idCol < b.$idCol
       |GROUP BY 1, 2
       |HAVING count(*) >= $minShared
       |ORDER BY id_a, id_b""".stripMargin
}
