package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The capped-bucket candidate join every LSH / fingerprint pair finder
  * runs (MinHash bands, SimHash chunks, winnowed fingerprints, n-gram
  * postings, sign-bit vector bands): pairs form only between rows that
  * share a bucket key, so the shuffle is bounded by bucket sizes, not
  * |corpus|² — and a bucket holding more than `maxBucket` rows is
  * skipped, so one hot key (boilerplate shingle, template-spam band,
  * degenerate embedding) cannot turn the join quadratic. Capped buckets
  * can drop true pairs; every finder's DuckDB twin replays the identical
  * `QUALIFY count(*) OVER (PARTITION BY keys) <= maxBucket`, so results
  * stay engine-equal.
  *
  * Callers keep their own post-join step (distinct, shared-key count,
  * hamming / cosine / Jaccard verify).
  */
object CandidateJoin {

  /** Rows whose bucket (rows sharing `keys`) holds at most `maxBucket`
    * rows. The size window partitions on the same keys as the pair join
    * that follows, so that join reuses its exchange — the cap is free.
    */
  def cap(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    rows.withColumn("__bsz", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bsz") <= maxBucket)
      .drop("__bsz")

  /** Bucket self-join: keys, id_a/id_b and carry_a/carry_b for every two
    * rows sharing a bucket, each unordered pair once (id_a < id_b). A
    * pair sharing several buckets appears once per shared bucket. Each
    * side keeps `capped`'s own column order, so a persisted input is
    * scanned as is, with no re-ordering Project.
    */
  def selfPairs(capped: DataFrame, keys: Seq[String], idCol: String,
                carry: Seq[String] = Nil): DataFrame = {
    def side(s: String) = capped.select(capped.columns.toSeq.collect {
      case c if c == idCol => col(c).as(s"id_$s")
      case c if carry.contains(c) => col(c).as(s"${c}_$s")
      case c if keys.contains(c) => col(c)
    }: _*)
    side("a").join(side("b"), keys).filter(col("id_a") < col("id_b"))
  }

  /** Bipartite bucket join: (keys…, src_id, tgt_id) for every left row
    * and right row sharing a bucket, each side capped on its own bucket
    * size.
    */
  def crossPairs(left: DataFrame, right: DataFrame, keys: Seq[String], idCol: String,
                 maxBucket: Int): DataFrame = {
    def side(df: DataFrame, as: String) =
      cap(df, keys, maxBucket).select(keys.map(col) :+ col(idCol).as(as): _*)
    side(left, "src_id").join(side(right, "tgt_id"), keys)
  }

  /** Exact Jaccard verify of two integer shingle-array columns: adds
    * `inter` and `as` = round(inter / (|a| + |b| − inter), 4). The
    * intersection is the native contained count (LEFT multiset), which
    * is bit-identical to the oracle's list_filter/list_contains form
    * even when a document repeats a shingle; size(array_intersect(…))
    * would count DISTINCT shared values and silently diverge there.
    */
  def withJaccard(pairs: DataFrame, a: String, b: String, as: String): DataFrame =
    pairs
      .withColumn("inter", call_function("graft_contained_count", col(a), col(b)).cast("double"))
      .withColumn(as, round(col("inter") / (size(col(a)) + size(col(b)) - col("inter")), 4))
}
