package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: Spark implementation + optional DuckDB
  * oracle SQL over the same parquet tables (driver contract — see
  * SparkEntry). The oracle gets the same (session, dir) its query gets,
  * so an oracle that embeds a fitted model (PCA components, BPE merges,
  * search probes) refits it from the corpus rather than reading state
  * another query left behind; every other oracle ignores both.
  */
final class Q(
    val name: String,
    val fn: (SparkSession, String) => DataFrame,
    val oracle: (SparkSession, String) => Option[String])

object Q {
  /** An oracle that needs no corpus access: rendered lazily, arguments
    * ignored, so every `Q(name, fn, Some(sql))` call site reads as is.
    */
  def apply(name: String, fn: (SparkSession, String) => DataFrame,
      oracle: => Option[String]): Q = new Q(name, fn, (_, _) => oracle)
}

trait QuerySet {
  def all: Seq[Q]
}
