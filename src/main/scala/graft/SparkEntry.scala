package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All registered operator query sets (SURVEY §2). */
  def querySets: Seq[QuerySet] = Seq(
    CoreQueries,
    FacetQueries,
    DedupQueries,
    TextQueries,
    CorpusQueries,
    StatsQueries,
    VectorQueries,
    SchemaQueries,
    EventQueries,
    PipelineQueries,
    SketchQueries)

  /** Every registered query, in declared order. */
  private[graft] val registry: Seq[Q] = querySets.flatMap(_.all)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val q1 = registry.find(_.name == "q1_agg").get
    q1.fn(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries accepted by `wanted`, equivalent ANSI SQL
    * runnable by DuckDB on the same parquet tables, rendered against
    * the (session, dir) the queries ran on. Omit for non-SQL-expressible
    * ops.
    */
  def oracleSql(spark: SparkSession, sfDir: String,
      wanted: String => Boolean = _ => true): Map[String, String] =
    registry.filter(q => wanted(q.name))
      .flatMap(q => q.oracle(spark, sfDir).map(q.name -> _)).toMap
}
