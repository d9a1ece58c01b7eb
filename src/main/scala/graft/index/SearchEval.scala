package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Retrieval-quality evaluation for the lexical search surface — the
  * BM25/trigram twin of the vector tiers' `recallAtK` (ann/Matcher):
  * self-retrieval MRR@k and retriever agreement. Each probe document's
  * first `nTerms` tokens form a query; a healthy index ranks the probe
  * document itself at or near #1. Falling MRR flags tokenization
  * drift, scoring bugs, or boilerplate floods (many docs sharing the
  * probe's opening terms).
  *
  * Shape: probes are a FIXED bounded list (ids chosen by the caller)
  * and ALL probes run as ONE batched plan ([[Bm25.searchBatch]] /
  * [[Search.searchTrigramBatch]]): one corpus scan computes every
  * probe's term frequencies, one 1-row aggregate carries every df, and
  * the per-probe top-k prunes map-side via WindowGroupLimit — job
  * count is independent of the probe count (the round-8 version ran
  * one sequential plan per probe, which serialized at large probe
  * lists). The rank/overlap extraction walks the ≤ nProbes·k collected
  * rows on the driver — the MMR bounded-re-rank pattern. At 100 TB an
  * eval runs against a sampled slice, not the full corpus.
  */
object SearchEval {

  /** Each probe's query: the first `nTerms` lowercased whitespace
    * tokens of its text, sorted by id — one bounded filtered collect.
    * Deterministic, so an oracle re-derives exactly the probes its
    * query ran.
    */
  def probes(df: DataFrame, idCol: String, textCol: String,
      probeIds: Seq[Long], nTerms: Int): Seq[(Long, String)] = {
    import org.apache.spark.sql.functions.col
    df.filter(col(idCol).isin(probeIds: _*))
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
          .take(nTerms).mkString(" "))
      .sortBy(_._1).toSeq
  }

  /** (probe_id, query, rank, rr) per probe: rank of the probe doc in
    * its own query's BM25 top-k (0 = not retrieved, rr = 0), rr
    * rounded to 4dp. Mean of rr over probes = MRR@k.
    */
  def bm25SelfMrr(df: DataFrame, idCol: String, textCol: String,
      probeIds: Seq[Long], nTerms: Int = 4, k: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val probes = this.probes(df, idCol, textCol, probeIds, nTerms)
    // one batched plan for every probe; per-probe lists come back in
    // rank order (score DESC, id ASC — the search's own total order)
    val byProbe: Map[Long, Seq[Long]] =
      Bm25.searchBatch(df, idCol, textCol, probes, k)
        .collect().toSeq
        .groupBy(_.getLong(0))
        .map { case (pid, rows) => pid -> rows.sortBy(r =>
          (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)) }
    val rows = probes.map { case (pid, q) =>
      val topk = byProbe.getOrElse(pid, Seq.empty)
      val idx = topk.indexOf(pid)
      val rank = idx + 1 // 0 when absent
      val rr = if (idx < 0) 0.0
        else BigDecimal(1.0 / rank).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (pid, q, rank, rr)
    }
    import spark.implicits._
    rows.toDF("probe_id", "query", "rank", "rr")
  }

  /** Retriever-agreement report: for each probe query, the top-k
    * overlap between the BM25 lexical ranking and the trigram-cosine
    * ranking — the "are my two retrieval surfaces seeing the same
    * corpus" diagnostic (low overlap flags tokenization drift between
    * the surfaces, or a stale index; it is also the signal that hybrid
    * retrieval would add value). Both retrievers run as one batched
    * plan each; ≤ 2·nProbes·k rows reach the driver.
    */
  def retrieverAgreement(df: DataFrame, idCol: String, textCol: String,
      probeIds: Seq[Long], nTerms: Int = 4, k: Int = 10,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val spark = df.sparkSession
    val probes = this.probes(df, idCol, textCol, probeIds, nTerms)
    // the two retrievers are independent jobs — overlap them from
    // driver threads (guide §2.6, the q_ann_recall pattern); each
    // collect and its result are the sequential ones verbatim
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fBm: Future[Map[Long, Set[Long]]] = Future(
      Bm25.searchBatch(df, idCol, textCol, probes, k)
        .collect().toSeq.groupBy(_.getLong(0))
        .map { case (pid, rows) => pid -> rows.map(_.getLong(1)).toSet })
    val idx = scope.persist(TrigramIndexer.index(df, idCol, textCol))
    val cosSets: Map[Long, Set[Long]] =
      Search.searchTrigramBatch(spark, idx, idCol, probes, k)
        .collect().toSeq.groupBy(_.getLong(0))
        .map { case (pid, rows) => pid -> rows.map(_.getLong(1)).toSet }
    val bmSets: Map[Long, Set[Long]] = Await.result(fBm, Duration.Inf)
    val rows = probes.map { case (pid, q) =>
      val inter = (bmSets.getOrElse(pid, Set.empty) &
        cosSets.getOrElse(pid, Set.empty)).size
      (pid, q, inter,
        BigDecimal(inter.toDouble / k).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    import spark.implicits._
    rows.toDF("probe_id", "query", "n_overlap", "overlap_at_k")
  }

  /** DuckDB twin of [[retrieverAgreement]]: replays BOTH retrievers'
    * full top-k per probe and counts the id intersection. Rejects an
    * empty probe list (it would render invalid SQL).
    */
  def retrieverAgreementDuckSql(table: String, idCol: String, textCol: String,
      probes: Seq[(Long, String)], k: Int = 10): String = {
    require(probes.nonEmpty,
      "retrieverAgreementDuckSql needs at least one probe")
    val parts = probes.map { case (pid, q) =>
      val esc = q.replace("'", "''")
      s"""SELECT CAST($pid AS BIGINT) AS probe_id, '$esc' AS query,
         |  CAST((SELECT count(*)
         |    FROM (SELECT $idCol FROM (${Bm25.searchDuckSql(table, idCol, textCol, q, k)}) b$pid) bb$pid
         |    JOIN (SELECT $idCol FROM (${Search.searchTrigramDuckSql(table, idCol, textCol, q, k)}) c$pid) cc$pid
         |    USING ($idCol)) AS INT) AS n_overlap,
         |  round((SELECT count(*)
         |    FROM (SELECT $idCol FROM (${Bm25.searchDuckSql(table, idCol, textCol, q, k)}) b2$pid) bb2$pid
         |    JOIN (SELECT $idCol FROM (${Search.searchTrigramDuckSql(table, idCol, textCol, q, k)}) c2$pid) cc2$pid
         |    USING ($idCol)) / ${k}.0, 4) AS overlap_at_k""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY probe_id")
  }

  /** DuckDB twin of [[bm25SelfMrr]]: replays each probe's full BM25
    * top-k (the probe query literals) and the rank/rr extraction,
    * one CTE pair per probe, UNION ALL. Rejects an empty probe list.
    */
  def bm25SelfMrrDuckSql(table: String, idCol: String, textCol: String,
      probes: Seq[(Long, String)], k: Int = 10): String = {
    require(probes.nonEmpty,
      "bm25SelfMrrDuckSql needs at least one probe")
    val parts = probes.map { case (pid, q) =>
      val esc = q.replace("'", "''")
      // rank re-derives the search's OWN deterministic order
      // (score DESC, id ASC) — never the subquery's physical order
      s"""SELECT CAST($pid AS BIGINT) AS probe_id, '$esc' AS query,
         |  CAST(coalesce((SELECT rnk FROM (
         |     SELECT $idCol, row_number() OVER (ORDER BY score DESC, $idCol ASC) AS rnk
         |     FROM (${Bm25.searchDuckSql(table, idCol, textCol, q, k)}) t$pid
         |   ) r$pid WHERE $idCol = $pid), 0) AS INT) AS rank,
         |  round(coalesce((SELECT 1.0 / rnk FROM (
         |     SELECT $idCol, row_number() OVER (ORDER BY score DESC, $idCol ASC) AS rnk
         |     FROM (${Bm25.searchDuckSql(table, idCol, textCol, q, k)}) u$pid
         |   ) s$pid WHERE $idCol = $pid), 0), 4) AS rr""".stripMargin
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY probe_id")
  }
}
