package graft

import graft.queries.Q

/** Registry results must not depend on which queries ran before, or in
  * what order. The queries that fit a model (k-means, PCA, BPE), derive
  * search probes or build dedup components run in declared order, in
  * reverse order, and each alone; every result hash and every rendered
  * oracle must agree across the three runs.
  */
class RegistryOrderSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val consumers = Set(
    "q_kmeans", "q_silhouette", "q_cluster_purity", "q_ivf_balance",
    "q_topic_cluster", "q_diverse_sample", "q_cluster_terms",
    "q_embed_pca", "q_embed_whiten",
    "q_bpe_train", "q_bpe_stats", "q_bpe_encode",
    "q_search_mrr", "q_search_agreement",
    "q_dedup_cluster", "q_dup_histogram", "q_dedup_rate", "q_dup_rate_source",
    "q_dup_by_length", "q_dup_inflation", "q_dedup_keep", "q_dedup_keepbest")

  private val declared: Seq[Q] = SparkEntry.registry.filter(q => consumers(q.name))

  /** (md5 of the sorted rendered rows, row count, rendered oracle) */
  private type Outcome = (String, Int, Option[String])

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def rows(q: Q): Seq[org.apache.spark.sql.Row] =
    try q.fn(spark, sfDir).collect().toSeq
    finally graft.api.CacheScope.global.release(blocking = true)

  /** Run `qs` in order, then render their oracles in the same order —
    * the shape of a Verify run.
    */
  private def sweep(qs: Seq[Q]): Map[String, Outcome] = {
    val results = qs.map { q =>
      val rendered = rows(q).map(_.toString).sorted
      q.name -> (md5(rendered.mkString("\n")), rendered.size)
    }
    val oracles = qs.map(q => q.name -> q.oracle(spark, sfDir)).toMap
    results.map { case (name, (hash, n)) => name -> ((hash, n, oracles(name))) }.toMap
  }

  private lazy val inOrder = sweep(declared)
  private lazy val reversed = sweep(declared.reverse)
  private lazy val alone = declared.map(q => sweep(Seq(q))).reduce(_ ++ _)

  /** Queries whose outcome in `run` differs from declared order; the
    * declared-order sweep always runs first.
    */
  private def mismatches(run: => Map[String, Outcome]): Seq[String] = {
    val base = inOrder
    val other = run
    declared.map(_.name).filter(n => other(n) != base(n))
  }

  test("every consumer is registered") {
    declared.map(_.name).toSet shouldBe consumers
  }

  test("reverse order gives the same result hashes and oracle SQL as declared order") {
    mismatches(reversed) shouldBe empty
  }

  test("each query run alone gives the same result hashes and oracle SQL as declared order") {
    mismatches(alone) shouldBe empty
  }

  test("the order check is not vacuous") {
    inOrder("q_dedup_cluster")._2 should be > 0
    inOrder("q_bpe_train")._2 should be > 0
    declared.map(_.name).filter(n => inOrder(n)._3.isEmpty) shouldBe empty
  }

  test("an oracle refit is bit-identical to the query's own fit") {
    def q(name: String) = declared.find(_.name == name).get
    def oracle(name: String) = q(name).oracle(spark, sfDir).get
    // q_bpe_train's rows ARE its fit; the BPE oracles refit on their own
    val merges = rows(q("q_bpe_train")).map(r =>
      graft.text.BpeTrain.Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    merges should not be empty
    oracle("q_bpe_encode") should include(
      graft.text.BpeTrain.encodeDuckSql("documents", "doc_id", "text", merges))
    oracle("q_bpe_stats") shouldBe graft.text.BpeTrain.fertilityStatsDuckSql(
      "documents", "doc_id", "lang", "text", merges)
    // the search evals report the probe queries they ran
    def probes(name: String) =
      rows(q(name)).map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    oracle("q_search_mrr") shouldBe graft.index.SearchEval.bm25SelfMrrDuckSql(
      "documents", "doc_id", "text", probes("q_search_mrr"))
    oracle("q_search_agreement") shouldBe graft.index.SearchEval.retrieverAgreementDuckSql(
      "documents", "doc_id", "text", probes("q_search_agreement"))
  }
}
