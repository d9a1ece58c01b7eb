package graft.index

import graft.SparkSpec

class SearchEvalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "quantum flux capacitor resonance theory explained in depth"),
    (2L, "cooking pasta with tomato sauce and fresh basil leaves"),
    (3L, "distributed systems consensus algorithms paxos raft comparison"),
    (4L, "quantum flux capacitor maintenance manual second edition pdf"),
    (5L, "garden soil preparation for spring vegetable planting")
  ).toDF("doc_id", "text")

  test("documents with distinctive openings self-retrieve at rank 1 (MRR 1.0)") {
    val out = SearchEval.bm25SelfMrr(docs, "doc_id", "text",
      probeIds = Seq(2L, 3L, 5L), nTerms = 4)
      .orderBy("probe_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    out shouldBe Array((2L, 1, 1.0), (3L, 1, 1.0), (5L, 1, 1.0))
    // probes are the docs' first 4 tokens
    SearchEval.probes(docs, "doc_id", "text", Seq(2L, 3L, 5L), nTerms = 4).map(_._2) shouldBe Seq(
      "cooking pasta with tomato",
      "distributed systems consensus algorithms",
      "garden soil preparation for")
  }

  test("retrieverAgreement: overlap bounded by k and hits on distinctive probes") {
    val out = SearchEval.retrieverAgreement(docs, "doc_id", "text",
      probeIds = Seq(2L, 3L), nTerms = 4, k = 3)
      .orderBy("probe_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    graft.api.CacheScope.global.release()
    out.map(_._1) shouldBe Array(2L, 3L)
    out.foreach { case (_, n, o) =>
      n should (be >= 0 and be <= 3)
      o shouldBe n / 3.0 +- 1e-4
      // both retrievers see a 5-doc corpus with distinctive probe
      // openings: they must agree on at least the probe doc itself
      n should be >= 1
    }
    SearchEval.probes(docs, "doc_id", "text", Seq(2L, 3L), nTerms = 4).map(_._1) shouldBe Seq(2L, 3L)
  }

  test("a shared opening can out-rank the probe; rr reflects the real rank") {
    // docs 1 and 4 share the first 3 query terms and have EQUAL
    // length (8 tokens), so their scores tie bit-for-bit on the
    // 3-term query; id ASC puts doc 1 first -> probe 4 ranks 2nd
    val out = SearchEval.bm25SelfMrr(docs, "doc_id", "text",
      probeIds = Seq(4L), nTerms = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    out shouldBe Array((4L, 2, 0.5))
  }

  test("missing probe ids drop out; absent-from-top-k yields rank 0") {
    val out = SearchEval.bm25SelfMrr(docs, "doc_id", "text",
      probeIds = Seq(2L, 999L), nTerms = 4)
      .collect().map(_.getLong(0))
    out.toSeq shouldBe Seq(2L)
  }
}
