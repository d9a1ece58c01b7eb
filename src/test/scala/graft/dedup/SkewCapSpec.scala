package graft.dedup

import graft.SparkSpec
import graft.ann.{Knn, Matcher}

/** The skew contract the 100 TB dedup story depends on: ONE hot key
  * (a boilerplate shingle / template band bucket / shared-passage
  * fingerprint / identical embedding) must not make a pair-finder
  * quadratic. Each input builds a corpus where every row shares the
  * hot key, and pins BOTH sides of the contract: with the cap the hot
  * key contributes zero pairs (join output bounded), and without it
  * the same corpus explodes to every pair — proof the cap is
  * load-bearing, not decorative.
  */
class SkewCapSpec extends SparkSpec {
  import spark.implicits._

  private val n = 60
  private val allPairs = n * (n - 1) / 2

  /** `pairs(cap)` is the finder's output row count at that cap: all
    * `uncapped` rows far above the hot bucket's size, none below it.
    */
  private def hotBucket(name: String, uncapped: Long)(pairs: Int => Long): Unit =
    test(name) {
      pairs(1000000) shouldBe uncapped
      pairs(10) shouldBe 0
    }

  // n exact copies of one template: all bands / chunks collide for all docs
  private def templateDocs =
    (1 to n).map(d => (d.toLong, "the same template text repeated verbatim for every row"))
      .toDF("doc_id", "text")

  // n identical vectors: every sign-bit band lands in one bucket
  private def sameVectors(idOffset: Long) =
    (1 to n).map(d => (d + idOffset, Seq(0.5, -0.25, 0.75, -1.0, 0.1, 0.2, -0.3, 0.4)))
      .toDF("vec_id", "embedding")

  hotBucket("ngram jaccard: a corpus-wide hot shingle is dropped by the df cap", allPairs) { cap =>
    // unique 10-token body per doc + a shared 30-token phrase: every
    // pair's shared shingles come only from the phrase
    val phrase = (1 to 30).map(i => s"common$i").mkString(" ")
    val docs = (1 to n).map { d =>
      (d.toLong, (1 to 10).map(i => s"u${d}x$i").mkString(" ") + " " + phrase)
    }.toDF("doc_id", "text")
    val scope = new graft.api.CacheScope
    try NgramJaccard.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.5, maxDf = cap, scope = scope).count()
    finally scope.release()
  }

  hotBucket("minhash lsh: a template-spam band bucket beyond the cap is dropped", allPairs) { cap =>
    MinHash.nearDupPairs(templateDocs, "doc_id", "text", maxBucket = cap).count()
  }

  hotBucket("winnow: a shared-passage fingerprint bucket beyond the cap is dropped", allPairs) { cap =>
    // unique body + a 20-token shared passage (well past the
    // w+window-1 guarantee, so every doc shares >= minShared
    // fingerprints with every other)
    val passage = (1 to 20).map(i => s"shared$i").mkString(" ")
    val docs = (1 to n).map { d =>
      (d.toLong, (1 to 8).map(i => s"u${d}y$i").mkString(" ") + " " + passage)
    }.toDF("doc_id", "text")
    Winnow.sharedFingerprintPairs(docs, "doc_id", "text", maxBucket = cap).count()
  }

  hotBucket("simhash: a hot (band, chunk) bucket beyond the cap is dropped", allPairs) { cap =>
    SimHash.nearDupPairs(templateDocs, "doc_id", "text", maxBucket = cap).count()
  }

  hotBucket("knn near-dup: a hot sign-bit band bucket beyond the cap is dropped", allPairs) { cap =>
    Knn.nearDupPairs(sameVectors(0L), "vec_id", "embedding", threshold = 0.95,
      dims = 8, maxBucket = cap).count()
  }

  hotBucket("knn lsh match: a hot band bucket beyond the cap is dropped", n) { cap =>
    Knn.findMatchesLsh(sameVectors(0L), sameVectors(1000L), "vec_id", "embedding",
      maxBucket = cap).count()
  }

  hotBucket("matcher lsh top-n: a hot band bucket beyond the cap is dropped", n * n) { cap =>
    Matcher.findMatchesLshTopN(sameVectors(0L), sameVectors(1000L), "vec_id", "embedding",
      Matcher.MatchConfig(topN = n), maxBucket = cap).count()
  }

  test("cap boundary: a bucket of exactly maxBucket rows is kept, one more is dropped") {
    // two templates: 10 copies of one (bucket size == cap), 11 of the
    // other (cap + 1); only the first template's pairs survive
    val kept = (1 to 10).map(d => (d.toLong, "first template body kept at the cap"))
    val dropped = (11 to 21).map(d => (d.toLong, "second template body one row past the cap"))
    val pairs = MinHash.nearDupPairs((kept ++ dropped).toDF("doc_id", "text"),
      "doc_id", "text", maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe (for (a <- 1L to 10L; b <- a + 1 to 10L) yield (a, b)).toSet
  }
}
