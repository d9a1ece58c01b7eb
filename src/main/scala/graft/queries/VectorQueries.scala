package graft.queries

import graft.Tables
import graft.ann.{Knn, Matcher}
import graft.ann.Matcher.MatchConfig
import graft.index.{Search, TrigramIndexer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Search & vector operators (SURVEY §2 rows 32-37, 43): trigram index,
  * cosine search, brute-force and LSH ANN, cross-collection matching,
  * embedding near-dup pairs. `documents` is indexed with hashed char
  * trigrams; `embeddings` carries 64-dim unit vectors.
  */
object VectorQueries extends QuerySet {

  private val Dim = 64 // embeddings.embedding length (TESTDATA.md tables)
  private val Query = "spark query fast table scan"

  // The PCA queries and the search evals each fit their model (PCA
  // components, probe queries) from the corpus, and their oracles refit
  // the same one from the same (session, dir): both fits are
  // deterministic, so the oracle embeds exactly what its query used.
  private def pcaFit(s: SparkSession, d: String) =
    graft.ops.Pca.fit(Tables.df(s, d, "embeddings"), "embedding", k = 2)
  private val ProbeIds = Seq(3L, 17L, 42L, 101L, 250L)
  private def probes(s: SparkSession, d: String) = graft.index.SearchEval.probes(
    Tables.df(s, d, "documents"), "doc_id", "text", ProbeIds, nTerms = 4)

  def all: Seq[Q] = Seq(
    Q("q_index_trigram",
      (s, d) => TrigramIndexer.index(Tables.df(s, d, "documents"), "doc_id", "text")
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "bucket"),
      Some(s"""SELECT * FROM (${TrigramIndexer.indexDuckSql("documents", "doc_id", "text")}) t
              |WHERE doc_id < 50
              |ORDER BY doc_id, bucket""".stripMargin)),

    Q("q_search_cosine",
      (s, d) => Search.searchTrigram(
        s, TrigramIndexer.index(Tables.df(s, d, "documents"), "doc_id", "text"),
        "doc_id", Query, k = 10),
      Some(Search.searchTrigramDuckSql("documents", "doc_id", "text", Query, k = 10))),

    // search(where=, select_cols=) — reference collection.py:531-537:
    // the pre-filter restricts the SCORED slice (an excluded doc can
    // never rank), the projection joins data columns back onto the
    // bounded ranked set.
    Q("q_search_where",
      (s, d) => new graft.api.Collection("documents",
        Tables.df(s, d, "documents"))
        .search("text", Query, k = 10,
          where = graft.query.Filter.eq("lang", "en"), selectCols = Seq("lang")),
      Some(s"""WITH ranked AS (
              |${Search.searchTrigramDuckSql(
                 "(SELECT * FROM documents WHERE lang = 'en') f",
                 "doc_id", "text", Query, k = 10)})
              |SELECT ranked.doc_id, d.lang, score
              |FROM ranked JOIN documents d USING (doc_id)
              |ORDER BY score DESC, doc_id ASC""".stripMargin)),

    // Multi-attribute search (reference index_attributes): the object
    // renders to "source: …; text: …" before trigram hashing — the
    // common "index name+description" case, one fused projection.
    Q("q_search_multiattr",
      (s, d) => new graft.api.Collection("documents", Tables.df(s, d, "documents"))
        .searchObjects(Query, Seq("source", "text")),
      Some(Search.searchTrigramDuckSql("documents", "doc_id",
        graft.index.Indexer.objectTextDuckSql(Seq("source", "text")), Query, k = 10))),

    Q("q_ann_bruteforce",
      (s, d) => Knn.bruteForceTopK(Tables.df(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10),
      Some(Knn.bruteForceTopKDuckSql("embeddings", "vec_id", "embedding",
        queryId = 0L, k = 10, dim = Dim))),

    Q("q_ann_lsh",
      (s, d) => Knn.lshTopK(Tables.df(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10),
      Some(Knn.lshTopKDuckSql("embeddings", "vec_id", "embedding",
        queryId = 0L, k = 10, dim = Dim))),

    // multi-probe: each band also probes its Hamming-1 neighbor
    // buckets — most of the recall of doubling the bands, zero extra
    // index size
    Q("q_ann_multiprobe",
      (s, d) => Knn.lshTopKMultiProbe(Tables.df(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10),
      Some(Knn.lshTopKMultiProbeDuckSql("embeddings", "vec_id", "embedding",
        queryId = 0L, k = 10, dim = Dim))),

    Q("q_ann_ivf",
      (s, d) => Knn.ivfTopK(Tables.df(s, d, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10),
      Some(Knn.ivfTopKDuckSql("embeddings", "vec_id", "embedding",
        queryId = 0L, k = 10, dim = Dim))),

    // PQ encode + asymmetric-distance search, oracle-checked on the
    // INIT codebook (zero Lloyd's steps — training is q_kmeans's
    // oracle; this one proves the quantize/lookup arithmetic).
    // m=2 keeps the oracle's 2-term ADC sum order-independent.
    Q("q_ann_pq",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        val model = graft.ann.Pq.fit(e, "vec_id", "embedding",
          m = 2, ks = 8, maxIters = 0)
        val qv = e.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        graft.ann.Pq.search(
          graft.ann.Pq.encode(e, "vec_id", "embedding", model),
          "vec_id", model, qv, k = 10)
      },
      Some(graft.ann.Pq.searchDuckSql("embeddings", "vec_id", "embedding",
        m = 2, ks = 8, queryId = 0L, k = 10, dim = Dim))),

    // int8 scalar quantization — the 4x-compression ANN tier between
    // exact floats and PQ's 32x: per-dim global [min,max] bounds (2d
    // doubles of driver state), map-only encode, INTEGER L2 distance
    // search (bit-identical ordering in any engine). Oracle replays
    // fit + quantize + distance end to end.
    Q("q_ann_sq",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        val model = graft.ann.Sq.fit(e, "embedding")
        val qv = e.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        graft.ann.Sq.search(
          graft.ann.Sq.encode(e, "vec_id", "embedding", model),
          "vec_id", model, qv, k = 10)
      },
      Some(graft.ann.Sq.searchDuckSql("embeddings", "vec_id", "embedding",
        queryId = 0L, k = 10, dim = Dim))),

    // Index-quality eval as DATA: recall@10 of every approximate ANN
    // tier against the exact brute-force truth for the same query —
    // the table an index-tuning loop reads (RecallSpec pins floors;
    // this row makes the numbers oracle-visible). Each tier's top-10
    // is a bounded collect (the MMR pattern); the oracle replays every
    // tier's full search AND the brute truth, then counts the id
    // intersections.
    Q("q_ann_recall",
      (s, d) => {
        // every tier + the truth scans the same small table — persist
        // for the duration of the six component searches (all outputs
        // are bounded collects, so the pin releases before returning)
        val scope = new graft.api.CacheScope
        val e = scope.persist(Tables.df(s, d, "embeddings"))
        // Deliberately one collect PER tier, not a union: each tier
        // ends in orderBy+limit, which collect plans as
        // TakeOrderedAndProject (distributed top-k, no global sort);
        // inside a union branch the same pattern becomes a full
        // Sort + GlobalLimit — measured 2.8 s -> 6.3 s at sf1 for the
        // unioned form before this was reverted. The tiers ARE
        // independent jobs over the same pinned table, though, so they
        // run CONCURRENTLY from driver threads (guide §2.6 "overlap
        // independent jobs"): the tail of one tier's job back-fills
        // with the next tier's tasks instead of idling the other 31
        // cores. Each tier's plan, collect, and result are exactly the
        // sequential ones — only the submission overlaps.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        def top(df: org.apache.spark.sql.DataFrame): Array[Long] =
          df.collect().map(_.getLong(0))
        val fBrute = Future(
          top(Knn.bruteForceTopK(e, "vec_id", "embedding", 0L, 10)).toSet)
        val fIvf = Future(top(Knn.ivfTopK(e, "vec_id", "embedding", 0L, 10)))
        val fLsh = Future(top(Knn.lshTopK(e, "vec_id", "embedding", 0L, 10)))
        val fMp = Future(top(Knn.lshTopKMultiProbe(e, "vec_id", "embedding", 0L, 10)))
        // qv on the calling thread (tiny head() job, overlaps the four
        // above); the model fits and their dependent searches fork next
        val qv = e.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
        val fPq = Future {
          val pqModel = graft.ann.Pq.fit(e, "vec_id", "embedding",
            m = 2, ks = 8, maxIters = 0)
          top(graft.ann.Pq.search(
            graft.ann.Pq.encode(e, "vec_id", "embedding", pqModel),
            "vec_id", pqModel, qv, k = 10))
        }
        val fSq = Future {
          val sqModel = graft.ann.Sq.fit(e, "embedding")
          top(graft.ann.Sq.search(
            graft.ann.Sq.encode(e, "vec_id", "embedding", sqModel),
            "vec_id", sqModel, qv, k = 10))
        }
        val brute = Await.result(fBrute, Duration.Inf)
        val tiers: Seq[(String, Array[Long])] = Seq(
          "ivf" -> Await.result(fIvf, Duration.Inf),
          "lsh" -> Await.result(fLsh, Duration.Inf),
          "multiprobe" -> Await.result(fMp, Duration.Inf),
          "pq" -> Await.result(fPq, Duration.Inf),
          "sq" -> Await.result(fSq, Duration.Inf))
        val rows = tiers.map { case (name, ids) =>
          val hit = ids.count(brute)
          (name, hit,
            BigDecimal.decimal(hit / 10.0)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        scope.release()
        import s.implicits._
        rows.toDF("tier", "n_hit", "recall").orderBy("tier")
      },
      Some {
        val brute = graft.ann.Knn.bruteForceTopKDuckSql(
          "embeddings", "vec_id", "embedding", queryId = 0L, k = 10, dim = Dim)
        def tierRow(name: String, sql: String): String =
          s"""SELECT '$name' AS tier,
             |  CAST((SELECT count(*) FROM ($sql) t_$name
             |        JOIN ($brute) b_$name ON t_$name.vec_id = b_$name.vec_id) AS INT) AS n_hit,
             |  round((SELECT count(*) FROM ($sql) t2_$name
             |        JOIN ($brute) b2_$name ON t2_$name.vec_id = b2_$name.vec_id) / 10.0, 4) AS recall""".stripMargin
        Seq(
          tierRow("ivf", graft.ann.Knn.ivfTopKDuckSql(
            "embeddings", "vec_id", "embedding", queryId = 0L, k = 10, dim = Dim)),
          tierRow("lsh", graft.ann.Knn.lshTopKDuckSql(
            "embeddings", "vec_id", "embedding", queryId = 0L, k = 10, dim = Dim)),
          tierRow("multiprobe", graft.ann.Knn.lshTopKMultiProbeDuckSql(
            "embeddings", "vec_id", "embedding", queryId = 0L, k = 10, dim = Dim)),
          tierRow("pq", graft.ann.Pq.searchDuckSql("embeddings", "vec_id", "embedding",
            m = 2, ks = 8, queryId = 0L, k = 10, dim = Dim)),
          tierRow("sq", graft.ann.Sq.searchDuckSql("embeddings", "vec_id", "embedding",
            queryId = 0L, k = 10, dim = Dim))
        ).mkString("", "\nUNION ALL\n", "\nORDER BY tier")
      }),

    // Recall@k CURVE of the IVF tier vs brute truth — q_ann_recall
    // fixes k=10 across tiers; this walks k for the tier a corpus-scale
    // deployment actually runs, answering "how many results can I
    // trust" (recall@1 ≫ recall@20 means the probed cells hold the
    // head of the ranking but lose the tail — probe more cells before
    // raising k). Bounded collects per k; the oracle replays both
    // searches at every k.
    Q("q_recall_curve",
      (s, d) => {
        // TWO jobs, not eight: both searches rank one total order
        // (score desc, id asc) with k-independent candidate sets (IVF
        // probes the same nProbe cells at any k), so every smaller k's
        // top list IS a prefix of the top-20 list — compute brute@20
        // and IVF@20 once, derive recall@k by driver prefix cuts. The
        // oracle replays each k independently; identical rows
        // (round-12 verdict item 4).
        val scope = new graft.api.CacheScope
        val e = scope.persist(Tables.df(s, d, "embeddings"))
        val kMax = 20
        // two independent jobs over the same pinned table — overlap
        // them (guide §2.6, the q_ann_recall pattern); results are the
        // sequential collects verbatim
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fBrute = Future(Knn.bruteForceTopK(e, "vec_id", "embedding", 0L, kMax)
          .collect().map(_.getLong(0)))
        val ivf20 = Knn.ivfTopK(e, "vec_id", "embedding", 0L, kMax)
          .collect().map(_.getLong(0))
        val brute20 = Await.result(fBrute, Duration.Inf)
        scope.release()
        val rows = Seq(1, 5, 10, 20).map { k =>
          val truth = brute20.take(k).toSet
          val hit = ivf20.take(k).count(truth)
          (k, hit,
            BigDecimal.decimal(hit.toDouble / k)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        import s.implicits._
        rows.toDF("k", "n_hit", "recall").orderBy("k")
      },
      Some {
        def kRow(k: Int): String = {
          val brute = Knn.bruteForceTopKDuckSql(
            "embeddings", "vec_id", "embedding", queryId = 0L, k = k, dim = Dim)
          val ivf = Knn.ivfTopKDuckSql(
            "embeddings", "vec_id", "embedding", queryId = 0L, k = k, dim = Dim)
          s"""SELECT $k AS k,
             |  CAST((SELECT count(*) FROM ($ivf) i_$k
             |        JOIN ($brute) b_$k ON i_$k.vec_id = b_$k.vec_id) AS INT) AS n_hit,
             |  round((SELECT count(*) FROM ($ivf) i2_$k
             |        JOIN ($brute) b2_$k ON i2_$k.vec_id = b2_$k.vec_id) / $k.0, 4) AS recall""".stripMargin
        }
        Seq(1, 5, 10, 20).map(kRow)
          .mkString("", "\nUNION ALL\n", "\nORDER BY k")
      }),

    // Matryoshka-style dimension-truncation eval: recall@10 of exact
    // cosine search over only the first d dims vs the full-dim truth —
    // the table that decides how many dims a 100 TB index actually
    // needs to store/scan (storage and dot-product cost scale linearly
    // in d; this row makes the recall price of truncation data, like
    // q_ann_recall does for the quantization tiers). Each search is
    // the audited brute plan on a slice()-projected frame; top-10s are
    // bounded collects.
    Q("q_dim_truncate",
      (s, d) => {
        val scope = new graft.api.CacheScope
        val e = scope.persist(Tables.df(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("__v")))
        def top10(dim: Int): Array[Long] = Knn.bruteForceTopK(
            e.select(col("vec_id"), slice(col("__v"), 1, dim).as("__v")),
            "vec_id", "__v", queryId = 0L, k = 10)
          .collect().map(_.getLong(0))
        val truth = top10(Dim).toSet
        val rows = Seq(8, 16, 32).map { dim =>
          val hit = top10(dim).count(truth)
          (dim, hit,
            BigDecimal.decimal(hit / 10.0)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        scope.release()
        import s.implicits._
        rows.toDF("dim", "n_hit", "recall").orderBy("dim")
      },
      Some {
        val brute = Knn.bruteForceTopKDuckSql(
          "embeddings", "vec_id", "embedding", queryId = 0L, k = 10, dim = Dim)
        def dimRow(dim: Int): String = {
          val trunc = Knn.bruteForceTopKDuckSql(
            "embeddings", "vec_id", "embedding", queryId = 0L, k = 10, dim = dim)
          s"""SELECT $dim AS dim,
             |  CAST((SELECT count(*) FROM ($trunc) t_$dim
             |        JOIN ($brute) b_$dim ON t_$dim.vec_id = b_$dim.vec_id) AS INT) AS n_hit,
             |  round((SELECT count(*) FROM ($trunc) t2_$dim
             |        JOIN ($brute) b2_$dim ON t2_$dim.vec_id = b2_$dim.vec_id) / 10.0, 4) AS recall""".stripMargin
        }
        Seq(8, 16, 32).map(dimRow)
          .mkString("", "\nUNION ALL\n", "\nORDER BY dim")
      }),

    // MMR-diversified search: the greedy re-rank runs driver-side over
    // the bounded top-fetchK; the oracle replays the identical greedy
    // argmax as a DuckDB recursive CTE (exact integer dots -> the float
    // objective is bit-reproducible across engines).
    Q("q_search_mmr",
      (s, d) => Search.searchTrigramMmr(
        s, Tables.df(s, d, "documents"), "doc_id", "text", Query,
        k = 10, fetchK = 50),
      Some(Search.searchTrigramMmrDuckSql(
        "documents", "doc_id", "text", Query, k = 10, fetchK = 50))),

    Q("q_find_matches",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        Knn.findMatches(e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding").orderBy("src_id")
      },
      Some(Knn.findMatchesDuckSql("embeddings", "vec_id", "embedding",
        srcPred = "label = 0", tgtPred = "label = 1", dim = Dim))),

    // The 100 TB tier of find_matches: LSH-band candidate join on both
    // collections + exact cosine re-rank — no target broadcast, no
    // nested-loop join anywhere in the plan.
    Q("q_find_matches_lsh",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        Knn.findMatchesLsh(e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding").orderBy("src_id")
      },
      Some(Knn.findMatchesLshDuckSql("embeddings", "vec_id", "embedding",
        srcPred = "label = 0", tgtPred = "label = 1", dim = Dim))),

    // Cross-product Σ cs·ct fuel audit of the matcher banding — the
    // q_embed_bucket_load treatment for the TWO-SIDED LSH match tiers
    // (q_find_matches_lsh / findMatchesLshTopN, the round-12 verdict's
    // worst ScaleSmoke ratio): per band, n_cand_pairs is exactly the
    // candidate count the band feeds the metric re-rank before the
    // maxBucket cap, measured on the IDENTICAL corpus split and ladder
    // width the matcher runs. Decade growth of this number lives in
    // MATCHER_BUCKET_LOAD_DECADES.json (graft.MatcherBucketLoadDecades).
    Q("q_matcher_bucket_load",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        Knn.matcherBucketLoadAudit(
          e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding")
      },
      Some(Knn.matcherBucketLoadAuditDuckSql("embeddings", "vec_id", "embedding",
        srcPred = "label = 0", tgtPred = "label = 1", dim = Dim))),

    // Matcher recall as DATA (the q_ann_recall convention on the
    // matcher surface): the LSH tier vs the brute tier's exact truth
    // on a bounded slice (vec_id < 1000 — the sampled-truth rule), in
    // the banding S-curve's TWO regimes: 'exact_dup' (targets are
    // id-shifted copies, cosine 1.0 — exact dups share every sign
    // bit, recall must be 1.0 at any width) and 'weak_top3'
    // (cross-label top-3 on near-orthogonal synthetic vectors,
    // cosine ~0.3 — the regime the banded tier is NOT for; the
    // measured single-digit recall is the documented price that sends
    // weak-similarity workloads to the brute/IVF tiers). RecallSpec
    // pins floors in tests; this makes both endpoints standing
    // oracle-checked rows at every SF the driver sweeps.
    Q("q_matcher_recall",
      (s, d) => {
        // pinned: the bounded slice feeds EIGHT matcher-side references
        // (bands/sides/count/inferDims per tier, two regimes)
        val e = graft.api.CacheScope.global.persist(
          Tables.df(s, d, "embeddings").filter(col("vec_id") < 1000))
        def regime(name: String, src: org.apache.spark.sql.DataFrame,
                   tgt: org.apache.spark.sql.DataFrame, topN: Int) = {
          val cfg = MatchConfig(metric = "cosine", topN = topN)
          val truth = Matcher.findMatchesTopN(src, tgt, "vec_id", "embedding", cfg)
            .select("src_id", "tgt_id")
          val approx = Matcher.findMatchesLshTopN(src, tgt, "vec_id", "embedding", cfg)
            .select(col("src_id"), col("tgt_id"), lit(1L).as("__hit"))
          truth.join(approx, Seq("src_id", "tgt_id"), "left")
            .agg(count(lit(1)).as("n_truth"),
              sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
            .select(lit(name).as("regime"), col("n_truth"), col("n_hit"),
              graft.ops.PortableRound.intRound4(col("n_hit"), col("n_truth")).as("recall"))
        }
        val src = e.filter(col("label") === 0).select("vec_id", "embedding")
        // regime construction runs eager driver jobs (side counts +
        // dim probes per matcher tier) — the two regimes are
        // independent, so build them concurrently (guide §2.6); each
        // regime's plan and rows are the sequential ones verbatim
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fWeak = Future(regime("weak_top3", src,
          e.filter(col("label") === 1).select("vec_id", "embedding"), topN = 3))
        val dup = regime("exact_dup", src,
          src.select((col("vec_id") + lit(10000L)).as("vec_id"), col("embedding")),
          topN = 1)
        val weak = Await.result(fWeak, Duration.Inf)
        dup.unionByName(weak).orderBy("regime")
      },
      Some {
        val bounded = "(SELECT * FROM embeddings WHERE vec_id < 1000) bounded"
        val dupTable = ("(SELECT vec_id, embedding, 0 AS side FROM embeddings " +
          "WHERE vec_id < 1000 AND label = 0 UNION ALL " +
          "SELECT vec_id + 10000, embedding, 1 FROM embeddings " +
          "WHERE vec_id < 1000 AND label = 0) b2")
        def regimeSql(name: String, truth: String, approx: String) =
          s"""SELECT '$name' AS regime, CAST(count(*) AS BIGINT) AS n_truth,
             |  CAST(sum(hit) AS BIGINT) AS n_hit,
             |  ${graft.ops.PortableRound.intRound4Duck("sum(hit)", "count(*)")} AS recall
             |FROM (
             |  SELECT t.src_id, t.tgt_id,
             |    CASE WHEN a.src_id IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM ($truth) t
             |  LEFT JOIN ($approx) a
             |    ON t.src_id = a.src_id AND t.tgt_id = a.tgt_id)""".stripMargin
        val weakCfg = MatchConfig(metric = "cosine", topN = 3)
        val dupCfg = MatchConfig(metric = "cosine", topN = 1)
        regimeSql("exact_dup",
          Matcher.findMatchesTopNDuckSql(dupTable, "vec_id", "embedding",
            srcPred = "side = 0", tgtPred = "side = 1", dim = Dim, dupCfg),
          Matcher.findMatchesLshTopNDuckSql(dupTable, "vec_id", "embedding",
            srcPred = "side = 0", tgtPred = "side = 1", dim = Dim, dupCfg)) +
          "\nUNION ALL\n" +
          regimeSql("weak_top3",
            Matcher.findMatchesTopNDuckSql(bounded, "vec_id", "embedding",
              srcPred = "label = 0", tgtPred = "label = 1", dim = Dim, weakCfg),
            Matcher.findMatchesLshTopNDuckSql(bounded, "vec_id", "embedding",
              srcPred = "label = 0", tgtPred = "label = 1", dim = Dim, weakCfg)) +
          "\nORDER BY regime"
      }),

    // Generalized matcher (reference embedding_matcher.py MatchingConfig):
    // top-n per source under a similarity threshold, default cosine.
    Q("q_find_matches_topn",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        Matcher.findMatchesTopN(e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding",
          MatchConfig(metric = "cosine", topN = 3, minSimilarity = Some(0.1)))
          .orderBy("src_id", "match_rank")
      },
      Some(Matcher.findMatchesTopNDuckSql("embeddings", "vec_id", "embedding",
        srcPred = "label = 0", tgtPred = "label = 1", dim = Dim,
        MatchConfig(metric = "cosine", topN = 3, minSimilarity = Some(0.1))))),

    // Euclidean metric: distance from the ||a-b||² expansion, similarity
    // max-normalized over the full pair matrix (reference :133-146).
    Q("q_find_matches_eucl",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        Matcher.findMatchesTopN(e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding", MatchConfig(metric = "euclidean", topN = 3))
          .orderBy("src_id", "match_rank")
      },
      Some(Matcher.findMatchesTopNDuckSql("embeddings", "vec_id", "embedding",
        srcPred = "label = 0", tgtPred = "label = 1", dim = Dim,
        MatchConfig(metric = "euclidean", topN = 3)))),

    // Manhattan metric through the native graft_l1 codegen kernel, with
    // a distance threshold (reference distance_threshold semantics).
    Q("q_find_matches_l1",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        Matcher.findMatchesTopN(e.filter(col("label") === 0), e.filter(col("label") === 1),
          "vec_id", "embedding",
          MatchConfig(metric = "manhattan", topN = 2, maxDistance = Some(12.0)))
          .orderBy("src_id", "match_rank")
      },
      Some(Matcher.findMatchesTopNDuckSql("embeddings", "vec_id", "embedding",
        srcPred = "label = 0", tgtPred = "label = 1", dim = Dim,
        MatchConfig(metric = "manhattan", topN = 2, maxDistance = Some(12.0))))),

    // Within-collection mode on the LSH (scale) tier: src == tgt +
    // excludeSelf (reference match_embeddings_within_collection :326) —
    // banded candidates, no broadcast, no nested loop.
    Q("q_find_matches_within",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings").filter(col("vec_id") < 400)
        Matcher.findMatchesLshTopN(e, e, "vec_id", "embedding",
          MatchConfig(metric = "cosine", topN = 2, excludeSelf = true))
          .orderBy("src_id", "match_rank")
      },
      Some(Matcher.findMatchesLshTopNDuckSql("embeddings", "vec_id", "embedding",
        srcPred = "vec_id < 400", tgtPred = "vec_id < 400", dim = Dim,
        MatchConfig(metric = "cosine", topN = 2, excludeSelf = true)))),

    // Near-dup detection needs near-dups: pair the corpus with an
    // id-shifted copy of itself so every vector has one exact duplicate
    // (cosine 1.0) the LSH banding must recover. The banding's chunk
    // width scales with the corpus count (Knn.widthForCount, mirrored
    // in the oracle), so the bucket domain grows with the data instead
    // of saturating a fixed 1024-key space.
    Q("q_dedup_embed",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings").select("vec_id", "embedding")
        val shifted = e.withColumn("vec_id", col("vec_id") + lit(10000L))
        Knn.nearDupPairs(e.unionByName(shifted), "vec_id", "embedding", threshold = 0.95)
          .orderBy("id_a", "id_b")
      },
      Some(Knn.nearDupPairsDuckSql(
        "SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 10000, embedding FROM embeddings",
        "vec_id", "embedding", threshold = 0.95, dim = Dim))),

    // Hot-bucket Σc² audit of q_dedup_embed's banding — the
    // quadratic-pair fuel per band, measured on the IDENTICAL corpus
    // and ladder width the finder runs (the q_shingle_df_hist
    // convention on the vector side): n_cand_pairs is exactly the
    // candidate count each band feeds the verify join before the
    // maxBucket cap, so its decade-over-decade growth is the evidence
    // that decides when to re-widen Knn.widthForCount's ladder (the
    // embed_neardup ScaleSmoke watch item, made a standing query).
    Q("q_embed_bucket_load",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings").select("vec_id", "embedding")
        val shifted = e.withColumn("vec_id", col("vec_id") + lit(10000L))
        Knn.bucketLoadAudit(e.unionByName(shifted), "vec_id", "embedding")
      },
      Some(Knn.bucketLoadAuditDuckSql(
        "SELECT vec_id, embedding FROM embeddings UNION ALL SELECT vec_id + 10000, embedding FROM embeddings",
        "vec_id", "embedding", dim = Dim))),

    // Recall audit of the embedding banding vs EXACT brute-force pairs
    // at the same threshold (the q_lsh_recall convention, extended to
    // the vector pair finder): a bounded slice (vec_id < 1000 — the
    // q_ann_recall sampled-truth rule, so the audit costs the same at
    // any SF) is tripled with an exact id-shifted copy (cosine 1.0,
    // must ALWAYS pair — exact dups share every sign bit at any width)
    // and a deterministic integer-formula jitter copy (±2% per dim,
    // cosine ≈0.996 — pairs that must survive the banding's sign
    // flips). n_banded_only must be 0 by construction: the banded
    // finder cosine-verifies candidates with the identical rounded
    // score, so its pairs are a subset of the exact set — recall is
    // the ONLY approximation, and this query measures it.
    Q("q_embed_dedup_recall",
      (s, d) => {
        val base = Tables.df(s, d, "embeddings")
          .filter(col("vec_id") < 1000)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
        val exactCopy = base.select(
          (col("vec_id") + lit(10000L)).as("vec_id"), col("embedding"))
        // jitter from the ORIGINAL vec_id and 1-based dim index — pure
        // integer arithmetic both engines replay bit-identically. The
        // jitter is applied in its OWN select, THEN the id shifts:
        // aliasing `vec_id + 20000 AS vec_id` in the same select would
        // make the lambda's col("vec_id") resolve to the SHIFTED value
        // (Spark lateral column aliasing) and silently diverge from
        // the oracle's original-id formula — caught when the widened
        // chunk ladder exposed the differing sign flips.
        val jitterCopy = base.select(
          col("vec_id"),
          transform(col("embedding"), (x, i) =>
            x + ((col("vec_id") * lit(131L) + (i + lit(1)) * lit(17L)) % lit(101L)
              - lit(50L)).cast("double") / lit(2500.0)).as("embedding"))
          .select((col("vec_id") + lit(20000L)).as("vec_id"), col("embedding"))
        val corpus = graft.api.CacheScope.global.persist(
          base.unionByName(exactCopy).unionByName(jitterCopy))
        val banded = Knn.nearDupPairs(corpus, "vec_id", "embedding", threshold = 0.95)
          .select("id_a", "id_b")
        val e = corpus.select(col("vec_id"), col("embedding").as("__v"))
          .withColumn("__nrm", graft.functions.VectorFunctions.norm(col("__v")))
        val exact = e.select(col("vec_id").as("id_a"),
            col("__v").as("__va"), col("__nrm").as("__na"))
          .crossJoin(broadcast(e.select(col("vec_id").as("id_b"),
            col("__v").as("__vb"), col("__nrm").as("__nb"))))
          .filter(col("id_a") < col("id_b"))
          .filter(round(graft.functions.VectorFunctions.dot(col("__va"), col("__vb")) /
            (col("__na") * col("__nb")), 4) >= 0.95)
          .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
        // ONE evaluation of each finder (the q_lsh_recall rewrite):
        // pairs are unique per side, so a tagged full-outer join +
        // single aggregate replaces the three 1-row aggregates that
        // re-ran the O(n²) exact matrix and the banded finder twice.
        // coalesce(sum, 0): zero/disjoint finder outputs must count 0
        // like the oracle's count(*) CTEs, not NULL (round-13 ADVICE)
        exact.join(banded.withColumn("__b", lit(1L)),
            Seq("id_a", "id_b"), "full_outer")
          .agg(coalesce(sum(col("__e")), lit(0L)).as("n_exact"),
            coalesce(sum(col("__b")), lit(0L)).as("n_banded"),
            coalesce(sum(col("__e") * col("__b")), lit(0L)).as("n_tp"))
          .select(col("n_exact"), col("n_banded"), col("n_tp"),
            (col("n_banded") - col("n_tp")).as("n_banded_only"),
            graft.ops.PortableRound.intRound4(col("n_tp"), col("n_exact"))
              .as("recall"))
      },
      {
        val corpusSql =
          s"""SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
             |  FROM embeddings WHERE vec_id < 1000
             |UNION ALL
             |SELECT vec_id + 10000, CAST(embedding AS DOUBLE[])
             |  FROM embeddings WHERE vec_id < 1000
             |UNION ALL
             |SELECT vec_id + 20000,
             |  list_transform(range(1, ${Dim + 1}), i ->
             |    CAST(embedding AS DOUBLE[])[i] +
             |    (((vec_id * 131 + i * 17) % 101) - 50) / 2500.0)
             |  FROM embeddings WHERE vec_id < 1000""".stripMargin
        def dot(x: String, y: String) =
          s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $x[i] * $y[i]))"
        Some(
          s"""WITH bnd AS (
             |  SELECT id_a, id_b
             |  FROM (${Knn.nearDupPairsDuckSql(corpusSql, "vec_id", "embedding",
                          threshold = 0.95, dim = Dim)}) bsub),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |        sqrt(${dot("v", "v")}) AS nrm FROM ($corpusSql) csub),
             |ex AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM e a JOIN e b ON a.vec_id < b.vec_id
             |  WHERE round(${dot("a.v", "b.v")} / (a.nrm * b.nrm), 4) >= 0.95),
             |tp AS (SELECT CAST(count(*) AS BIGINT) AS n_tp
             |       FROM ex JOIN bnd USING (id_a, id_b)),
             |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
             |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_banded FROM bnd)
             |SELECT n_exact, n_banded, n_tp, n_banded - n_tp AS n_banded_only,
             |  ${graft.ops.PortableRound.intRound4Duck("n_tp", "n_exact")} AS recall
             |FROM ne, nb, tp""".stripMargin)
      }),

    // SemDeDup: cluster the embedding space (distributed Lloyd's),
    // prune near-duplicates WITHIN clusters only — every 5th vector has
    // an exact shifted copy the within-cluster pass must drop; the
    // oracle replays training + assignment + the direct-witness rule
    Q("q_semdedup",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings").select("vec_id", "embedding")
        val shifted = e.filter(col("vec_id") % 5 === 0)
          .withColumn("vec_id", col("vec_id") + lit(10000L))
        graft.ann.SemDedup.semDedup(e.unionByName(shifted), "vec_id", "embedding",
          k = 8, iters = 3, threshold = 0.95)
          .orderBy("vec_id")
      },
      Some(graft.ann.SemDedup.semDedupDuckSql(
        "(SELECT vec_id, embedding FROM embeddings UNION ALL " +
          "SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 5 = 0) u",
        "vec_id", "embedding", k = 8, iters = 3, threshold = 0.95, dim = Dim))),

    // prototypicality outliers: top-10% distance-to-centroid per
    // cluster (4dp-pre-rounded rank, ties to the lower id)
    Q("q_embed_outliers",
      (s, d) => graft.ann.SemDedup.outliers(Tables.df(s, d, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 3, q = 0.1)
        .orderBy("vec_id"),
      Some(graft.ann.SemDedup.outliersDuckSql("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, q = 0.1, dim = Dim))),

    // Semantic decontamination: the eval slice (every 10th vector) has
    // leaked into the train corpus verbatim, so its rows must come back
    // contaminated=true; paraphrase-level leakage rides the same
    // cosine>=0.95 banding. Eval bands+vectors broadcast; the train
    // corpus never shuffles.
    Q("q_decontaminate_embed",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings").select("vec_id", "embedding")
        Knn.decontaminateEmbed(e, e.filter(col("vec_id") % 10 === 0),
          "vec_id", "embedding", threshold = 0.95)
          .orderBy("vec_id")
      },
      Some(Knn.decontaminateEmbedDuckSql("embeddings", "vec_id", "embedding",
        trainWhere = "true", evalWhere = "vec_id % 10 = 0",
        threshold = 0.95, dim = Dim))),

    // Pairwise label-centroid cosine matrix — which classes/sources
    // sit close in embedding space: a merged or mirrored source shows
    // up as an off-diagonal ≈ 1, drift between two snapshots as a
    // falling diagonal-pair cosine. One corpus pass builds the
    // centroids (the q_embed_centroid plan); the pairwise stage runs
    // entirely on |labels|×dim model-state rows. Dim-means pre-round
    // to the 4dp grid and QUANTIZE to integer ten-thousandths, so the
    // dot/norm sums are exact integers (order-independent — the
    // q_corr_matrix trick); only the final cosine divides floats.
    Q("q_centroid_drift",
      (s, d) => {
        val cent = Tables.df(s, d, "embeddings")
          .groupBy("label")
          .agg(call_function("graft_array_sum", col("embedding")).as("sums"),
            count(lit(1)).as("n"))
          .select(col("label"), col("n"), posexplode(col("sums")))
          // round(mean,4) lands within 1e-9 of the true 4dp grid point
          // in both engines (the q_embed_centroid contract), so
          // floor(x·10⁴ + ½) recovers the SAME integer — sign-agnostic
          .select(col("label"), col("pos"),
            floor(round(col("col") / col("n"), 4) * 10000 + 0.5)
              .cast("long").as("q"))
        val a = cent.select(col("label").as("label_a"), col("pos"), col("q").as("qa"))
        val b = cent.select(col("label").as("label_b"), col("pos"), col("q").as("qb"))
        a.join(b, "pos").filter(col("label_a") < col("label_b"))
          .groupBy("label_a", "label_b")
          .agg(sum(col("qa") * col("qb")).as("dot"),
            sum(col("qa") * col("qa")).as("na2"),
            sum(col("qb") * col("qb")).as("nb2"))
          .select(col("label_a"), col("label_b"),
            round(col("dot") / sqrt(col("na2").cast("double") * col("nb2").cast("double")), 4)
              .as("cosine"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH m AS (
             |  SELECT label, dim,
             |    CAST(floor(round(avg(v), 4) * 10000 + 0.5) AS BIGINT) AS q
             |  FROM (
             |    SELECT label,
             |           unnest(range(1, len(embedding) + 1)) AS dim,
             |           unnest(embedding) AS v
             |    FROM embeddings)
             |  GROUP BY label, dim),
             |p AS (
             |  SELECT a.label AS label_a, b.label AS label_b,
             |    CAST(sum(a.q * b.q) AS BIGINT) AS dot,
             |    CAST(sum(a.q * a.q) AS BIGINT) AS na2,
             |    CAST(sum(b.q * b.q) AS BIGINT) AS nb2
             |  FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
             |  GROUP BY a.label, b.label)
             |SELECT label_a, label_b,
             |  round(dot / sqrt(CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)), 4) AS cosine
             |FROM p ORDER BY label_a, label_b""".stripMargin)),

    // Per-label embedding centroid via the native element-wise
    // array-sum aggregate: partial aggregation reduces each partition
    // to ONE dim-length buffer per label before the (only) shuffle —
    // the posexplode->groupBy(label,dim) alternative the oracle uses
    // would shuffle n×dim rows. Output exploded to (label, dim, v)
    // AFTER aggregation (labels × dim rows — model state, not data).
    Q("q_embed_centroid",
      (s, d) => Tables.df(s, d, "embeddings")
        .groupBy("label")
        .agg(call_function("graft_array_sum", col("embedding")).as("sums"),
          count(lit(1)).as("n"))
        .select(col("label"),
          posexplode(transform(col("sums"), x => round(x / col("n"), 4))))
        .select(col("label"), (col("pos") + 1).as("dim"), col("col").as("v"))
        .orderBy("label", "dim"),
      Some("""SELECT label, CAST(dim AS INT) AS dim, round(avg(v), 4) AS v
             |FROM (
             |  SELECT label,
             |         unnest(range(1, len(embedding) + 1)) AS dim,
             |         unnest(embedding) AS v
             |  FROM embeddings)
             |GROUP BY label, dim
             |ORDER BY label, dim""".stripMargin)),

    // k-NN majority-vote classification — the sklearn inference engine
    // re-expressed as joins + windows (probes broadcast, train corpus
    // streams once); labels are the synthetic cluster ids, so accuracy
    // is high and the oracle replays the identical rank-and-vote.
    Q("q_knn_classify",
      (s, d) => Knn.classifyKnn(Tables.df(s, d, "embeddings"),
        "vec_id", "embedding", "label",
        probePred = col("vec_id") < 100, k = 5),
      Some(Knn.classifyKnnDuckSql("embeddings", "vec_id", "embedding", "label",
        probePredSql = "vec_id < 100", k = 5, dim = Dim))),

    // Embedding sanity stats (reference: utils/embedding_utils.py:252
    // compute_embedding_statistics): per-label count, dimensionality,
    // norm mean/std — one scan, partial agg; the norm is the native
    // codegen dot, never an interpreted lambda.
    // distributed Lloyd's k-means (the trained IVF codebook): one
    // aggregation job per iteration, Euclidean codegen argmin
    // assignment; the oracle replays the ENTIRE training loop —
    // first-k-by-id init, 3 unrolled Lloyd's steps, final assignment
    // — in DuckDB (integer output, so exact up to genuine distance
    // ties); KMeansSpec additionally pins convergence, determinism,
    // exact recovery of separated clusters, IVF codebook drop-in
    Q("q_kmeans",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        graft.ann.KMeans.assign(e, "vec_id", "embedding",
          graft.ann.KMeans.fit(e, "vec_id", "embedding", k = 8, maxIters = 3))
          .orderBy("vec_id")
      },
      Some(graft.ann.KMeans.assignDuckSql(
        "embeddings", "vec_id", "embedding", k = 8, iters = 3, dim = Dim))),

    // Per-cluster mean centroid-approximated silhouette — the "is k
    // right" diagnostic over the trained model: map-only k-struct
    // sort per row + one bounded-key partial agg; per-row scores
    // pre-round to integer 1e-4 units so the mean is an exact integer
    // sum in both engines; oracle replays the full training loop
    Q("q_silhouette",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        graft.ann.KMeans.silhouette(e, "vec_id", "embedding",
          graft.ann.KMeans.fit(e, "vec_id", "embedding", k = 8, maxIters = 3))
          .orderBy("cluster")
      },
      Some(graft.ann.KMeans.silhouetteDuckSql(
        "embeddings", "vec_id", "embedding", k = 8, iters = 3, dim = Dim))),

    // Cluster-vs-label agreement (purity): per trained cluster, the
    // majority ground-truth label's share — the "did unsupervised
    // clustering recover the known structure" eval over the labeled
    // embeddings. One map-only argmin pass, one keyed self-join on the
    // id, two bounded-key aggregations + a rank window on the cluster
    // key; oracle replays the full training loop then the same ranking.
    Q("q_cluster_purity",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        val m = graft.ann.KMeans.fit(e, "vec_id", "embedding", k = 8, maxIters = 3)
        val cl = graft.ann.KMeans.assign(e, "vec_id", "embedding", m)
          .join(e.select(col("vec_id"), col("label")), "vec_id")
          .groupBy("cluster", "label").agg(count(lit(1)).as("cnt"))
        val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
        cl.withColumn("n", sum("cnt").over(byCluster))
          .withColumn("__rn", row_number().over(
            byCluster.orderBy(col("cnt").desc, col("label").asc)))
          .filter(col("__rn") === 1)
          .select(col("cluster"), col("n"),
            col("label").as("top_label"), col("cnt").as("top_n"),
            graft.ops.PortableRound.intRound4(col("cnt"), col("n")).as("purity"))
          .orderBy("cluster")
      },
      Some(s"""WITH ${graft.ann.KMeans.assignCtesDuckSql(
                 "embeddings", "vec_id", "embedding", k = 8, iters = 3, dim = Dim)},
              |cl AS (
              |  SELECT a.cid AS cluster, t.label, CAST(count(*) AS BIGINT) AS cnt
              |  FROM afinal a JOIN embeddings t ON t.vec_id = a.id
              |  GROUP BY a.cid, t.label)
              |SELECT cluster, n, top_label, top_n,
              |  ${graft.ops.PortableRound.intRound4Duck("top_n", "n")} AS purity
              |FROM (
              |  SELECT cluster, label AS top_label, cnt AS top_n,
              |    CAST(sum(cnt) OVER (PARTITION BY cluster) AS BIGINT) AS n,
              |    row_number() OVER (PARTITION BY cluster
              |      ORDER BY cnt DESC, label ASC) AS rn
              |  FROM cl) t
              |WHERE rn = 1
              |ORDER BY cluster""".stripMargin)),

    // IVF cell load-balance report over the same trained coarse
    // quantizer: (cluster, n, frac, load) with load = n·k/N — max(load)
    // bounds the worst probe's cost vs the balanced ideal. One map-only
    // argmin pass + one k-key aggregate; the k-row cell table persists
    // so the 1-row total never rescans the corpus.
    Q("q_ivf_balance",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        graft.ann.KMeans.cellBalance(e, "vec_id", "embedding",
          graft.ann.KMeans.fit(e, "vec_id", "embedding", k = 8, maxIters = 3))
      },
      Some(graft.ann.KMeans.cellBalanceDuckSql(
        "embeddings", "vec_id", "embedding", k = 8, iters = 3, dim = Dim))),

    // Johnson–Lindenstrauss random projection — the TRAINING-FREE
    // dim-reduction tier beside PCA: a seed-derived ±1/√k sign matrix
    // (no covariance pass, no model state), applied map-only in the
    // ingest scan; the oracle replays the identical literal matrix
    // (see ops/RandomProjection).
    Q("q_jl_project",
      (s, d) => graft.ops.RandomProjection.project(
        Tables.df(s, d, "embeddings"), "vec_id", "embedding",
        k = 8, d = Dim)
        .orderBy("vec_id"),
      Some(graft.ops.RandomProjection.projectDuckSql(
        "embeddings", "vec_id", "embedding", k = 8, d = Dim))),

    // distributed PCA projection (dimensionality_reduction.py analog):
    // the eigen-decomposition itself is not SQL-expressible (PcaSpec
    // pins orthonormality, variance ordering, claimed-vs-measured pc
    // variances, shuffle-free plan), but the distributed projection
    // pass IS — the oracle embeds the fitted components as literals
    // (refit from the same corpus — the fit is deterministic) and
    // re-projects every row in DuckDB
    new Q("q_embed_pca",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        graft.ops.Pca.project(e, "vec_id", "embedding", pcaFit(s, d))
          .select(col("vec_id"), round(col("pc1"), 4).as("pc1"),
            round(col("pc2"), 4).as("pc2"))
          .orderBy("vec_id")
      },
      (s, d) => Some(graft.ops.Pca.projectDuckSql("embeddings", "vec_id", "embedding",
        pcaFit(s, d), round4 = true))),

    // PCA-whitened projection — unit-variance decorrelated coordinates,
    // the normalization retrieval pipelines apply before cosine /
    // Euclidean search so one dominant direction can't swamp the
    // metric. Map-only: the 1/sqrt(λ) scales are driver-computed
    // literals, identical in both engines; the oracle re-projects every
    // row with a refit model (the q_embed_pca pattern).
    new Q("q_embed_whiten",
      (s, d) => {
        val e = Tables.df(s, d, "embeddings")
        graft.ops.Pca.projectWhitened(e, "vec_id", "embedding", pcaFit(s, d))
          .select(col("vec_id"), round(col("w1"), 4).as("w1"),
            round(col("w2"), 4).as("w2"))
          .orderBy("vec_id")
      },
      (s, d) => Some(graft.ops.Pca.projectWhitenedDuckSql("embeddings", "vec_id", "embedding",
        pcaFit(s, d), round4 = true))),

    // Participation-ratio effective dimensionality — the embedding-
    // collapse diagnostic: PR = trace(C)²/‖C‖²_F = (Σλ)²/Σλ², no eigen
    // needed, ONE aggregation pass (the PCA Σx/Σxxᵀ kernel) + 1-row
    // arithmetic; a collapsed encoder shows eff_dim ≪ dim long before
    // retrieval quality visibly degrades
    Q("q_embed_effdim",
      (s, d) => graft.ops.Pca.effectiveDim(
        Tables.df(s, d, "embeddings"), "embedding", dim = Dim),
      Some(graft.ops.Pca.effectiveDimDuckSql("embeddings", "embedding", dim = Dim))),

    Q("q_embed_stats",
      (s, d) => Tables.df(s, d, "embeddings")
        .select(col("label"),
          size(col("embedding")).as("dim"),
          graft.functions.VectorFunctions.norm(col("embedding")).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          max(col("dim")).as("dim"),
          round(avg(col("nrm")), 4).as("mean_norm"),
          round(stddev_pop(col("nrm")), 4).as("std_norm"))
        .orderBy("label"),
      Some(s"""SELECT label, count(*) AS n, CAST(max(len(embedding)) AS INT) AS dim,
              |  round(avg(nrm), 4) AS mean_norm,
              |  round(stddev_pop(nrm), 4) AS std_norm
              |FROM (
              |  SELECT label, embedding,
              |         sqrt(list_sum(list_transform(range(1, ${Dim + 1}),
              |           i -> CAST(embedding[i] AS DOUBLE) * embedding[i]))) AS nrm
              |  FROM embeddings)
              |GROUP BY label
              |ORDER BY label""".stripMargin)),

    // BM25 lexical ranked retrieval: per-doc term frequencies computed
    // in the scan (no explode), corpus stats one 1-row broadcast agg,
    // fixed-order score arithmetic, TakeOrderedAndProject top-k — one
    // corpus pass at any scale.
    Q("q_search_bm25",
      (s, d) => graft.index.Bm25.search(Tables.df(s, d, "documents"),
        "doc_id", "text", Query, k = 15),
      Some(graft.index.Bm25.searchDuckSql("documents", "doc_id", "text",
        Query, k = 15))),

    // Passage retrieval end-to-end (the RAG ingestion + query path):
    // token-window chunking composed with BM25 over the CHUNK corpus —
    // retrieval at sub-document granularity, the unit a RAG context
    // window actually consumes. Both stages are the already-verified
    // operators; this row proves they COMPOSE (the q_pipeline_e2e
    // argument for the retrieval side). chunk_id = doc_id·100000 +
    // chunk_idx keeps ids unique without a global pass.
    Q("q_chunk_search",
      (s, d) => {
        val chunks = graft.ops.Chunking.chunk(Tables.df(s, d, "documents"),
          "doc_id", "text", win = 16, stride = 8)
          .select((col("doc_id") * 100000L + col("chunk_idx")).as("chunk_id"),
            col("chunk"))
        graft.index.Bm25.search(chunks, "chunk_id", "chunk", Query, k = 10)
      },
      Some(graft.index.Bm25.searchDuckSql(
        "(SELECT doc_id * 100000 + chunk_idx AS chunk_id, chunk FROM ("
          + graft.ops.Chunking.chunkDuckSql("documents", "doc_id", "text",
              win = 16, stride = 8)
          + ") ch) chunks",
        "chunk_id", "chunk", Query, k = 10))),

    // Retrieval-quality eval, the lexical twin of the ANN recallAtK:
    // self-retrieval MRR@10 — each probe doc's first 4 tokens query
    // the corpus, rank of the probe itself in the BM25 top-k; the
    // oracle re-derives the probe queries from the same corpus and
    // replays every probe's full search with them as literals.
    new Q("q_search_mrr",
      (s, d) => graft.index.SearchEval.bm25SelfMrr(
        Tables.df(s, d, "documents"), "doc_id", "text",
        probeIds = ProbeIds, nTerms = 4)
        .orderBy("probe_id"),
      (s, d) => Some(graft.index.SearchEval.bm25SelfMrrDuckSql(
        "documents", "doc_id", "text", probes(s, d)))),

    // Hybrid retrieval by reciprocal-rank fusion: BM25 + trigram-cosine
    // top-20 lists fused with 1/(60+rank) — the score-scale-free
    // combination (raw BM25 and cosine are incomparable; ranks always
    // are). Retrievals distributed; fusion is the MMR bounded driver
    // re-rank.
    Q("q_search_hybrid",
      (s, d) => Search.hybridRrf(s, Tables.df(s, d, "documents"),
        "doc_id", "text", Query, k = 10)
        .orderBy(col("rrf").desc, col("doc_id").asc),
      Some(Search.hybridRrfDuckSql("documents", "doc_id", "text", Query, k = 10))),

    // Retriever-agreement report: top-10 overlap between the BM25
    // lexical ranking and the trigram-cosine ranking per probe — low
    // overlap flags tokenization drift between the surfaces (and is
    // the signal hybrid retrieval would add value). Bounded probe
    // list, both retrievers replayed end-to-end by the oracle.
    new Q("q_search_agreement",
      (s, d) => graft.index.SearchEval.retrieverAgreement(
        Tables.df(s, d, "documents"), "doc_id", "text",
        probeIds = ProbeIds, nTerms = 4)
        .orderBy("probe_id"),
      (s, d) => Some(graft.index.SearchEval.retrieverAgreementDuckSql(
        "documents", "doc_id", "text", probes(s, d)))),

    // The no-model bootstrap path END TO END: raw text -> feature-hash
    // vectors -> distributed Lloyd's -> topic assignment, with the
    // oracle replaying hash-embed + the full unrolled training loop.
    // This is the composition the hash-embed row promises (text corpus
    // into the vector operators without an external encoder).
    Q("q_topic_cluster",
      (s, d) => {
        val emb = graft.text.HashEmbed.embed(
          Tables.df(s, d, "documents"), "doc_id", "text", dim = 16)
          .select(col("doc_id"), col("vec").cast("array<double>").as("vec"))
        graft.ann.KMeans.assign(emb, "doc_id", "vec",
          graft.ann.KMeans.fit(emb, "doc_id", "vec", k = 6, maxIters = 2))
          .orderBy("doc_id")
      },
      Some("WITH hv AS (SELECT doc_id, vec FROM ("
        + graft.text.HashEmbed.embedDuckSql("documents", "doc_id", "text", dim = 16)
        + ") t0),\n"
        + graft.ann.KMeans.assignDuckSql("hv", "doc_id", "vec",
            k = 6, iters = 2, dim = 16).stripPrefix("WITH "))),

    // Cluster-balanced diversity sample: equal per-cluster quota over
    // the same fitted clustering as q_topic_cluster (same corpus, k and
    // iterations; the fit is deterministic) — the DataComp-style "cluster then sample evenly"
    // subset builder. Assignment is the map-only argmin; the quota cut
    // is one bottom-k-struct partial aggregate on the bounded cluster
    // key (no corpus-wide rank window); the oracle replays the full
    // training loop + the identical (hash, id) quota order.
    Q("q_diverse_sample",
      (s, d) => {
        val emb = graft.text.HashEmbed.embed(
          Tables.df(s, d, "documents"), "doc_id", "text", dim = 16)
          .select(col("doc_id"), col("vec").cast("array<double>").as("vec"))
        graft.ops.Sampling.diverseSample(emb, "doc_id", "vec",
          graft.ann.KMeans.fit(emb, "doc_id", "vec", k = 6, maxIters = 2),
          quota = 20)
          .orderBy("doc_id")
      },
      Some("WITH hv AS (SELECT doc_id, vec FROM ("
        + graft.text.HashEmbed.embedDuckSql("documents", "doc_id", "text", dim = 16)
        + ") t0),\n"
        + graft.ann.KMeans.assignCtesDuckSql("hv", "doc_id", "vec",
            k = 6, iters = 2, dim = 16)
        + ",\nassigned AS (SELECT id AS doc_id, cid AS cluster FROM afinal)\n"
        + graft.ops.Sampling.diverseSampleDuckSql("assigned", "doc_id", quota = 20)
        + "\nORDER BY doc_id")),

    // Topic labeling: top-5 tokens per discovered cluster — the human-
    // readable face of q_topic_cluster. (cluster, token) counts are a
    // keyed partial agg; the rank window partitions on the bounded
    // cluster key (k=6); output is model-state-sized (k x 5 rows).
    Q("q_cluster_terms",
      (s, d) => {
        val docs = Tables.df(s, d, "documents")
        val emb = graft.text.HashEmbed.embed(docs, "doc_id", "text", dim = 16)
          .select(col("doc_id"), col("vec").cast("array<double>").as("vec"))
        val asg = graft.ann.KMeans.assign(emb, "doc_id", "vec",
          graft.ann.KMeans.fit(emb, "doc_id", "vec", k = 6, maxIters = 2))
        asg.join(docs.select("doc_id", "text"), "doc_id")
          .select(col("cluster"),
            explode(graft.text.TextFunctions.tokens(lower(col("text")))).as("tok"))
          .groupBy("cluster", "tok").agg(count(lit(1)).as("c"))
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("cluster")
              .orderBy(col("c").desc, col("tok").asc)))
          .filter(col("rnk") <= 5)
          .select(col("cluster"), col("tok"), col("c"), col("rnk"))
          .orderBy("cluster", "rnk")
      },
      // composes KMeans' CTE fragment (assignCtesDuckSql, ends in
      // afinal) with a bespoke final SELECT — no string surgery on the
      // composed assignDuckSql (whose final-SELECT text drifting would
      // have silently no-op'd the old .replace)
      Some("WITH hv AS (SELECT doc_id, vec FROM ("
        + graft.text.HashEmbed.embedDuckSql("documents", "doc_id", "text", dim = 16)
        + ") t0),\n"
        + graft.ann.KMeans.assignCtesDuckSql("hv", "doc_id", "vec",
            k = 6, iters = 2, dim = 16)
        + "\n"
        + """SELECT cluster, tok, c, CAST(rnk AS INT) AS rnk FROM (
          |  SELECT cluster, tok, c, row_number() OVER (
          |    PARTITION BY cluster ORDER BY c DESC, tok ASC) AS rnk
          |  FROM (
          |    SELECT a.cid AS cluster, t.tok, count(*) AS c
          |    FROM afinal a JOIN (
          |      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          |      FROM documents) t ON a.id = t.doc_id
          |    GROUP BY a.cid, t.tok) cnt) rk
          |WHERE rnk <= 5
          |ORDER BY cluster, rnk""".stripMargin)),

    // Hard-negative mining for retrieval training: top-3 cross-source
    // negatives per probe over a FIXED-SIZE deterministic probe set
    // (hash-ordered limit — the broadcast side is 24 rows at ANY
    // corpus size; see ops/HardNegatives.scala for the scale story).
    Q("q_hard_negatives",
      (s, d) => graft.ops.HardNegatives.mine(Tables.df(s, d, "documents"),
        "doc_id", "source", "text", dim = 16, nProbes = 24, topK = 3)
        .orderBy("probe_id", "rnk"),
      Some(graft.ops.HardNegatives.mineDuckSql("documents", "doc_id",
        "source", "text", dim = 16, nProbes = 24, topK = 3))),

    // Feature-hashing embeddings: text corpus -> dense hashed
    // bag-of-words vectors (the no-model bootstrap into the vector
    // operators); map-only codegen, exact integer counts + 4dp norm.
    // The registered query unrolls the dim-16 vector into per-dim
    // scalar columns v_0..v_15 (the q_minhash_sig mh_0..mh_7 pattern)
    // because the driver comparator cannot sort array-typed frames;
    // library callers use HashEmbed.embed's array form directly.
    Q("q_hash_embed",
      (s, d) => {
        val e = graft.text.HashEmbed.embed(Tables.df(s, d, "documents"),
          "doc_id", "text", dim = 16)
        val dims = (0 until 16).map(i => col("vec")(i).as(s"v_$i"))
        e.select(col("doc_id") +: dims :+ col("n_toks") :+ col("norm"): _*)
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, "
        + (0 until 16).map(i => s"vec[${i + 1}] AS v_$i").mkString(", ")
        + ", n_toks, norm FROM ("
        + graft.text.HashEmbed.embedDuckSql("documents", "doc_id", "text", dim = 16)
        + ") hv ORDER BY doc_id"))
  )
}
