package graft.queries

import graft.Tables
import graft.ops.Corpus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Corpus-level text statistics over `documents` (SURVEY §2 rows
  * 47g-47i): frequent n-grams, per-doc tf-idf terms, and train/eval
  * n-gram decontamination. Each oracle recomputes the identical result
  * in DuckDB; tf-idf rounds scores to 4dp BEFORE ranking so both
  * engines rank the same values.
  */
object CorpusQueries extends QuerySet {

  // The tokenizer q_bpe_stats and q_bpe_encode train, and their oracles
  // retrain from the same (session, dir): training is deterministic, so
  // each oracle inlines exactly the merges its query used.
  private def bpeFit(s: SparkSession, d: String) =
    graft.text.BpeTrain.fit(Tables.df(s, d, "documents"), "text", nMerges = 10)

  def all: Seq[Q] = Seq(
    Q("q_top_ngrams",
      (s, d) => Corpus.topNgrams(Tables.df(s, d, "documents"), "text", w = 2, k = 25),
      Some(Corpus.topNgramsDuckSql("documents", "text", w = 2, k = 25))),

    Q("q_tfidf",
      (s, d) => Corpus.tfIdf(Tables.df(s, d, "documents"), "doc_id", "text", topK = 3),
      Some(Corpus.tfIdfDuckSql("documents", "doc_id", "text", topK = 3))),

    // Deterministic Count-Min heavy-hitter audit: est >= exact by the
    // CMS guarantee, and every hash is engine-portable, so the oracle
    // replays the sketch TABLE itself, not just the answer
    Q("q_cms_topk",
      (s, d) => graft.ops.Sketches.cmsTopK(
        Tables.df(s, d, "documents"), "text", k = 20),
      Some(graft.ops.Sketches.cmsTopKDuckSql("documents", "text", k = 20))),

    // eval set = source 'src0'; w=4 grams (the reference-style 8-13
    // gram windows need longer docs than the synthetic corpus carries)
    Q("q_decontaminate",
      (s, d) => Corpus.decontaminate(
        Tables.df(s, d, "documents"), "doc_id", "text",
        evalPred = col("source") === "src0", w = 4),
      Some(Corpus.decontaminateDuckSql(
        "documents", "doc_id", "text", "source = 'src0'", w = 4))),

    // graded contamination: the FRACTION of each train doc's distinct
    // 4-grams that appear in the eval set — the thresholdable signal
    // (drop >80%, down-weight 20-80%) where q_decontaminate is binary
    Q("q_contam_frac",
      (s, d) => Corpus.contaminationFrac(
        Tables.df(s, d, "documents"), "doc_id", "text",
        evalPred = col("source") === "src0", w = 4),
      Some(Corpus.contaminationFracDuckSql(
        "documents", "doc_id", "text", "source = 'src0'", w = 4))),

    // top-k adjacent-token collocations by PMI (4dp-pre-rounded before
    // ranking): multi-word-expression mining / template detection;
    // unigram table joins back KEYED (vocab-scale at 100 TB), totals
    // are 1-row broadcasts, top-k is TakeOrdered
    Q("q_pmi",
      (s, d) => Corpus.pmiCollocations(
        Tables.df(s, d, "documents"), "text", minCount = 5, k = 25),
      Some(Corpus.pmiCollocationsDuckSql("documents", "text", minCount = 5, k = 25))),

    // RAKE keyword extraction: stopword-delimited candidate phrases
    // scored by Σ deg(w)/freq(w) — the multi-word keyword miner that
    // needs no model (Rose et al. 2010). Word scores fixed-point-
    // quantized (exact integers) before the phrase sum, so both
    // engines rank identical values.
    Q("q_rake",
      (s, d) => Corpus.rakeKeywords(
        Tables.df(s, d, "documents"), "doc_id", "text", maxWords = 4, k = 20),
      Some(Corpus.rakeKeywordsDuckSql("documents", "doc_id", "text",
        maxWords = 4, k = 20))),

    // TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    // UNWEIGHTED word co-occurrence graph (adjacent non-stopword
    // pairs, the original paper's keyword configuration) — the
    // graph-centrality complement to q_rake's frequency scores. Words
    // hash to the house 60-bit md5 ids; the rank iteration is the
    // shared integer fixed-point PageRank (bit-exact across engines),
    // so the only float anywhere is none at all. Vocabulary-bounded
    // graph (edges ≤ vocab²), top-k TakeOrdered.
    Q("q_textrank",
      (s, d) => {
        val stop = graft.text.TextFunctions.stopwords
        val f = Tables.df(s, d, "documents")
          .select(col("doc_id"),
            posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
          .filter(!col("w").isInCollection(stop) && col("w") =!= "")
          .withColumn("h",
            expr("cast(conv(substr(md5(w), 1, 15), 16, 10) as bigint)"))
        val e = f.select(col("doc_id"), col("pos"), col("h"))
          .join(f.select(col("doc_id"), (col("pos") - 1).as("pos"),
            col("h").as("h2")), Seq("doc_id", "pos"))
          .filter(col("h") =!= col("h2"))
          .select(least(col("h"), col("h2")).as("id_a"),
            greatest(col("h"), col("h2")).as("id_b"))
          .distinct()
        val vocab = f.select(col("w").as("word"), col("h").as("id")).distinct()
        graft.ops.PageRank.ranks(e, "id_a", "id_b")
          .join(vocab, "id")
          .select(col("word"), col("rank_fp"))
          .orderBy(col("rank_fp").desc, col("word").asc)
          .limit(20)
      },
      {
        val stoplist = graft.text.TextFunctions.stopwords
          .map(w => s"'$w'").mkString(", ")
        val tokens =
          s"""SELECT doc_id, pos, w,
             |  CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
             |FROM (SELECT doc_id, unnest(ws) AS w,
             |        unnest(generate_series(1, len(ws))) AS pos
             |      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
             |            FROM documents))
             |WHERE w NOT IN ($stoplist) AND w <> ''""".stripMargin
        val edges =
          s"""WITH fz AS ($tokens)
             |SELECT DISTINCT least(a.h, b.h) AS id_a, greatest(a.h, b.h) AS id_b
             |FROM fz a JOIN fz b
             |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND a.h <> b.h""".stripMargin
        Some(s"""SELECT v.word, pr.rank_fp
           |FROM (${graft.ops.PageRank.ranksDuckSql(edges, "id_a", "id_b")}) pr
           |JOIN (WITH fz AS ($tokens)
           |      SELECT DISTINCT w AS word, h AS id FROM fz) v ON v.id = pr.id
           |ORDER BY pr.rank_fp DESC, v.word LIMIT 20""".stripMargin)
      }),

    // Per-source shingle NOVELTY — the marginal-value-of-ingest curve
    // (DataComp-style): what fraction of a source's distinct 3-gram
    // shingles appears in NO lexicographically-earlier source. A
    // source that only re-treads earlier shingles adds bulk, not
    // coverage — drop it from the mix before paying to tokenize it.
    // Explode → per-(source, shingle) distinct → min-source first-
    // occurrence attribution → one keyed join back: every stage is
    // vocabulary-bounded, the ratio rounds integer-exact
    // (PortableRound), and min(source) over ASCII strings orders
    // identically in both engines.
    Q("q_novelty",
      (s, d) => {
        // pinned: the first-occurrence aggregate AND the join back both
        // read the distinct postings — unpersisted, the corpus-wide
        // explode + md5 + distinct ran twice. This is the one pin in
        // the registry that is CORPUS-sized (one row per distinct
        // (source, gram-hash)), so it gets an explicit serialized
        // spill-safe level instead of the default deserialized
        // MEMORY_AND_DISK: at 100 TB the deserialized row objects would
        // own the heap, while serialized blocks stay compact and drop
        // to disk per-block (guide §5). The recompute it saves — a full
        // corpus explode + md5 + distinct shuffle — dwarfs the
        // serialize/deserialize cost at every scale measured
        // (A/B in OPTIMIZATION_r14.md).
        val g = graft.api.CacheScope.global.persist(
          Tables.df(s, d, "documents")
            .select(col("source"),
              explode(graft.text.Repetition.ngrams(col("text"), 3)).as("gram"))
            .select(col("source"),
              graft.text.TextFunctions.portableHash60(col("gram")).as("gh"))
            .distinct(),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val first = g.groupBy("gh").agg(min("source").as("first_src"))
        g.join(first, "gh")
          .groupBy("source")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_src") === col("source"), 1L).otherwise(0L)).as("n_novel"))
          .select(col("source"), col("n_shingles"), col("n_novel"),
            graft.ops.PortableRound.intRound4(col("n_novel"), col("n_shingles"))
              .as("novelty"))
          .orderBy("source")
      },
      Some(s"""WITH g0 AS (
              |  SELECT source, unnest(${graft.text.Repetition.ngramsDuck("text", 3)}) AS gram
              |  FROM documents),
              |g AS (
              |  SELECT DISTINCT source,
              |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gh
              |  FROM g0),
              |f AS (SELECT gh, min(source) AS first_src FROM g GROUP BY gh),
              |agg AS (
              |  SELECT g.source, CAST(count(*) AS BIGINT) AS n_shingles,
              |    CAST(sum(CASE WHEN f.first_src = g.source THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
              |  FROM g JOIN f USING (gh)
              |  GROUP BY g.source)
              |SELECT source, n_shingles, n_novel,
              |  ${graft.ops.PortableRound.intRound4Duck("n_novel", "n_shingles")} AS novelty
              |FROM agg
              |ORDER BY source""".stripMargin)),

    // corpus health dashboard: per-language token/vocab/hapax/top-share
    Q("q_vocab_stats",
      (s, d) => Corpus.vocabStats(Tables.df(s, d, "documents"), "lang", "text"),
      Some(Corpus.vocabStatsDuckSql("documents", "lang", "text"))),

    // pairwise vocabulary Jaccard between language corpora — the
    // coarse similarity matrix next to q_corpus_kl's
    // distribution-sensitive drift
    Q("q_vocab_overlap",
      (s, d) => Corpus.vocabOverlap(Tables.df(s, d, "documents"), "lang", "text"),
      Some(Corpus.vocabOverlapDuckSql("documents", "lang", "text"))),

    // "does my quality score just measure length?" — Pearson corr of
    // the stopword-ratio score vs n_chars, 1 row; a |corr| near 1
    // means the gate is a length filter in disguise
    // corr is computed from EXACT integer sums (score pre-quantized to
    // 1e-4 units) with the textbook formula in identical operation
    // order — the built-in corr() aggregates differ in summation order
    // between engines and can flip the 4th decimal on large corpora
    Q("q_score_length_corr",
      (s, d) => {
        val agg = Tables.df(s, d, "documents")
          // fixed-point quantizer in exact integer arithmetic
          // (PortableRound.intScaled): round(ratio * 10000) on the
          // double has the same cross-engine decimal-boundary hazard
          // as round(ratio, 4)
          .select(graft.ops.PortableRound.intScaled(
            graft.text.TextFunctions.stopwordCount(split(col("text"), " ")),
            size(split(col("text"), " "))).as("xi"),
            col("n_chars").cast("long").as("yi"))
          .agg(count(lit(1)).as("n"),
            sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
            sum(col("xi") * col("yi")).as("sxy"),
            sum(col("xi") * col("xi")).as("sxx"),
            sum(col("yi") * col("yi")).as("syy"))
        val nd = col("n").cast("double")
        val num = nd * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val den = sqrt(
          (nd * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")) *
          (nd * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double")))
        agg.select(col("n"),
          round(when(den === 0.0, lit(null)).otherwise(num / den), 4)
            .as("score_len_corr"))
      },
      Some(s"""SELECT CAST(n AS BIGINT) AS n,
              |  round(CASE WHEN sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) = 0 THEN NULL
              |        ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              |           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 4) AS score_len_corr
              |FROM (
              |  SELECT count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
              |         sum(xi * yi) AS sxy, sum(xi * xi) AS sxx, sum(yi * yi) AS syy
              |  FROM (
              |    SELECT CAST(${graft.ops.PortableRound.intScaledDuck(
                     graft.text.TextFunctions.stopwordCountDuck("string_split(text, ' ')"),
                     "len(string_split(text, ' '))")} AS BIGINT) AS xi,
              |           CAST(n_chars AS BIGINT) AS yi
              |    FROM documents) t) a""".stripMargin)),

    // distribution drift between language corpora: add-one-smoothed KL
    // over the global vocabulary, absent-absent mass in closed form
    Q("q_corpus_kl",
      (s, d) => Corpus.klDivergence(Tables.df(s, d, "documents"), "lang", "text"),
      Some(Corpus.klDivergenceDuckSql("documents", "lang", "text"))),

    // DSIR importance weights: hashed-unigram LM log-ratio of the
    // target slice (lang='en') vs the raw corpus, per raw doc — the
    // "find me more like this domain" selection score; the 1024-bucket
    // model is the only broadcast
    Q("q_dsir_weights",
      (s, d) => Corpus.importanceWeights(Tables.df(s, d, "documents"),
        "doc_id", "text", targetPred = col("lang") === "en")
        .orderBy("doc_id"),
      Some(Corpus.importanceWeightsDuckSql("documents", "doc_id", "text",
        targetPredSql = "lang = 'en'"))),

    // DSIR importance RESAMPLING (the selection half): Gumbel-top-k
    // draw of 50 docs with probability ∝ exp(log_w), Gumbel noise from
    // the deterministic membership hash — reruns and engines draw the
    // identical sample; map-only perturbation + TakeOrdered
    Q("q_dsir_sample",
      (s, d) => Corpus.importanceSample(Tables.df(s, d, "documents"),
        "doc_id", "text", targetPred = col("lang") === "en",
        n = 50, salt = "dsir"),
      Some(Corpus.importanceSampleDuckSql("documents", "doc_id", "text",
        targetPredSql = "lang = 'en'", n = 50, salt = "dsir"))),

    // Zipf rank-frequency fit: ln(freq)-on-ln(rank) least squares over
    // the vocab table; rank via the range-partition prefix-sum idiom
    // (no partition-less window), 1 row out
    Q("q_zipf_fit",
      (s, d) => Corpus.zipfFit(Tables.df(s, d, "documents"), "text"),
      Some(Corpus.zipfFitDuckSql("documents", "text"))),

    // distributed BPE training: the corpus compresses to its word-freq
    // table, then one partial-agg pair count per merge with only the
    // winning pair to the driver (the Lloyd's-iteration state pattern);
    // the oracle unrolls the identical loop — same tie-break, same
    // greedy left-to-right replace semantics — in DuckDB
    Q("q_bpe_train",
      (s, d) => graft.text.BpeTrain.fitDF(
        s, Tables.df(s, d, "documents"), "text", nMerges = 10),
      Some(graft.text.BpeTrain.fitDuckSql("documents", "text", nMerges = 10))),

    // per-source top-quantile quality gate: keep the best 30% of each
    // source by (4dp-pre-rounded) score — relative gating that cannot
    // empty a low-resource source; source-partitioned window only
    Q("q_quality_topq",
      (s, d) => Corpus.qualityTopQ(Tables.df(s, d, "documents"),
        "doc_id", "source", "text", q = 0.3)
        .orderBy("doc_id"),
      Some(Corpus.qualityTopQDuckSql("documents", "doc_id", "source", "text", q = 0.3))),

    // tokenizer fertility per language from freshly trained merges:
    // tokens/word + chars/token per group — the over-fragmentation
    // check; the oracle re-encodes with the same literal merges
    // (q_bpe_train's oracle pins the training loop itself)
    new Q("q_bpe_stats",
      (s, d) => {
        graft.text.BpeTrain.fertilityStats(Tables.df(s, d, "documents"), "lang", "text",
          bpeFit(s, d))
          .orderBy("lang")
      },
      (s, d) => Some(graft.text.BpeTrain.fertilityStatsDuckSql(
        "documents", "doc_id", "lang", "text", bpeFit(s, d)))),

    // map-only encode with freshly trained merges: the merge table
    // compiles into a chained replace per word — no joins, no state,
    // the 100 TB tokenization pass. The oracle inlines the same merges
    // as literals.
    // The token array serializes to a space-joined string for the
    // driver comparator (arrays crash its pandas sort — the
    // q_mlm_mask pattern); library callers use BpeTrain.encode's
    // array form directly.
    new Q("q_bpe_encode",
      (s, d) => {
        graft.text.BpeTrain.encode(Tables.df(s, d, "documents"), "text", bpeFit(s, d))
          .select(col("doc_id"), array_join(col("tokens"), " ").as("tokens"))
          .orderBy("doc_id")
      },
      (s, d) => Some("SELECT doc_id, array_to_string(tokens, ' ') AS tokens FROM ("
        + graft.text.BpeTrain.encodeDuckSql("documents", "doc_id", "text", bpeFit(s, d))
        + ") enc ORDER BY doc_id")),

    // Source concentration: Gini over per-source token mass — the
    // one-number mixing-health check next to q_interleave (0 = every
    // source contributes equally, →1 = one source dominates the token
    // budget). Exact integer arithmetic: per-source totals collapse to
    // ONE collected row (|sources| is a bounded enum), ranks come from
    // sort_array + sequence inside Catalyst — no partition-less
    // window, no self-join, nothing leaves the executors until the
    // single output row. Gini = Σ(2i−n−1)·T_i / (n·ΣT) on longs,
    // PortableRound for the 4dp emit.
    Q("q_source_gini",
      (s, d) => graft.text.Lexical.sourceGini(
        Tables.df(s, d, "documents"), "source", "text"),
      Some(s"""WITH st AS (
              |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
              |  FROM documents GROUP BY source),
              |r AS (
              |  SELECT t, row_number() OVER (ORDER BY t, source) AS i,
              |    count(*) OVER () AS n, sum(t) OVER () AS tot
              |  FROM st)
              |SELECT CAST(max(n) AS BIGINT) AS n_sources,
              |  CAST(max(tot) AS BIGINT) AS total_tokens,
              |  ${graft.ops.PortableRound.intRound4Duck(
                    "CAST(sum((2 * i - n - 1) * t) AS BIGINT)",
                    "CAST(max(n) * max(tot) AS BIGINT)")} AS gini
              |FROM r""".stripMargin)),

    // Token burstiness (Church & Gale): mean occurrences per
    // CONTAINING document, c/df — a function word spreads thin
    // (burstiness ≈ its rate), a topical/template token clumps
    // (burstiness ≫ 1 at modest df). The signal that separates "common
    // because ubiquitous" from "common because a few docs repeat it" —
    // which the raw frequency table (47g) cannot. Two-level keyed agg
    // — (doc, tok) partial counts, then per-token sums, so df needs no
    // count-distinct pass — and a deterministic top-50 TakeOrdered
    // ((c, tok) is unique per row). Ratio integer-exact.
    Q("q_burstiness",
      (s, d) => graft.text.Lexical.burstiness(
        Tables.df(s, d, "documents"), "doc_id", "text"),
      Some(s"""WITH dt AS (
              |  SELECT doc_id, tok, count(*) AS c
              |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |        FROM documents)
              |  GROUP BY doc_id, tok),
              |t AS (
              |  SELECT tok, CAST(sum(c) AS BIGINT) AS c, count(*) AS df
              |  FROM dt GROUP BY tok)
              |SELECT tok, c, df,
              |  ${graft.ops.PortableRound.intRound4Duck("c", "df")} AS burstiness
              |FROM t WHERE df >= 5
              |ORDER BY c DESC, tok LIMIT 50""".stripMargin)),

    // Jensen-Shannon divergence between source-pair unigram
    // distributions — the symmetric, bounded (≤ ln 2) drift number a
    // mixing report quotes where KL (q_corpus_kl) explodes on
    // near-absent tokens. Same three-part V×L² collapse as KL:
    // present-in-a join, only-in-b anti join, closed-form
    // absent-absent remainder — the vocabulary × pair grid never
    // materializes.
    Q("q_js_divergence",
      (s, d) => Corpus.jsDivergence(Tables.df(s, d, "documents"), "source", "text"),
      Some(Corpus.jsDivergenceDuckSql("documents", "source", "text"))),

    // Heaps-law vocabulary growth V = K·N^β over the per-document
    // (N, V) scatter — "does more text buy new vocabulary?" next to
    // q_novelty's shingle view and q_zipf_fit's frequency view;
    // log-log least squares in the zipfFit covar/var shape.
    Q("q_heaps_fit",
      (s, d) => Corpus.heapsFit(Tables.df(s, d, "documents"), "doc_id", "text"),
      Some(Corpus.heapsFitDuckSql("documents", "doc_id", "text")))
  )
}
