package graft

import org.apache.spark.sql.catalyst.optimizer.BuildSide
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.StructType

/** Plan-shape guardrails over EVERY registered query at sf0.001: the
  * properties that keep the engine viable at 100 TB, asserted on the
  * physical (or optimized logical) plan so a regression fails CI, not
  * the cluster.
  */
class PlanAuditSpec extends SparkSpec {
  import PlanAuditSpec.Built

  private val sfDir = "/root/testdata/sf0.001"

  /** Every registered query built ONCE (eager queries fit models and
    * collect while their DataFrame is built), its schema and plans kept
    * for every audit below, its caches released right after.
    */
  private lazy val built: Map[String, Built] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      try name -> Built(df.schema, df.queryExecution.sparkPlan,
        df.queryExecution.optimizedPlan)
      finally graft.api.CacheScope.global.release()
    }.toMap

  private def plan(name: String): SparkPlan = built(name).sparkPlan

  private def optimized(name: String): LogicalPlan = built(name).optimized

  test("no registered query emits array/struct/map output columns") {
    // the driver's oracle comparator sorts result frames in pandas,
    // which cannot sort nested cells (unhashable numpy.ndarray) —
    // round-7's q_bpe_encode and q_hash_embed escaped local green
    // exactly this way and went red at the driver. Registered queries
    // must serialize nested outputs (array_join / per-dim scalar
    // columns); the library APIs keep their typed array forms.
    import org.apache.spark.sql.types.{ArrayType, MapType}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val nested = built(name).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[StructType]
          || f.dataType.isInstanceOf[MapType] => f.name
      }
      if (nested.isEmpty) None else Some(s"$name: ${nested.mkString(",")}")
    }
    offenders shouldBe empty
  }

  test("no registered query plans a cartesian product") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).collect { case c: CartesianProductExec => c }.nonEmpty
    }
    offenders shouldBe empty
  }

  test("no registered query plans a partition-less window") {
    // a Window with an empty partitionSpec drags every row into ONE
    // task — the classic all-data-to-one-partition collapse
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.nonEmpty
    }
    offenders shouldBe empty
  }

  test("sketch-tier bottom-k queries plan NO rank window over the postings / raw relation") {
    // the kmvDistinct lesson (14.0 s → 2.6 s at sf1): a per-group
    // row_number window shuffles + sorts the FULL relation just to
    // read off k rows. The bottom-k aggregates keep ≤k per key and
    // partial-aggregate. kmvJaccard's plan must carry no window at
    // all; quantileSketch's SAMPLE must ride graft_bottom_k_struct
    // (its remaining windows are the group-partitioned exact-quantile
    // interpolation: the test-scale audit side + the ≤n-row sample).
    flattenPlan(plan("q_kmv_jaccard")).collect { case w: WindowExec => w } shouldBe empty
    val qs = plan("q_quantile_sketch")
    qs.toString should include("graft_bottom_k_struct")
    // every remaining window is partitioned on the group key (bounded
    // per-group work), never a global sort
    flattenPlan(qs).collect { case w: WindowExec if w.partitionSpec.isEmpty => w } shouldBe empty
  }

  // Queries whose BroadcastNestedLoopJoin is a BOUNDED side by
  // construction — the KMeans-centers pattern, not a data-sized
  // broadcast. Every entry is justified; anything NOT listed that
  // plans a BNLJ is a regression.
  private val bnljAllowed = Set(
    "q_ann_bruteforce", // 1-row query vector crossJoin
    "q_ann_lsh",        // 1-row query vector crossJoin (post-candidates)
    "q_ann_multiprobe", // same: 1-row query vector crossJoin
    "q_knn_classify",   // bounded probe set broadcast
    "q_tfidf",          // 1-row corpus-count crossJoin
    "q_unigram_xent",   // 1-row token-total crossJoin
    "q_enrichment",     // 1-row sample/background totals
    "q_pack_sequences", // 256x256 hex-bucket triangular join (literal-bounded)
    "q_nb_classify",    // 1-row vocab/doc-total crossJoins + #classes model broadcast
    "q_find_matches",   // the documented BRUTE tier: whole-target
                        // broadcast, kept for dim-sized targets only —
                        // q_find_matches_lsh is the collection-scale path
    "q_find_matches_topn", // same brute tier (Matcher), dim-sized target
    "q_find_matches_eucl", // brute tier + 1-row max-dist crossJoin
    "q_find_matches_l1",   // brute tier + 1-row max-dist crossJoin
    "q_corpus_kl",         // group-totals frame (L rows; the op's own
                           // output is L² so L is small by contract)
                           // + 1-row vocab-size crossJoins
    "q_event_paths",       // 1-row triple-total crossJoin (the share
                           // normalizer over the |types|^3-bounded table)
    "q_acf",               // 1-row total/denominator crossJoins over the
                           // calendar-bounded daily series
    "q_cusum",             // calendar-bounded triangular join (≤ n_days²
                           // rows) + 1-row total/max crossJoins
    "q_benford",           // 1-row total crossJoin over the 9-digit table
    "q_trend",             // types × calendar crossJoin (both bounded:
                           // |types| · n_days rows) to densify the series
    "q_psi",               // types × 10-bucket literal grid crossJoin
    "q_theilsen",          // types × calendar crossJoin to densify +
                           // calendar-bounded triangular slope join
    "q_dup_triangles",     // four 1-row graph-census aggregates
                           // crossJoined into the single output row
    "q_concurrency",       // calendar-bounded hourly triangular join
                           // (the pack_sequences idiom) — a global
                           // running-sum window would collapse to one
                           // task instead
    "q_mix_temperature",   // 1-row weight-normalizer crossJoin
    "q_dsir_weights",      // 1-row corpus-totals crossJoin (the LM
                           // normalizers nt/nr)
    "q_dsir_sample",       // composes q_dsir_weights' 1-row totals
                           // crossJoin (the Gumbel step is map-only)
    "q_bigram_xent",       // 1-row total-bigrams crossJoin (the LM
                           // normalizer n, rolled up from the bounded
                           // bi table)
    "q_search_bm25",       // 1-row corpus-stats crossJoin (N, Σdl,
                           // per-query-term df — fixed arity)
    "q_hard_negatives",    // FIXED-SIZE probe broadcast (hash-order
                           // limit nProbes=24 — constant at any corpus
                           // size; HardNegativesSpec asserts the
                           // GlobalLimit) under a non-equi
                           // cross-source condition
    "q_shard_assign",      // 256x256 hex-bucket triangular offset join
                           // (literal-bounded, the q_pack_sequences
                           // idiom)
    "q_pmi",               // two 1-row totals crossJoins (token and
                           // bigram counts — the LM normalizers)
    "q_dedup_rate",        // 1-row corpus count × 1-row component
                           // stats crossJoin
    "q_dup_inflation",     // 1-row corpus token-totals × 1-row dup
                           // token-mass crossJoin (the q_dedup_rate
                           // shape, token-weighted)
    "q_js_divergence",     // group-totals frame + 1-row vocab-size
                           // crossJoins — the q_corpus_kl shape with
                           // the symmetric JS term
    "q_ivf_balance",       // 1-row total crossJoin derived from the
                           // persisted k-row cell table
    "q_basket_pairs",      // 1-row session-total crossJoin (the lift
                           // normalizer n_sess)
    "q_churn_weekly",      // 1-row max-week crossJoin (excludes the
                           // final, churn-undefined week)
    "q_lsh_recall",        // three 1-row pair-count crossJoins (the
                           // q_dedup_rate totals shape)
    "q_embed_dedup_recall", // brute-force TRUTH side of the recall
                           // audit: bounded slice (vec_id < 1000, the
                           // q_ann_recall sampled-truth rule)
                           // crossJoined against its broadcast self +
                           // three 1-row count crossJoins
    "q_hll_union",         // three 1-row frames (global exact count ×
                           // two global HLL estimates) crossJoined into
                           // the single merge-proof row
    "q_kmv_jaccard",       // pair GENERATION only: |groups|² triangular
                           // join of the source domain (dozens by
                           // contract, the q_corpus_kl argument) —
                           // posting membership itself rides equi-joins
    "q_sketch_tuning",     // the |grid| one-row estimate frames
                           // crossJoined with the 1-row exact total —
                           // the q_hll_union totals shape
    "q_kmv_setops",        // q_kmv_jaccard's pair-generation shape
                           // verbatim (|groups|² triangular source join)
    "q_skew_report",       // four 1-row totals crossJoins (the
                           // n_rows/n_keys/max_cnt facts broadcast over
                           // each persisted per-key count frame for the
                           // integer hot-key census)
    "q_matcher_recall"     // brute-force TRUTH side of the matcher
                           // recall audit: bounded slice (vec_id <
                           // 1000, the q_ann_recall sampled-truth
                           // rule) broadcast per regime; the audited
                           // LSH side plans only equi-joins
  )

  test("BroadcastNestedLoopJoin appears only where one side is bounded by construction") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty
    }.filterNot(bnljAllowed)
    offenders shouldBe empty
  }

  /** Collect parquet scans INCLUDING those beneath a cache boundary —
    * a persisted intermediate (CacheScope) hides its file scan inside
    * the InMemoryRelation's cached plan, but the pushdown still
    * happened when the cache was built.
    */
  private def allFileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect {
      case s: FileSourceScanExec => Seq(s)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        allFileScans(m.relation.cachedPlan)
      // cached plans are themselves AQE-wrapped (leaf to collect) —
      // pre-execution, executedPlan is the initial physical plan and
      // already carries the scans
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allFileScans(a.executedPlan)
    }.flatten

  test("every find-family query pushes its filter into the parquet scan") {
    val findQueries = SparkEntry.queries.keys.toSeq.sorted.filter(_.startsWith("q_find"))
    findQueries should not be empty
    val offenders = findQueries.filter { name =>
      val pushed = allFileScans(plan(name))
        .map(_.metadata.getOrElse("PushedFilters", "[]"))
      !pushed.exists(p => p.nonEmpty && p != "[]")
    }
    offenders shouldBe empty
  }

  test("q_select_cols prunes the scan to the projected columns") {
    val scans = plan("q_select_cols").collect { case s: FileSourceScanExec => s }
    scans should not be empty
    // the scan must read exactly the projection, not the full table
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    readCols shouldBe built("q_select_cols").schema.fieldNames.toSet
  }

  test("hot scan queries carry NO interpreted (CodegenFallback) expressions") {
    // the corpus-wide per-row paths must stay inside generated code —
    // an interpreted expression on a scan path costs 10-100x at 100 TB.
    // Counting WholeStageCodegen subtrees is vacuous here (the parquet
    // scan alone always contributes one); the real guard is that no
    // expression in the plan is a CodegenFallback — exactly what the
    // higher-order-function lambdas (transform/aggregate) are, so
    // regressing a native kernel back to its interpreted twin trips
    // this immediately.
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val hot = Seq("q1_agg", "q_find_eq", "q_select_cols", "q_text_quality",
      "q_token_count", "q_minhash_sig")
    val offenders = hot.flatMap { name =>
      val fallbacks = plan(name).flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback => e.getClass.getSimpleName
      })).distinct
      if (fallbacks.isEmpty) None else Some(s"$name: ${fallbacks.mkString(",")}")
    }
    offenders shouldBe empty
  }

  test("the dedupe library path plans NO global sort") {
    // pair finders used to end in orderBy(id_a, id_b) for oracle
    // determinism; at 100 TB the pair OUTPUT can be large, and library
    // compositions like Collection.dedupe never need the order — the
    // sort now lives only in the query-registry wrappers. A global
    // (non-partition-local) SortExec reappearing in this path is a
    // regression.
    import org.apache.spark.sql.execution.SortExec
    val docs = graft.Tables.df(spark, sfDir, "documents")
    val embs = graft.Tables.df(spark, sfDir, "embeddings")
    val plans = Seq(
      new graft.api.Collection("documents", docs).dedupe("doc_id", "text"),
      graft.dedup.MinHash.nearDupPairs(docs, "doc_id", "text"),
      graft.dedup.NgramJaccard.jaccardPairs(docs, "doc_id", "text"),
      graft.dedup.NgramJaccard.jaccardPairsExact(docs, "doc_id", "text"),
      graft.dedup.SimHash.nearDupPairs(docs, "doc_id", "text"),
      graft.ann.Knn.findMatchesLsh(embs, embs, "vec_id", "embedding"),
      graft.ann.Matcher.findMatchesLshTopN(embs, embs, "vec_id", "embedding"))
    try {
      val offenders = plans.zipWithIndex.flatMap { case (df, i) =>
        val globalSorts = df.queryExecution.sparkPlan.collect {
          case s: SortExec if s.global => s
        }
        if (globalSorts.isEmpty) None else Some(s"plan #$i: ${globalSorts.head}")
      }
      offenders shouldBe empty
    } finally graft.api.CacheScope.global.release()
  }

  test("the validation library path is map-only (no sort, no exchange)") {
    // Validate.validate used to end in orderBy(row_id, field, code)
    // for oracle cosmetics; on a dirty table the violation stream is
    // row-bounded in size and a global sort of it was the ONLY
    // superlinear step the sf1 bench caught (800k violations → 13×
    // wall at 10× data). The op must stay scan → project → explode.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val plan = graft.ops.Validate.validate(
      graft.Tables.df(spark, sfDir, "orders"), "o_orderkey", Seq(
        graft.ops.Validate.Required("o_custkey"),
        graft.ops.Validate.Enum("o_orderstatus", Seq("F", "O")),
        graft.ops.Validate.Range("o_totalprice", None, Some(400000.0)),
        graft.ops.Validate.Pattern("o_orderpriority", "^[1-5]-")))
      .queryExecution.sparkPlan
    plan.collect { case s: SortExec => s } shouldBe empty
    plan.collect { case e: Exchange => e } shouldBe empty
  }

  test("no query broadcast-hints a grouped (unbounded) aggregate") {
    // an explicit broadcast() of a groupBy-aggregate ships an
    // unbounded result (a 100 TB corpus vocabulary / document
    // frequency table cannot broadcast) — re-adding the tfIdf dfreq
    // hint reproduces this failure. Global aggregates (count(*) totals,
    // 1 row) and non-aggregate sides (dim tables, bounded probe sets)
    // stay allowed.
    def hintedGroupedAgg(j: Join): Boolean = {
      // the TOPMOST aggregate decides the hinted side's cardinality: a
      // global (grouping-less) aggregate emits one row no matter what
      // it aggregates over, so only a grouped aggregate AT THE TOP is
      // an unbounded broadcast
      // a LIMIT above the aggregate bounds the hinted side regardless
      // of grouping (the search top-k pattern); collectFirst is
      // preorder, so the Limit wins when it sits above
      def grouped(p: LogicalPlan) = p.collectFirst {
        case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => Left(l)
        case a: Aggregate => Right(a)
      }.exists {
        case Right(a) => a.groupingExpressions.nonEmpty
        case Left(_) => false
      }
      val leftHinted = j.hint.leftHint.exists(_.strategy.isDefined) && grouped(j.left)
      val rightHinted = j.hint.rightHint.exists(_.strategy.isDefined) && grouped(j.right)
      leftHinted || rightHinted
    }
    // Grouped-aggregate broadcasts whose GROUPING KEY is bounded by
    // construction (not by the data):
    //  - q_decontaminate: the EVAL side's distinct grams — bounded by
    //    the eval suite (not a corpus), documented in Corpus.scala
    //  - q_mutual_info: totals grouped by column-name PAIRS — ≤ nCols²
    //    rows, schema-bounded
    //  - q_pack_sequences: totals grouped by the 256-value hex bucket
    //  - q_nb_classify: the class table grouped by the LABEL domain —
    //    #classes rows (a classifier's label set, not a corpus);
    //    the vocab-sized logp model is deliberately NOT hinted
    //  - q_corpus_kl: per-group token totals — L rows, the same L
    //    whose square is the op's OUTPUT cardinality; only the
    //    crossJoin sides stay hinted (a cartesian would be worse)
    //  - q_mix_temperature: per-source cutoffs grouped by the SOURCE
    //    domain — a training mix's source list (dozens by contract,
    //    the same label-domain argument as q_nb_classify), bytes/row
    //  - q_token_budget: bucket offsets grouped by (source × 256
    //    hex buckets) — the same source domain times a literal bound
    //  - q_dedup_delta: capped-bucket keys grouped by (band, bkey)
    //    AFTER a semi-join restriction to the DELTA's band keys —
    //    delta-bounded by the operator's contract (the ingest batch)
    //  - q_dsir_weights: the hashed-LM model grouped by the BUCKET
    //    domain — ≤ nBuckets (1024) rows, a literal bound like the
    //    pack_sequences hex buckets
    //  - q_pipeline_e2e: composes q_decontaminate's eval-gram
    //    broadcast and q_token_budget's (source × 256)-bucket offsets
    //    — the same two bounded frames already justified above
    //  - q_cms_topk: the Count-Min table grouped by (depth × width)
    //    — a LITERAL bound (4 × 1024 cells), the sketch's whole point
    //  - q_length_batches: bucket counts grouped by (log2-length ×
    //    256 hex buckets) — ~64 length buckets times a literal bound,
    //    the q_token_budget shape
    //  - q_shard_assign: bucket token-totals grouped by the 256-value
    //    hex bucket — the q_pack_sequences shape exactly
    //  - q_contam_frac: the same eval-suite-bounded distinct-gram
    //    broadcast as q_decontaminate (graded variant of the same op)
    val allowed = Set("q_decontaminate", "q_mutual_info", "q_pack_sequences",
      "q_nb_classify", "q_corpus_kl", "q_mix_temperature", "q_token_budget",
      "q_dedup_delta", "q_dsir_weights", "q_pipeline_e2e", "q_cms_topk",
      "q_length_batches", "q_shard_assign", "q_contam_frac",
      "q_dsir_sample", // composes q_dsir_weights' bucket-bounded model broadcast
      "q_padding_waste", // composes q_length_batches' (len × 256 hex)-bucket offsets
      "q_js_divergence", // per-group token totals — the q_corpus_kl argument verbatim
      "q_iqr_outliers",  // quartile-fence table grouped by the event-type
                         // domain — |groups| rows by the same contract as
                         // groupQuantiles (a language/source/type domain)
      "q_winsorized_mean", // p05/p95 caps table grouped by the same
                           // bounded event-type domain — the
                           // q_iqr_outliers argument verbatim
      "q_kmv_jaccard", // the per-pair k-th union hash grouped by the
                       // GROUP-PAIR domain (|sources|², dozens by the
                       // same contract as q_mix_temperature) and
                       // capped at one long per pair — the bottom-k
                       // cut that replaced the per-pair rank window
      "q_kmv_setops",  // the identical per-pair kth broadcast
                       // (kmvPairStats is shared with q_kmv_jaccard)
      "q_psi")         // decile-boundary table grouped by the bounded
                       // event-type domain, 9 longs per type — the
                       // q_iqr_outliers argument verbatim
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      optimized(name).collect { case j: Join if hintedGroupedAgg(j) => j }.nonEmpty
    }.filterNot(allowed)
    offenders shouldBe empty
  }
}

object PlanAuditSpec {
  final case class Built(schema: StructType, sparkPlan: SparkPlan,
      optimized: LogicalPlan)
}
