package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed BPE tokenizer training (Sennrich-style byte-pair
  * encoding over a word-frequency table).
  *
  * The training corpus compresses to its word-frequency table first
  * (Zipf: vocabulary-sized, not corpus-sized) — that groupBy is the
  * ONLY corpus-scale job. Each merge iteration is then one aggregation
  * job over the word table (adjacent-pair counts weighted by word
  * frequency, partial aggregation map-side), and only the winning pair
  * — two short strings and a count — crosses to the driver, exactly the
  * KMeans/Lloyd's state pattern ([[graft.ann.KMeans]]). Applying a
  * merge is a map-only string rewrite of the cached word table.
  *
  * Segmentations are carried as pipe-wrapped strings ("abc" →
  * "|a||b||c|"): applying merge (a,b) is `replace(seg, "|a||b|",
  * "|ab|")`, whose leftmost-nonoverlapping consume semantics (identical
  * in Spark and DuckDB) is exactly BPE's greedy left-to-right merge
  * application. Words are restricted to `[a-z]+` so the separator can
  * never collide with token text. Ties on pair count break toward the
  * lexicographically smallest (lhs, rhs) so training is deterministic
  * and engine-independent.
  *
  * At real tokenizer scale (30k merges) the loop batches compatible
  * (non-adjacent) merges per round and checkpoints the word table every
  * few hundred rounds; the per-iteration plan here is already that
  * shape — vocabulary-sized state, map-only rewrite, one partial-agg
  * pair count.
  */
object BpeTrain {

  final case class Merge(rank: Int, lhs: String, rhs: String, count: Long)

  /** Word-frequency table: the corpus-compressing first pass. */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("f"))

  private def initialSeg(w: org.apache.spark.sql.Column) =
    concat(lit("|"),
      array_join(filter(split(w, ""), c => length(c) > 0), "||"),
      lit("|"))

  /** Train `nMerges` merges. One aggregation job per merge; the word
    * table (vocabulary-sized) stays cached and is rewritten map-side.
    */
  /** Rebuild the fold cadence: under this many un-materialized merges
    * the per-iteration plan stays shallow; at the boundary the current
    * segmentation re-materializes into a fresh cached table so plan
    * depth and analysis cost stay BOUNDED at any nMerges (30k-merge
    * tokenizers never grow a 30k-deep expression tree).
    */
  val CheckpointEvery = 128

  def fit(df: DataFrame, textCol: String, nMerges: Int): Seq[Merge] = {
    // ONE cached materialization per CheckpointEvery merges (the
    // corpus-compressing groupBy happens once, up front); within a
    // checkpoint window each iteration re-derives the current
    // segmentation by folding the merges-since-checkpoint as chained
    // map-side `replace`s. That makes an iteration exactly ONE job
    // (the pair-count collect) — the earlier persist/count/unpersist-
    // per-iteration variant spent 2/3 of its wall time on cache-churn
    // jobs, not on counting. The fold does O(rank mod CheckpointEvery)
    // replaces per row, so plan depth is bounded and total extra work
    // is O(CheckpointEvery) per merge over the VOCABULARY-sized table.
    var base = wordFreqs(df, textCol)
      .select(initialSeg(col("w")).as("seg0"), col("f"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    base.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // merges applied since `base` was last materialized
    var pending = List.empty[Merge]
    def segCol = pending.reverse.foldLeft(col("seg0")) { (s, m) =>
      call_function("replace",
        s, lit(s"|${m.lhs}||${m.rhs}|"), lit(s"|${m.lhs + m.rhs}|"))
    }
    try {
      for (rank <- 1 to nMerges) {
        val toks = split(regexp_replace(segCol, "^\\||\\|$", ""), "\\|\\|")
        // adjacent pairs: zip tokens with their right neighbor; the
        // zip pads the last position with null, which the filter drops
        val best = base
          .select(col("f"),
            explode(arrays_zip(toks.as("l"),
              slice(toks, lit(2), greatest(size(toks) - 1, lit(0))).as("r"))).as("p"))
          .filter(col("p.r").isNotNull)
          .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
          .agg(sum("f").as("c"))
          .orderBy(col("c").desc, col("lhs").asc, col("rhs").asc)
          .limit(1)
          .collect()
        if (best.isEmpty) return merges.toSeq
        val Row(l: String, r: String, c: Long) = best(0)
        merges += Merge(rank, l, r, c)
        pending ::= Merge(rank, l, r, c)
        if (pending.length >= CheckpointEvery) {
          val next = base.select(segCol.as("seg0"), col("f"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          next.count()
          base.unpersist()
          base = next
          pending = Nil
        }
      }
      merges.toSeq
    } finally base.unpersist()
  }

  /** [[fit]] as a DataFrame of (merge_rank, lhs, rhs, merged,
    * pair_count) — the trained artifact a tokenizer ships.
    */
  def fitDF(spark: SparkSession, df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    import spark.implicits._
    fit(df, textCol, nMerges)
      .map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.count))
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Segment `textCol` with an already-trained merge list: map-only —
    * one native pass per document ([[graft.functions.BpeApply]]: the
    * whole merge loop runs over a JVM segment buffer, the merges ship
    * as one packed literal). Bit-identical to [[encodeLambda]], the
    * chained-`replace` formulation the DuckDB oracle keeps
    * (spec-asserted in BpeTrainSpec) — the lambda form cost nMerges
    * interpreted HOF passes per word, ~60% of q_bpe_encode's bench.
    * Returns the input plus `tokens` (array of BPE tokens per doc).
    */
  def encode(df: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val packed = graft.functions.BpeApply.packMerges(
      merges.sortBy(_.rank).map(m => (m.lhs, m.rhs)))
    df.withColumn("tokens",
      call_function("graft_bpe_apply", col(textCol), lit(packed)))
  }

  /** The chained-replace formulation twin of [[encode]] — the shape
    * [[encodeDuckSql]] mirrors; kept as the bit-equality reference.
    */
  private[graft] def encodeLambda(df: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame =
    df.withColumn("tokens",
      flatten(transform(
        filter(split(lower(col(textCol)), "\\s+"), w => w.rlike("^[a-z]+$")),
        w => {
          // inline the per-word pipeline via a lambda rebinding of `w`
          val s0 = concat(lit("|"), array_join(filter(split(w, ""), c => length(c) > 0), "||"), lit("|"))
          val sN = merges.sortBy(_.rank).foldLeft(s0) { (s, m) =>
            call_function("replace", s, lit(s"|${m.lhs}||${m.rhs}|"), lit(s"|${m.lhs + m.rhs}|"))
          }
          filter(split(regexp_replace(sN, "^\\||\\|$", ""), "\\|\\|"), t => length(t) > 0)
        })))

  /** Per-group tokenizer fertility diagnostics: tokens-per-word and
    * chars-per-token after [[encode]] — the standard check that a
    * trained tokenizer is not over-fragmenting some language/source
    * (fertility spikes on under-represented groups). One map-only
    * encode pass + one grouped partial aggregation; groups are the
    * lang/source domain (bounded), so the output is model-state-sized.
    */
  def fertilityStats(df: DataFrame, groupCol: String, textCol: String,
                     merges: Seq[Merge]): DataFrame =
    encode(df, textCol, merges)
      .select(col(groupCol),
        size(col("tokens")).cast("long").as("__nt"),
        size(filter(split(lower(col(textCol)), "\\s+"),
          w => w.rlike("^[a-z]+$"))).cast("long").as("__nw"),
        length(concat_ws("", col("tokens"))).cast("long").as("__nc"))
      .groupBy(groupCol).agg(
        count(lit(1)).as("n_docs"),
        round(when(sum("__nw") > 0,
          sum("__nt").cast("double") / sum("__nw")), 4).as("fertility"),
        round(when(sum("__nt") > 0,
          sum("__nc").cast("double") / sum("__nt")), 4).as("chars_per_token"))

  /** DuckDB twin of [[fertilityStats]]. */
  def fertilityStatsDuckSql(table: String, idCol: String, groupCol: String,
                            textCol: String, merges: Seq[Merge]): String =
    s"""SELECT d.$groupCol AS $groupCol,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(CASE WHEN sum(nw) > 0
       |    THEN CAST(sum(x.nt) AS DOUBLE) / sum(nw) END, 4) AS fertility,
       |  round(CASE WHEN sum(x.nt) > 0
       |    THEN CAST(sum(x.nc) AS DOUBLE) / sum(x.nt) END, 4) AS chars_per_token
       |FROM (
       |  SELECT $idCol, len(tokens) AS nt,
       |         length(array_to_string(tokens, '')) AS nc
       |  FROM (${encodeDuckSql(table, idCol, textCol, merges)}) e) x
       |JOIN (
       |  SELECT $idCol, $groupCol,
       |    len(list_filter(regexp_split_to_array(lower($textCol), '\\s+'),
       |        w -> regexp_full_match(w, '[a-z]+'))) AS nw
       |  FROM $table) d USING ($idCol)
       |GROUP BY d.$groupCol
       |ORDER BY $groupCol""".stripMargin

  /** DuckDB twin of [[encode]] with the merge list inlined as literal
    * replace chains (tokens are `[a-z]+`, so no escaping is needed).
    */
  def encodeDuckSql(table: String, idCol: String, textCol: String,
                    merges: Seq[Merge]): String = {
    val segExpr = merges.sortBy(_.rank).foldLeft(
      "'|' || array_to_string(string_split(w, ''), '||') || '|'") { (s, m) =>
      s"replace($s, '|${m.lhs}||${m.rhs}|', '|${m.lhs + m.rhs}|')"
    }
    s"""SELECT $idCol,
       |  flatten(list_transform(
       |    list_filter(regexp_split_to_array(lower($textCol), '\\s+'),
       |                w -> regexp_full_match(w, '[a-z]+')),
       |    w -> string_split(trim($segExpr, '|'), '||'))) AS tokens
       |FROM $table
       |ORDER BY $idCol""".stripMargin
  }

  /** DuckDB twin of [[fitDF]]: the identical training loop unrolled as
    * one CTE pair (best_i, seg_i) per merge — same word table, same
    * pair counts, same tie-break, same replace semantics.
    */
  def fitDuckSql(table: String, textCol: String, nMerges: Int): String = {
    val head =
      s"""WITH words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
         |    SELECT unnest(regexp_split_to_array(lower($textCol), '\\s+')) AS w FROM $table) t
         |  WHERE regexp_full_match(w, '[a-z]+')
         |  GROUP BY w),
         |seg0 AS (
         |  SELECT '|' || array_to_string(string_split(w, ''), '||') || '|' AS seg, f
         |  FROM words)""".stripMargin
    val iters = (1 to nMerges).map { i =>
      s"""p$i AS (
         |  SELECT toks[j] AS lhs, toks[j + 1] AS rhs, CAST(sum(f) AS BIGINT) AS c
         |  FROM (SELECT string_split(trim(seg, '|'), '||') AS toks, f FROM seg${i - 1}) s,
         |       unnest(range(1, len(toks))) AS u(j)
         |  GROUP BY lhs, rhs),
         |best$i AS (
         |  SELECT $i AS merge_rank, lhs, rhs, lhs || rhs AS merged, c AS pair_count
         |  FROM p$i ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1),
         |seg$i AS (
         |  SELECT replace(seg, '|' || b.lhs || '||' || b.rhs || '|',
         |                      '|' || b.merged || '|') AS seg, f
         |  FROM seg${i - 1}, best$i b)""".stripMargin
    }
    val union = (1 to nMerges).map(i => s"SELECT * FROM best$i").mkString("\nUNION ALL\n")
    (head +: iters).mkString(",\n") +
      s"\n$union\nORDER BY merge_rank"
  }
}
