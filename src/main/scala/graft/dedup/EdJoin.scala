package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact edit-distance similarity join (string pairs with Levenshtein
  * distance <= d) via q-gram prefix filtering — the Ed-Join family
  * (Gravano et al. VLDB'01 count/length/prefix filters; Xiao et al.
  * VLDB'08). The reference's fuzzy-match surface stops at set
  * similarity (utils/vector_utils.py cosine, embedding_matcher.py); an
  * entity-resolution pipeline also needs the character-level tier —
  * near-identical titles, addresses, OCR'd lines — where token sets
  * tie but strings differ by a handful of edits.
  *
  * Completeness chain (each step a theorem, not a heuristic):
  *  1. Tokens: occurrence-encoded char q-grams
  *     ([[graft.functions.QgramHashes]]). One edit operation destroys
  *     at most q of a string's grams, so ed(a,b) <= d implies the
  *     multiset intersection |G_a n G_b| >= max(|G_a|,|G_b|) - q*d
  *     (count filter), and |len_a - len_b| <= d (length filter).
  *  2. Prefix filter: order all tokens globally by (document frequency
  *     ASC, token ASC) — rarest first — and index each string's first
  *     q*d + 1 tokens only. Any pair with intersection >= |G| - q*d
  *     must collide inside these prefixes, so the inverted-index join
  *     over prefixes finds every qualifying pair. Requires every
  *     participating string to carry MORE than q*d grams, i.e.
  *     length >= q*(d+1); shorter strings could satisfy ed <= d while
  *     sharing zero grams, so the operator raises on them rather than
  *     silently missing pairs (raise_error inside the plan — no extra
  *     driver-side job).
  *  3. Positional filter (the PPJoin bound, ported): the earliest
  *     shared token at ranks (ra, rb) caps the intersection at
  *     1 + min(ga − ra, gb − rb); pairs whose best shared prefix
  *     token cannot reach the count threshold die inside the same
  *     aggregation that dedupes candidates.
  *  4. Count filter on candidates: one native thresholded
  *     sorted-merge `graft_sorted_inter_at_least(tokens_a, tokens_b,
  *     need)` per candidate (occurrence encoding makes the sorted
  *     arrays distinct-element, so the merge count IS the multiset
  *     intersection; the walk aborts once `need` is out of reach)
  *     prunes the false-positive prefix collisions before any
  *     distance is computed — measured 100:1 on the documents corpus.
  *  5. Verify: Spark's codegen'd banded `levenshtein(a, b, d)`
  *     (O(d*len) early-exit, returns -1 past the threshold) on the
  *     survivors. DuckDB's unbanded `levenshtein` agrees on every
  *     emitted distance (both classic unit-cost Levenshtein).
  *
  * Scale shape: the only corpus-sized shuffles are the token df
  * aggregate and the prefix inverted-index self-join — the same shape
  * as [[NgramJaccard.jaccardPairsExact]], whose fuel is decade-audited.
  * Prefixes hold each string's q*d+1 RAREST grams, so hot grams (the
  * corpus' stop-grams) never enter the index unless a string consists
  * of nothing else; candidate fuel is Sum c*(c-1)/2 over prefix-token
  * groups, sub-quadratic on every corpus where rare grams stay rare —
  * and the self-join key is LENGTH-BANDED (token, len div max(d,1)),
  * so only length-compatible collisions are ever enumerated: the
  * realized fuel is Sum over (token, band-pair) occupancy products,
  * <= the token-group bound above whenever lengths spread past d
  * ([[graft.EdJoinBandAudit]] measures both). The verify stage touches
  * only count-filter survivors, each a banded O(d*len) comparison.
  */
object EdJoin {

  /** Shared front half of every Ed-Join surface: persisted
    * (id, text, len, tokens) plus the prefix postings under the global
    * (df ASC, token ASC) order. Returned as a pair so [[edPairs]] and
    * [[fuelAudit]] measure the IDENTICAL blocking.
    */
  private def tokensAndPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      q: Int,
      d: Int,
      scope: graft.api.CacheScope,
      pinPrefix: Boolean = true): (DataFrame, DataFrame) = {
    require(q >= 1, s"edPairs: q must be >= 1, got $q")
    require(d >= 0, s"edPairs: d must be >= 0, got $d")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val minLen = q * (d + 1)
    val prefixLen = q * d + 1
    // tokens + length, persisted: referenced by the df aggregate, the
    // ranked window, and the candidate verify join. SORTED ascending
    // (array_sort, once per string at tokenization): every consumer is
    // order-insensitive — the df aggregate and prefix selection treat
    // __tk as a set, and the count filter's sorted-merge kernel
    // ([[graft.functions.SortedInterAtLeast]]) REQUIRES the order.
    val toks = scope.persist(df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__s"),
        length(col(textCol)).as("__len"),
        when(length(col(textCol)) >= minLen,
          array_sort(call_function("graft_qgram_hashes", col(textCol), lit(q))))
          .otherwise(raise_error(concat(
            lit(s"edPairs: prefix filtering is lossless only for strings of length >= q*(d+1) = $minLen; got "),
            length(col(textCol)).cast("string"), lit(" chars for id "),
            col(idCol).cast("string"))))
          .as("__tk")))
    val sh = toks.select(col("__id"), col("__len"),
      size(col("__tk")).as("__ga"), explode(col("__tk")).as("__t"))
    // global token order: df ASC then token ASC — partial-agg groupBy +
    // keyed join (vocab-sized right side; AQE broadcasts it when small).
    // The per-string rank is a BOUNDED per-id aggregate (collect +
    // array_sort + slice to the q·d+1 prefix), not a rank window: the
    // window form shuffle-sorts every gram occurrence of the corpus by
    // (id, df, t) only to throw away everything past rank 25, while
    // the agg form partial-aggregates and sorts each id's ~len grams
    // locally. (df, t) is a total order within an id — tokens are
    // occurrence-encoded distinct — so the slice IS rows r ≤ prefixLen
    // of the old row_number, bit-identically.
    val dfreq = sh.groupBy("__t").agg(count(lit(1)).as("__df"))
    val byId = sh.join(dfreq, "__t")
      .groupBy("__id", "__len", "__ga")
      .agg(slice(array_sort(collect_list(struct(col("__df"), col("__t")))),
        1, prefixLen).as("__ps"))
    // persisted when the caller reads it more than once (pinPrefix —
    // edPairs' self-join reads both sides; fuelAudit reads it once and
    // skips the pin): prefixLen rows per string, the smallest frame in
    // the pipeline; without the pin each join side re-runs the df
    // aggregate and the prefix selection.
    val bare = byId
      .select(col("__id"), col("__len"), col("__ga"),
        posexplode(col("__ps")).as(Seq("__r0", "__p")))
      .select(col("__id"), col("__len"), col("__ga"),
        col("__p.__t").as("__t"), (col("__r0") + 1).cast("int").as("__r"))
    val prefix = if (pinPrefix) scope.persist(bare) else bare
    (toks, prefix)
  }

  /** Shared front half of the DuckDB twin, through the `prefix` CTE. */
  private def prefixCtesDuckSql(
      table: String, idCol: String, textCol: String, q: Int, d: Int): String =
    s"""WITH d0 AS (SELECT $idCol AS id, $textCol AS s, length($textCol) AS len
       |            FROM $table WHERE $textCol IS NOT NULL),
       |g AS (SELECT id, len,
       |        unnest(list_transform(generate_series(1, len - ${q - 1}), i -> substr(s, i, $q))) AS gram,
       |        unnest(generate_series(1, len - ${q - 1})) AS pos
       |      FROM d0),
       |occ AS (SELECT id, len, gram,
       |          row_number() OVER (PARTITION BY id, gram ORDER BY pos) AS occ
       |        FROM g),
       |tok AS (SELECT id, len,
       |          CAST(concat('0x', substr(md5(gram || chr(1) || CAST(occ AS VARCHAR)), 1, 15)) AS BIGINT) AS tk
       |        FROM occ),
       |sizes AS (SELECT id, count(*) AS ga FROM tok GROUP BY id),
       |dfreq AS (SELECT tk, count(*) AS df FROM tok GROUP BY tk),
       |ranked AS (SELECT t.id, t.len, t.tk,
       |             row_number() OVER (PARTITION BY t.id ORDER BY f.df, t.tk) AS r
       |           FROM tok t JOIN dfreq f USING (tk)),
       |prefix AS (SELECT * FROM ranked WHERE r <= ${q * d + 1})""".stripMargin

  /** Pairs (id_a, id_b, dist) with levenshtein(text_a, text_b) <= d,
    * id_a < id_b, over all rows of `df` whose `textCol` is non-null.
    * Exact: the filter chain is lossless for strings of length >=
    * q*(d+1) and the plan raises on shorter ones.
    */
  def edPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      q: Int = 3,
      d: Int = 8,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val (toks, prefix) = tokensAndPrefix(df, idCol, textCol, q, d, scope)
    // positional filter (the PPJoin bound, ported): the EARLIEST shared
    // token at ranks (ra, rb) caps the multiset intersection at
    // 1 + min(ga − ra, gb − rb); pairs whose best shared prefix token
    // cannot reach the count-filter threshold max(ga, gb) − q·d are
    // dropped inside the same aggregation that dedupes candidates —
    // lossless (EdJoinSpec's brute-force equality re-proves it) and
    // free of extra shuffles.
    //
    // LENGTH-BANDED self-join (guide §2.3/§3): the raw prefix-collision
    // fuel is Σ_t c_t² over token occupancies, and most of those pairs
    // die on the |len_a − len_b| <= d filter AFTER the join enumerates
    // them. Banding moves that filter INTO the join key: with band =
    // len div w (w = max(d,1) >= d), |la − lb| <= d implies the bands
    // differ by at most 1, so joining on (token, band) with the b side
    // replicated to bands {b−1, b, b+1} emits every length-compatible
    // collision EXACTLY once (a's single band value occurs once in b's
    // 3-element replication) and never enumerates a pair from bands
    // >= 2 apart — those all have |la − lb| > d. Lossless: the length
    // filter below is unchanged and the candidate set it passes is
    // identical (EdJoinSpec brute-force equality covers it). The b-side
    // postings triple (still prefix-sized); hot tokens split across
    // the corpus' length bands, cutting per-key join fan-out.
    val bw = math.max(d, 1)
    val cand = prefix.select(col("__id").as("id_a"), col("__len").as("__la"),
        col("__ga").as("__gaa"), col("__t"), col("__r").as("__ra"),
        expr(s"__len div $bw").as("__bd"))
      .join(prefix.select(col("__id").as("id_b"), col("__len").as("__lb"),
        col("__ga").as("__gab"), col("__t"), col("__r").as("__rb"))
        .withColumn("__bd", explode(array(
          expr(s"__lb div $bw") - 1, expr(s"__lb div $bw"),
          expr(s"__lb div $bw") + 1))), Seq("__t", "__bd"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("__la") - col("__lb")) <= lit(d))
      .groupBy("id_a", "id_b", "__gaa", "__gab")
      .agg(max(lit(1) + least(col("__gaa") - col("__ra"),
        col("__gab") - col("__rb"))).as("__maxov"))
      .filter(col("__maxov") >= greatest(col("__gaa"), col("__gab")) - lit(q * d))
      .select("id_a", "id_b", "__gaa", "__gab")
    // count filter on the SORTED gram arrays via the thresholded
    // sorted-merge kernel: the threshold max(ga, gb) − q·d is within
    // q·d of the whole array, so non-duplicate candidates (the 5.47M →
    // 1.8k at sf1) abort the walk after ~q·d mismatches instead of
    // paying ContainedCount's per-pair HashSet build + full probe —
    // the former dominant stage of this query (a per-stage profile
    // put it ahead of the candidate join). Exact
    // selection: the kernel returns the true count whenever it is >=
    // the threshold and -1 only when provably below it.
    cand
      .join(toks.select(col("__id").as("id_a"), col("__tk").as("__tka"),
        col("__s").as("__sa")), "id_a")
      .join(toks.select(col("__id").as("id_b"), col("__tk").as("__tkb"),
        col("__s").as("__sb")), "id_b")
      .withColumn("__need",
        (greatest(col("__gaa"), col("__gab")) - lit(q * d)).cast("int"))
      .filter(call_function("graft_sorted_inter_at_least",
        col("__tka"), col("__tkb"), col("__need")) >= col("__need"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), d).cast("long"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** DuckDB twin of [[edPairs]]: same tokens (md5 60-bit of
    * gram || chr(1) || occ), same global (df, token) order, same
    * prefix/length/count filters, unbanded `levenshtein` verify.
    */
  def edPairsDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      q: Int = 3,
      d: Int = 8): String =
    s"""${prefixCtesDuckSql(table, idCol, textCol, q, d)},
       |cand AS (SELECT a.id AS ia, b.id AS ib
       |         FROM prefix a JOIN prefix b
       |           ON a.tk = b.tk AND a.id < b.id AND abs(a.len - b.len) <= $d
       |         JOIN sizes za ON za.id = a.id
       |         JOIN sizes zb ON zb.id = b.id
       |         GROUP BY a.id, b.id, za.ga, zb.ga
       |         HAVING max(1 + least(za.ga - a.r, zb.ga - b.r))
       |           >= greatest(za.ga, zb.ga) - ${q * d}),
       |shared AS (SELECT c.ia, c.ib, count(*) AS inter
       |           FROM cand c
       |           JOIN tok ta ON ta.id = c.ia
       |           JOIN tok tb ON tb.id = c.ib AND ta.tk = tb.tk
       |           GROUP BY 1, 2),
       |cf AS (SELECT s.ia, s.ib FROM shared s
       |       JOIN sizes za ON za.id = s.ia
       |       JOIN sizes zb ON zb.id = s.ib
       |       WHERE s.inter >= greatest(za.ga, zb.ga) - ${q * d})
       |SELECT cf.ia AS id_a, cf.ib AS id_b,
       |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
       |FROM cf JOIN d0 a ON a.id = cf.ia JOIN d0 b ON b.id = cf.ib
       |WHERE levenshtein(a.s, b.s) <= $d
       |ORDER BY id_a, id_b""".stripMargin

  /** Cross-collection fuzzy-string match — the character-level twin of
    * the embedding matcher ([[graft.ann.Matcher.findMatchesTopN]],
    * reference utils/embedding_matcher.py): for each `src` row, the
    * top-N `tgt` rows within edit distance d, ranked by (dist ASC,
    * tgt_id ASC). Same lossless filter chain as [[edPairs]], with ONE
    * global (df, token) order computed over the UNION of both sides —
    * the prefix theorem needs both prefixes drawn from a single total
    * order, so per-side df would break completeness. Sides are tagged,
    * so ids may overlap across collections (a row present on both
    * sides matches itself at dist 0).
    *
    * Output: (src_id, tgt_id, dist, match_rank).
    */
  def edMatchTopN(
      src: DataFrame,
      tgt: DataFrame,
      idCol: String,
      textCol: String,
      q: Int = 3,
      d: Int = 8,
      topN: Int = 1,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    require(q >= 1, s"edMatchTopN: q must be >= 1, got $q")
    require(d >= 0, s"edMatchTopN: d must be >= 0, got $d")
    require(topN >= 1, s"edMatchTopN: topN must be >= 1, got $topN")
    graft.functions.GraftFunctions.register(src.sparkSession)
    val minLen = q * (d + 1)
    val prefixLen = q * d + 1
    def sideOf(df: DataFrame, tag: Int): DataFrame = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), lit(tag).as("__side"), col(textCol).as("__s"))
    val combined = sideOf(src, 0).unionByName(sideOf(tgt, 1))
    // sorted gram arrays — same reasons as [[edPairs]]' toks pin
    val toks = scope.persist(combined
      .select(col("__id"), col("__side"), col("__s"),
        length(col("__s")).as("__len"),
        when(length(col("__s")) >= minLen,
          array_sort(call_function("graft_qgram_hashes", col("__s"), lit(q))))
          .otherwise(raise_error(concat(
            lit(s"edMatchTopN: prefix filtering is lossless only for strings of length >= q*(d+1) = $minLen; got "),
            length(col("__s")).cast("string"), lit(" chars for id "),
            col("__id").cast("string"))))
          .as("__tk")))
    val sh = toks.select(col("__id"), col("__side"), col("__len"),
      size(col("__tk")).as("__ga"), explode(col("__tk")).as("__t"))
    // ONE df aggregate over both sides: a single total order. Prefix
    // selection is the bounded per-(id, side) aggregate + persisted
    // postings of [[tokensAndPrefix]] — same rewrite, same reasons.
    val dfreq = sh.groupBy("__t").agg(count(lit(1)).as("__df"))
    val byId = sh.join(dfreq, "__t")
      .groupBy("__id", "__side", "__len", "__ga")
      .agg(slice(array_sort(collect_list(struct(col("__df"), col("__t")))),
        1, prefixLen).as("__ps"))
    val prefix = scope.persist(byId
      .select(col("__id"), col("__side"), col("__len"), col("__ga"),
        posexplode(col("__ps")).as(Seq("__r0", "__p")))
      .select(col("__id"), col("__side"), col("__len"), col("__ga"),
        col("__p.__t").as("__t"), (col("__r0") + 1).cast("int").as("__r")))
    // positional filter: same earliest-shared-token bound as [[edPairs]];
    // same length-banded join key (band = len div max(d,1), tgt side
    // replicated ±1 band) — emits each length-compatible collision
    // exactly once, see [[edPairs]]
    val bw = math.max(d, 1)
    val cand = prefix.filter(col("__side") === 0)
      .select(col("__id").as("src_id"), col("__len").as("__la"),
        col("__ga").as("__gaa"), col("__t"), col("__r").as("__ra"),
        expr(s"__len div $bw").as("__bd"))
      .join(prefix.filter(col("__side") === 1)
        .select(col("__id").as("tgt_id"), col("__len").as("__lb"),
          col("__ga").as("__gab"), col("__t"), col("__r").as("__rb"))
        .withColumn("__bd", explode(array(
          expr(s"__lb div $bw") - 1, expr(s"__lb div $bw"),
          expr(s"__lb div $bw") + 1))), Seq("__t", "__bd"))
      .filter(abs(col("__la") - col("__lb")) <= lit(d))
      .groupBy("src_id", "tgt_id", "__gaa", "__gab")
      .agg(max(lit(1) + least(col("__gaa") - col("__ra"),
        col("__gab") - col("__rb"))).as("__maxov"))
      .filter(col("__maxov") >= greatest(col("__gaa"), col("__gab")) - lit(q * d))
      .select("src_id", "tgt_id", "__gaa", "__gab")
    // thresholded sorted-merge count filter — see [[edPairs]]
    val verified = cand
      .join(toks.filter(col("__side") === 0)
        .select(col("__id").as("src_id"), col("__tk").as("__tka"),
          col("__s").as("__sa")), "src_id")
      .join(toks.filter(col("__side") === 1)
        .select(col("__id").as("tgt_id"), col("__tk").as("__tkb"),
          col("__s").as("__sb")), "tgt_id")
      .withColumn("__need",
        (greatest(col("__gaa"), col("__gab")) - lit(q * d)).cast("int"))
      .filter(call_function("graft_sorted_inter_at_least",
        col("__tka"), col("__tkb"), col("__need")) >= col("__need"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), d).cast("long"))
      .filter(col("dist") >= 0)
    // rank window partitions on src_id — bounded by that source's
    // verified matches, never the corpus
    verified
      .withColumn("match_rank", row_number().over(
        Window.partitionBy("src_id").orderBy(col("dist").asc, col("tgt_id").asc)))
      .filter(col("match_rank") <= topN)
      .select(col("src_id"), col("tgt_id"), col("dist"), col("match_rank"))
  }

  /** DuckDB twin of [[edMatchTopN]] over one table split by
    * predicates (the [[graft.ann.Matcher]] twin convention).
    */
  def edMatchTopNDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      srcPred: String,
      tgtPred: String,
      q: Int = 3,
      d: Int = 8,
      topN: Int = 1): String =
    s"""WITH d0 AS (
       |  SELECT $idCol AS id, 0 AS side, $textCol AS s, length($textCol) AS len
       |  FROM $table WHERE ($srcPred) AND $textCol IS NOT NULL
       |  UNION ALL
       |  SELECT $idCol AS id, 1 AS side, $textCol AS s, length($textCol) AS len
       |  FROM $table WHERE ($tgtPred) AND $textCol IS NOT NULL),
       |g AS (SELECT id, side, len,
       |        unnest(list_transform(generate_series(1, len - ${q - 1}), i -> substr(s, i, $q))) AS gram,
       |        unnest(generate_series(1, len - ${q - 1})) AS pos
       |      FROM d0),
       |occ AS (SELECT id, side, len, gram,
       |          row_number() OVER (PARTITION BY id, side, gram ORDER BY pos) AS occ
       |        FROM g),
       |tok AS (SELECT id, side, len,
       |          CAST(concat('0x', substr(md5(gram || chr(1) || CAST(occ AS VARCHAR)), 1, 15)) AS BIGINT) AS tk
       |        FROM occ),
       |sizes AS (SELECT id, side, count(*) AS ga FROM tok GROUP BY id, side),
       |dfreq AS (SELECT tk, count(*) AS df FROM tok GROUP BY tk),
       |ranked AS (SELECT t.id, t.side, t.len, t.tk,
       |             row_number() OVER (PARTITION BY t.id, t.side ORDER BY f.df, t.tk) AS r
       |           FROM tok t JOIN dfreq f USING (tk)),
       |prefix AS (SELECT * FROM ranked WHERE r <= ${q * d + 1}),
       |cand AS (SELECT a.id AS ia, b.id AS ib
       |         FROM prefix a JOIN prefix b
       |           ON a.tk = b.tk AND a.side = 0 AND b.side = 1
       |              AND abs(a.len - b.len) <= $d
       |         JOIN sizes za ON za.id = a.id AND za.side = 0
       |         JOIN sizes zb ON zb.id = b.id AND zb.side = 1
       |         GROUP BY a.id, b.id, za.ga, zb.ga
       |         HAVING max(1 + least(za.ga - a.r, zb.ga - b.r))
       |           >= greatest(za.ga, zb.ga) - ${q * d}),
       |shared AS (SELECT c.ia, c.ib, count(*) AS inter
       |           FROM cand c
       |           JOIN tok ta ON ta.id = c.ia AND ta.side = 0
       |           JOIN tok tb ON tb.id = c.ib AND tb.side = 1 AND ta.tk = tb.tk
       |           GROUP BY 1, 2),
       |cf AS (SELECT s.ia, s.ib FROM shared s
       |       JOIN sizes za ON za.id = s.ia AND za.side = 0
       |       JOIN sizes zb ON zb.id = s.ib AND zb.side = 1
       |       WHERE s.inter >= greatest(za.ga, zb.ga) - ${q * d}),
       |ver AS (SELECT cf.ia AS src_id, cf.ib AS tgt_id,
       |          CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
       |        FROM cf
       |        JOIN d0 a ON a.id = cf.ia AND a.side = 0
       |        JOIN d0 b ON b.id = cf.ib AND b.side = 1
       |        WHERE levenshtein(a.s, b.s) <= $d)
       |SELECT src_id, tgt_id, dist, match_rank FROM (
       |  SELECT src_id, tgt_id, dist,
       |    CAST(row_number() OVER (PARTITION BY src_id ORDER BY dist, tgt_id) AS INT) AS match_rank
       |  FROM ver) t
       |WHERE match_rank <= $topN
       |ORDER BY src_id, match_rank""".stripMargin

  /** Candidate-pair FUEL of the prefix blocking, measured instead of
    * guessed — the bucket-load-audit convention
    * ([[graft.ann.Knn.bucketLoadAudit]]) on the Ed-Join surface.
    * Groups the prefix postings by token (occupancy c = candidate
    * generator: the inverted-index join emits c·(c−1)/2 raw pairs per
    * token) and rolls occupancies up by decade (digit count − 1): per
    * decade the token count, posting count, hottest token, Σc² and
    * Σ c·(c−1)/2 — the raw pair count of the UNBANDED prefix blocking
    * (an upper bound on what [[edPairs]]' length-banded join actually
    * enumerates; [[graft.EdJoinBandAudit]] reports the banded fuel
    * beside this bound). Sub-quadratic decade-over-decade growth of
    * `n_cand_pairs` under corpus scaling is the evidence the prefix
    * order keeps rare grams rare; fuel concentrating in high decades
    * flags a vocabulary too small for char-q-gram blocking. NOTE:
    * raising q does NOT help there — the prefix length q·d+1 grows
    * with q faster than the gram vocabulary dilutes (measured at sf1:
    * q=3/4/5 → 478M/577M/640M raw fuel) — the honest fallbacks are
    * the set-similarity tiers or length-sharded runs.
    */
  def fuelAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      q: Int = 3,
      d: Int = 8,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val (_, prefix) = tokensAndPrefix(df, idCol, textCol, q, d, scope,
      pinPrefix = false)
    prefix.groupBy("__t").agg(count(lit(1)).as("c"))
      // digit count, not floor(log10): exact in integer space on both
      // engines (log10(1000) can land under 3.0 in one libm)
      .withColumn("c_decade", (length(col("c").cast("string")) - 1).cast("long"))
      .groupBy("c_decade").agg(
        count(lit(1)).as("n_tokens"),
        sum(col("c")).as("n_postings"),
        max(col("c")).as("max_bucket"),
        sum(col("c") * col("c")).as("sum_c2"),
        // c·(c−1) is even and non-negative: shiftright IS the exact /2
        sum(shiftright(col("c") * (col("c") - 1), 1)).as("n_cand_pairs"))
      .orderBy("c_decade")
  }

  /** Band-sharding audit of the prefix blocking (the fuel-audit
    * convention for [[edPairs]]' length-banded join key): ONE row of
    * evidence comparing the raw pair fuel the UNBANDED token-only join
    * would enumerate (Σ_t C(c_t, 2) — [[fuelAudit]]'s n_cand_pairs
    * total) with what the banded (token, len div max(d,1)) key
    * actually enumerates (same-band C(c_tb, 2) plus adjacent-band
    * c_tb · c_t(b+1) products — exactly the pairs whose lengths CAN
    * satisfy |la − lb| <= d). Both are vocabulary-sized aggregations
    * over the posting occupancies — no pair join runs — so the audit
    * is affordable at any scale the blocking itself is.
    *
    * Output: (n_tokens, n_postings, n_bands, fuel_unbanded,
    * fuel_banded, fuel_ratio) — fuel_ratio = banded/unbanded, the
    * fraction of the token-group bound the banded join still pays.
    */
  def bandFuelAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      q: Int = 3,
      d: Int = 8,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    val (_, prefix0) = tokensAndPrefix(df, idCol, textCol, q, d, scope,
      pinPrefix = false)
    val bw = math.max(d, 1)
    // (token, band) occupancies — read by three aggregates, pinned
    val occ = scope.persist(prefix0
      .select(col("__t"), expr(s"__len div $bw").as("__bd"))
      .groupBy("__t", "__bd").agg(count(lit(1)).as("c")))
    val perTok = occ.groupBy("__t").agg(sum(col("c")).as("ct"))
      .agg(sum(shiftright(col("ct") * (col("ct") - 1), 1)).as("fuel_unbanded"),
        count(lit(1)).as("n_tokens"), sum(col("ct")).as("n_postings"))
    val within = occ.agg(
      sum(shiftright(col("c") * (col("c") - 1), 1)).as("fuel_within"),
      countDistinct(col("__bd")).as("n_bands"))
    val adjacent = occ.as("a")
      .join(occ.as("b"),
        col("a.__t") === col("b.__t") && col("a.__bd") + 1 === col("b.__bd"))
      .agg(coalesce(sum(col("a.c") * col("b.c")), lit(0L)).as("fuel_adjacent"))
    perTok.crossJoin(within).crossJoin(adjacent)
      .select(col("n_tokens"), col("n_postings"), col("n_bands"),
        col("fuel_unbanded"),
        (col("fuel_within") + col("fuel_adjacent")).as("fuel_banded"),
        round((col("fuel_within") + col("fuel_adjacent")).cast("double") /
          greatest(col("fuel_unbanded"), lit(1L)).cast("double"), 4)
          .as("fuel_ratio"))
  }

  /** DuckDB twin of [[fuelAudit]]. */
  def fuelAuditDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      q: Int = 3,
      d: Int = 8): String =
    s"""${prefixCtesDuckSql(table, idCol, textCol, q, d)},
       |occp AS (SELECT tk, CAST(count(*) AS BIGINT) AS c FROM prefix GROUP BY tk)
       |SELECT CAST(length(CAST(c AS VARCHAR)) - 1 AS BIGINT) AS c_decade,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(c) AS BIGINT) AS n_postings,
       |  CAST(max(c) AS BIGINT) AS max_bucket,
       |  CAST(sum(c * c) AS BIGINT) AS sum_c2,
       |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs
       |FROM occp GROUP BY c_decade ORDER BY c_decade""".stripMargin
}
