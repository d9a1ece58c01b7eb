package graft.dedup

import graft.text.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard similarity pairs via an inverted shingle index —
  * the scalable formulation of all-pairs set similarity: explode
  * (doc, shingle), self-join on the shingle, count shared shingles per
  * pair, then jaccard = inter / (|A| + |B| - inter). Pairs only form for
  * documents that actually SHARE a shingle, so the shuffle is bounded by
  * shingle document-frequency, not |corpus|².
  *
  * Skew guard: shingles whose total OCCURRENCE count (multiset
  * postings, not distinct documents) exceeds `maxDf` are DROPPED
  * before the join, from both the postings and the set sizes. The
  * occurrence count is deliberately the capped quantity: the join
  * emits occ_a x occ_b rows per shingle, so it — not document
  * frequency — bounds the join output (a single document repeating
  * one shingle a million times is as quadratic as a million documents
  * sharing it once). High-occurrence shingles carry no near-dup
  * signal (they are the corpus' stop-grams); dropping them is the
  * standard frequency filter of set-similarity joins, and
  * [[jaccardPairsExact]] is the cap-free exact alternative. The cap
  * window partitions on the SAME key as the self-join, so its
  * exchange is reused, and the oracle applies the identical cap —
  * results stay engine-equal.
  */
object NgramJaccard {

  /** Default shingle occurrence-count cap. Far above the frequency at
    * which a shingle still discriminates near-duplicates, far below the
    * occ² blowup region.
    */
  val DefaultMaxDf = 1000

  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.5,
      maxDf: Int = DefaultMaxDf,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    // integer shingles (one md5 per token, native one-pass expression;
    // see TextFunctions/HashedShingles) — the inverted-index join
    // shuffles 8-byte keys instead of strings
    graft.functions.GraftFunctions.register(df.sparkSession)
    val raw = df.select(col(idCol),
      explode(call_function("graft_hashed_shingles", col(textCol), lit(w))).as("s"))
    cappedOverlaps(raw, idCol, maxDf, scope)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** (id_a, id_b, inter, sz_a, sz_b) over the df-capped postings `raw`
    * (idCol, s): shared-shingle count per co-occurring pair next to
    * both sides' posting counts. Persisted AFTER the cap: the postings
    * are referenced by the size aggregation and BOTH sides of the
    * inverted-index self-join (three subplan evaluations otherwise),
    * and the cached blocks arrive hash-partitioned on `s` from the cap
    * window's exchange.
    */
  private def cappedOverlaps(raw: DataFrame, idCol: String, maxDf: Int,
                             scope: graft.api.CacheScope): DataFrame = {
    val sh = scope.persist(CandidateJoin.cap(raw, Seq("s"), maxDf))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    CandidateJoin.selfPairs(sh, Seq("s"), idCol)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")
  }

  /** EXACT set-Jaccard pairs via prefix filtering (the AllPairs/PPJoin
    * family): no frequency cap, no approximation — completeness comes
    * from the prefix theorem instead. Shingles are ordered globally by
    * (document frequency ASC, hash ASC) — rarest first — and each
    * document indexes only its first `|S| - ceil(t*|S|) + 1` shingles:
    * any pair with set-Jaccard >= t MUST share one of those prefix
    * shingles, so joining prefixes finds every qualifying pair while
    * hot (high-df) shingles land at the END of the order and rarely
    * enter a prefix. A length filter (`t*max(|A|,|B|) <= min(|A|,|B|)`,
    * necessary for J >= t) prunes candidates before the exact verify
    * on full shingle sets.
    *
    * vs [[jaccardPairs]]: that one is multiset Jaccard over df-capped
    * postings (fast, approximate under the cap); this one is exact set
    * Jaccard at any skew — the prefix of a stop-gram-heavy document
    * consists of its RARE shingles, so one ubiquitous trigram never
    * creates a quadratic bucket.
    *
    * Scale note: ScaleSmoke's ~7x wall-clock at 10x data is LINEAR
    * stage growth, not candidate blowup — a per-stage count measured
    * every stage at 9.9-10.1x for 10x salted corpus (postings 261k,
    * prefix 134k, len-filtered join 13.9k, post-positional 274,
    * verified 250 — vs exactly 1/10th each at 1x). The sub-10x ratio is
    * fixed session overhead amortizing; a suffix filter would prune a
    * candidate set that the positional filter already cuts 28:1.
    */
  def jaccardPairsExact(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.5,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // SET semantics: distinct shingles per doc, as both the exploded
    // postings (prefix computation) and the per-doc array (verify)
    val hs = scope.persist(df.select(col(idCol),
      array_distinct(
        call_function("graft_hashed_shingles", col(textCol), lit(w))).as("hs"))
      .filter(size(col("hs")) > 0))
    val sh = hs.select(col(idCol), col("hs"), explode(col("hs")).as("s"))
      .select(col(idCol), size(col("hs")).as("sz"), col("s"))
    // global order: df ASC then hash ASC. Document frequency comes from
    // a partial-agg groupBy + keyed join (NOT a window over the full
    // postings): the aggregate is vocab-sized, AQE broadcasts it when
    // small and keeps a keyed shuffle join at corpus scale — either
    // way the postings shuffle at most once here
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    // prefix rank as a BOUNDED per-doc aggregate (collect + array_sort
    // + per-doc slice), not a rank window over the whole postings
    // stream — (df, s) is a total order within a doc (set semantics),
    // so the sliced positions ARE the old row_number ranks
    // bit-identically; and PERSISTED, because both sides of the
    // inverted-index self-join read it (the EdJoin rewrite).
    val prefix = scope.persist(sh.join(dfreq, "s")
      .groupBy(col(idCol), col("sz"))
      .agg(array_sort(collect_list(struct(col("__df"), col("s")))).as("__ss"))
      .select(col(idCol), col("sz"),
        posexplode(slice(col("__ss"), lit(1),
          (col("sz") - ceil(lit(threshold) * col("sz")) + 1).cast("int")))
          .as(Seq("__r0", "__p")))
      .select(col(idCol), col("sz"),
        col("__p.s").as("s"), (col("__r0") + 1).cast("int").as("__r")))
    // candidate pruning before the (expensive) exact verify:
    //  - length filter: J >= t requires t * max(|A|,|B|) <= min(|A|,|B|)
    //  - positional filter (PPJoin proper): a shared prefix shingle at
    //    ranks (r_a, r_b) bounds the overlap by
    //    1 + min(|A| - r_a, |B| - r_b); J >= t needs overlap >=
    //    ceil(t/(1+t) * (|A|+|B|)), so pairs whose BEST shared prefix
    //    shingle cannot reach that are dropped. The per-pair max rides
    //    the same aggregation that dedupes candidates — the filter is
    //    free of extra shuffles.
    // NOT size-banded (round-14 negative, measured, do not retry): a
    // bit-length-banded join key ((s, bit_length(sz)), b side exploded
    // ±1 band — the EdJoin length-band trick) is lossless here for
    // t >= 1/2, but measured 6.0 → 9.3 s at sf1: THIS prefix is
    // ~(1−t)·|postings| (half the corpus at t = 0.5), so tripling the
    // b side costs corpus-scale rows while doc shingle-set sizes span
    // only ~3-5 bit-length bands — the fuel cut cannot repay the
    // explode. Contrast EdJoin.edPairs, where the prefix is q·d+1
    // rows/string and lengths span ~70 bands.
    val cand = CandidateJoin.selfPairs(prefix, Seq("s"), idCol, carry = Seq("sz", "__r"))
      .filter(lit(threshold) * greatest(col("sz_a"), col("sz_b"))
        <= least(col("sz_a"), col("sz_b")))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(max(lit(1) + least(col("sz_a") - col("__r_a"), col("sz_b") - col("__r_b")))
        .as("__max_overlap"))
      .filter(col("__max_overlap") >=
        ceil(lit(threshold) / (lit(1.0) + lit(threshold)) * (col("sz_a") + col("sz_b"))))
      .select("id_a", "id_b")
    // exact verify (arrays here are distinct sets, so the contained
    // count equals set intersection)
    CandidateJoin.withJaccard(cand
        .join(hs.select(col(idCol).as("id_a"), col("hs").as("hs_a")), "id_a")
        .join(hs.select(col(idCol).as("id_b"), col("hs").as("hs_b")), "id_b"),
        "hs_a", "hs_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Overlap-coefficient (Szymkiewicz–Simpson / containment) pairs:
    * `inter / min(|A|, |B|) >= threshold` over DISTINCT shingle sets —
    * the asymmetric near-dup measure Jaccard under-scores: a short
    * document quoted wholesale inside a long one has tiny Jaccard
    * (the union is the long doc) but overlap 1.0. The standard gate
    * for "doc B embeds doc A" (quotes, mirrored abstracts, chunked
    * re-posts).
    *
    * Same inverted-index shape and occurrence cap as [[jaccardPairs]]
    * (set semantics: df = distinct docs per shingle); pairs only form
    * on shared shingles, the cap window reuses the join's exchange.
    */
  def overlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf,
      scope: graft.api.CacheScope = graft.api.CacheScope.global): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val raw = df.select(col(idCol),
      explode(array_distinct(
        call_function("graft_hashed_shingles", col(textCol), lit(w)))).as("s"))
    cappedOverlaps(raw, idCol, maxDf, scope)
      .withColumn("overlap", round(col("inter").cast("double") /
        least(col("sz_a"), col("sz_b")).cast("double"), 4))
      .filter(col("overlap") >= threshold)
      .select(col("id_a"), col("id_b"), col("overlap"))
  }

  /** DuckDB twin of [[overlapPairs]]. */
  def overlapPairsDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.8,
      maxDf: Int = DefaultMaxDf): String =
    s"""WITH sh0 AS (
       |  SELECT $idCol, unnest(list_distinct(${TextFunctions.hashedShinglesFromDuckSql("th", w)})) AS s
       |  FROM (SELECT $idCol, ${TextFunctions.tokenHashesDuckSql(textCol)} AS th FROM $table) t0),
       |sh AS MATERIALIZED (
       |  SELECT $idCol, s FROM sh0
       |  QUALIFY count(*) OVER (PARTITION BY s) <= $maxDf),
       |sizes AS (SELECT $idCol, count(*) AS sz FROM sh GROUP BY $idCol),
       |inter AS (
       |  SELECT a.$idCol AS id_a, b.$idCol AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.$idCol < b.$idCol
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, ovl AS overlap FROM (
       |  SELECT id_a, id_b,
       |    round(inter / CAST(least(sa.sz, sb.sz) AS DOUBLE), 4) AS ovl
       |  FROM inter JOIN sizes sa ON inter.id_a = sa.$idCol
       |             JOIN sizes sb ON inter.id_b = sb.$idCol) t
       |WHERE ovl >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB twin of [[jaccardPairsExact]]. */
  def jaccardPairsExactDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.5): String =
    s"""WITH hs AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT $idCol, list_distinct(${TextFunctions.hashedShinglesFromDuckSql("th", w)}) AS hs
       |    FROM (SELECT $idCol, ${TextFunctions.tokenHashesDuckSql(textCol)} AS th FROM $table) t0) t1
       |  WHERE len(hs) > 0),
       |sh AS (SELECT $idCol, len(hs) AS sz, unnest(hs) AS s FROM hs),
       |dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
       |ranked AS (
       |  SELECT dfx.*, row_number() OVER (PARTITION BY $idCol ORDER BY df ASC, s ASC) AS r
       |  FROM (SELECT sh.*, df FROM sh JOIN dfreq USING (s)) dfx),
       |prefix AS (
       |  SELECT $idCol, sz, s, r FROM ranked
       |  WHERE r <= sz - ceil($threshold * sz) + 1),
       |cand AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.$idCol AS id_a, b.$idCol AS id_b, a.sz AS sz_a, b.sz AS sz_b,
       |           max(1 + least(a.sz - a.r, b.sz - b.r)) AS max_overlap
       |    FROM prefix a JOIN prefix b ON a.s = b.s AND a.$idCol < b.$idCol
       |    WHERE $threshold * greatest(a.sz, b.sz) <= least(a.sz, b.sz)
       |    GROUP BY 1, 2, 3, 4) t
       |  WHERE max_overlap >= ceil($threshold / (1.0 + $threshold) * (sz_a + sz_b)))
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b,
       |    round(len(list_filter(ha.hs, x -> list_contains(hb.hs, x))) /
       |      CAST(len(ha.hs) + len(hb.hs) - len(list_filter(ha.hs, x -> list_contains(hb.hs, x))) AS DOUBLE), 4) AS jaccard
       |  FROM cand JOIN hs ha ON cand.id_a = ha.$idCol
       |            JOIN hs hb ON cand.id_b = hb.$idCol) t
       |WHERE jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  def jaccardPairsDuckSql(
      table: String,
      idCol: String,
      textCol: String,
      w: Int = 3,
      threshold: Double = 0.5,
      maxDf: Int = DefaultMaxDf): String = {
    s"""WITH sh0 AS (
       |  SELECT $idCol, unnest(${TextFunctions.hashedShinglesFromDuckSql("th", w)}) AS s
       |  FROM (SELECT $idCol, ${TextFunctions.tokenHashesDuckSql(textCol)} AS th FROM $table) t0),
       |sh AS MATERIALIZED (
       |  SELECT $idCol, s FROM sh0
       |  QUALIFY count(*) OVER (PARTITION BY s) <= $maxDf),
       |sizes AS (SELECT $idCol, count(*) AS sz FROM sh GROUP BY $idCol),
       |inter AS (
       |  SELECT a.$idCol AS id_a, b.$idCol AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.$idCol < b.$idCol
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT id_a, id_b,
       |    round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 4) AS jaccard
       |  FROM inter JOIN sizes sa ON inter.id_a = sa.$idCol
       |             JOIN sizes sb ON inter.id_b = sb.$idCol) t
       |WHERE jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }
}
