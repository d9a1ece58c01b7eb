package graft


/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"}.
  *
  * Timing forces FULL evaluation of every output column via
  * `queryExecution.toRdd.foreach` — a plain `.count()` would let Catalyst
  * prune expression-heavy projections (dedup signatures, text stats) and
  * under-measure them. Failures are recorded per-query (negative time
  * sentinel, excluded from the total, counted in `n_failed`) and make
  * the run exit with status 1 after both JSON lines are written.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.build()
    // Warmup (untimed): JIT the codegen/parquet/shuffle paths once so
    // the first measured query doesn't absorb executor start-up cost.
    // The third warmup exercises the INTERPRETED higher-order-function
    // path (md5 token hashing, aggregate/transform lambdas) that the
    // dedup/text queries run on — its first use otherwise costs ~1-2 s
    // of classloading inside whichever query happens to run it first.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.df(spark, sfDir, "lineitem").select("l_orderkey").limit(1000)
      .queryExecution.toRdd.foreach(_ => ())
    Tables.df(spark, sfDir, "documents").limit(64)
      .selectExpr("aggregate(transform(split(text, ' '), t -> cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)), 0L, (a, h) -> a + h % 1024) as w")
      .queryExecution.toRdd.foreach(_ => ())
    // Attributable timing: each query runs `reps` times and reports the
    // MIN (steady-state cost, robust to a GC pause landing in one rep).
    // Cache release is BLOCKING and a System.gc() runs before every
    // timed rep — otherwise async block cleanup + heap pressure from a
    // heavy query bleeds into whichever queries run next and the
    // per-query numbers stop meaning anything (the round-4 bench showed
    // contiguous alphabetical bands of unchanged queries 6-22x slower).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated filter for targeted timing runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    val errors = scala.collection.mutable.ListBuffer[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
          finally graft.api.CacheScope.global.release(blocking = true)
        val sec = (System.nanoTime() - t0) / 1e9
        (ok, sec)
      }
      val ok = times.exists(_._1)
      if (!ok) errors += name
      val sec =
        if (ok) times.collect { case (true, s) => s }.min
        else times.map(_._2).min
      System.err.println(f"[bench] $name%-22s ${if (ok) "" else "FAIL "}$sec%.2f s (min of $reps)")
      name -> (if (ok) sec else -sec)
    }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Apples-to-apples vs the round-1 baseline (BENCH_r01: 20 queries,
    // 43.3 s): subtotal over exactly those 20 query keys.
    val r1Keys = Set(
      "q_find_eq", "q_find_range", "q_find_in", "q_find_and", "q_find_or",
      "q_select_cols", "q_sort_page", "q_count", "q_get_ids", "q_distinct",
      "q1_agg", "q_join_broadcast", "q_join_multi", "q_window_topn",
      "q_events_window", "q_facet_single", "q_facet_excl", "q_facet_multi",
      "q_facet_mv", "q_facet_batched")
    val r1Subtotal = results.collect { case (k, v) if v >= 0 && r1Keys(k) => v }.sum
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The harness capturing stdout keeps only the LAST ~2000 chars, so
    // (a) per-query values are rounded to 2dp to fit the whole line in
    // the window, and (b) the summary fields (value = total seconds)
    // come AFTER the queries map so they survive even if the head is
    // clipped. Full-precision numbers go to $SPARK_GRAFT_BENCH_OUT
    // (default: the gitignored BENCH_LAST.json in cwd).
    def fmt(v: Double, dp: Int) = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString
    def qsJson(dp: Int) = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, dp) }
      .mkString("{", ",", "}")
    def lineJson(dp: Int) =
      s"""{"metric":"total","unit":"sec","queries":${qsJson(dp)},"r1_subset_total":${fmt(r1Subtotal, 3)},"n_queries":${results.size},"n_failed":${errors.size},"errors":$errJson,"sf":"$sfDir","total_s":${fmt(total, 3)},"value":${fmt(total, 3)}}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), lineJson(6) + "\n")
    catch { case e: Exception => System.err.println(s"[bench] $outFile write failed: ${e.getMessage}") }
    println(lineJson(2))
    // Compact summary as the LAST stdout line: the full line above
    // (~5 KB with 236 per-query entries) overflows the harness's
    // ~2000-char stdout tail and arrives head-clipped — unparseable as
    // JSON — so the totals-only twin (<300 chars, same summary fields,
    // no per-query map) is what a tail-windowed reader actually parses.
    // Per-query values stay available in the full line and in
    // $SPARK_GRAFT_BENCH_OUT (full precision).
    println(s"""{"metric":"total","unit":"sec","r1_subset_total":${fmt(r1Subtotal, 3)},"n_queries":${results.size},"n_failed":${errors.size},"errors":$errJson,"sf":"$sfDir","total_s":${fmt(total, 3)},"value":${fmt(total, 3)}}""")
    spark.stop()
    // a failed query must be loud: total_s above excludes it
    if (errors.nonEmpty) sys.exit(1)
  }
}
