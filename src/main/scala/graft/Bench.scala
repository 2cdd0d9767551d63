package graft

/** Benchmark main: times every SparkEntry query at the given SF dir and
  * emits ONE JSON line. A query that throws during the timed pass is
  * recorded as -1.0 (and listed in `errors`) rather than with its
  * time-to-fail, so the emitted JSON distinguishes failures from fast
  * queries. When `SPARK_GRAFT_BENCH_OUT` is set the same JSON line is
  * also written to that file, so the official record survives stdout
  * parsing trouble.
  *
  * PROTOCOL FAIRNESS: streaming warm-resume (`WarmRuns`) is DISABLED
  * for both comparable passes — every streaming gate's timed number is
  * a cold end-to-end rebuild (stage, run, kill, resume), the same work
  * the DuckDB comparator does in its timed pass. Restart-from-checkpoint
  * cost (what a deployed stream actually pays per redeploy) is measured
  * afterwards in a separate pass and reported as `"restart"`, clearly
  * excluded from the vs-oracle `total`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // optional args = name prefixes, for single-query iteration
    // (the driver invokes with no args -> full suite)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (args.isEmpty) all else all.filter(n => args.exists(n.startsWith))
    // between queries: drop caches + checkpoint blocks and scratch
    // dirs the finished query pinned — 352 executions in one JVM
    // otherwise accumulate block-manager storage until late queries
    // thrash (the round-9 driver-run 10-20x late-query regressions)
    def sweep(): Unit = {
      graft.etl.Checkpoints.sweep(spark)
      graft.etl.Scratch.sweep()
    }
    // comparable passes run COLD: no streaming warm-resume — the
    // oracle comparator re-executes everything in ITS timed pass, so
    // ours must too (identical-procedure protocol, BASELINE.md)
    graft.streaming.WarmRuns.enabled = false
    // untimed warm-up pass: JIT + codegen compilation + file-index
    // caches, so timed numbers reflect steady-state execution
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      sweep()
    }
    val results = names.map { name =>
      val puts0 = graft.streaming.WarmRuns.putAttempts
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      val warmCapable = graft.streaming.WarmRuns.putAttempts > puts0
      sweep() // outside the timed window; fresh-JVM-equivalent state
      (name, sec, ok, warmCapable)
    }
    // separate restart-metric pass, EXCLUDED from the comparable total:
    // for each streaming gate, one more cold run populates the warm
    // registry, then the timed run measures pure restart-from-checkpoint
    // (offset/commit-log reconciliation over an unchanged source)
    graft.streaming.WarmRuns.enabled = true
    val restart = results.collect { case (n, _, true, true) => n }
      .map { name =>
        val sec =
          try {
            SparkEntry.queries(name)(spark, sfDir).count()
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => -1.0 }
        sweep() // retained warm dirs survive (bounded: one set per gate)
        (name, sec)
      }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val rs = restart.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, true, _) => v }.sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errors,"restart":$rs,"sf":"$sfDir"}"""
    println(json)
    // always persist the record to a file: the driver's stdout parser
    // has dropped the [info]-prefixed line before ("parsed": null)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
    // COMPACT record, printed LAST: the driver tails only the final few
    // KB of sbt output, so the full 270-entry line above gets truncated
    // mid-string and parses as null (BENCH_r12–r14). This short line —
    // total + the headline gates — always fits the tail window whole;
    // the full per-query record is the `json` line above / `out` file.
    // original 12 + the round-16 working set (every current >2× tail
    // row and every row this round claims to improve — VERDICT r15
    // item 5): the compact line stays ~1 KB, well inside the driver's
    // tail window; bench_out.json (above) remains the full record
    val headline = Seq("q01_weekly_compound", "q05_filter_project",
      "q13_dedup_exact", "q15_minhash_lsh", "q17_ann_cosine", "q74_bm25",
      "q80_pagerank", "q112_hybrid_rrf", "q120_training_prep",
      "q127_dup_spans", "q167_ingest_restart", "q205_exact_split",
      "q08_agg_join_back", "q91_triangles", "q98_bfs_levels",
      "q166_containment_join", "q191_sssp_bounded", "q208_suffix_ranks",
      "q238_degree_dist", "q225_zonemap_prune", "q236_zonemap_append",
      "q251_timetravel", "q252_membership_skip", "q258_retention",
      "q154_session_restart", "q262_cdc_join_stream")
    val hq = results.collect {
      case (k, v, _, _) if headline.contains(k) => s"\"" + k + "\":" + v
    }.mkString("{", ",", "}")
    val nErr = results.count(!_._3)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$hq,"n_queries":${results.length},"n_errors":$nErr,"sf":"$sfDir","full":"$out"}""")
  }
}
