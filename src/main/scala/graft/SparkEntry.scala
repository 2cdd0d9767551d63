package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DateTimeFunctions.yearWeek
import graft.functions.ReturnFunctions.{compoundReturn, runningCompound}
import graft.functions.TextFunctions._
import graft.ops.{Calendar, Dedup, EventWindows, Quality, Returns, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a pure plan builder over the driver's
  * parquet tables in `dir`; [[oracleSql]] holds the DuckDB-equivalent SQL
  * for the hash-compare gate. Conventions shared by both sides:
  *   - identical column aliases (driver sorts columns by name),
  *   - a deterministic ORDER BY on a unique (or value-identical) key,
  *   - derived doubles rounded (ROUND(x, n)) with identical n, so
  *     last-ulp float divergence between engines cannot flip the hash.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.etl.Tables.table(s, dir, name)

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Register `df` under a per-invocation unique temp-view name and
    * return the name. SQL-surface queries interpolate it, so two
    * concurrent runs sharing one SparkSession (e.g. two SFs at once)
    * never clobber each other's views. */
  private def uniqueView(df: DataFrame, base: String): String = {
    val name = s"${base}_${viewSeq.incrementAndGet()}"
    df.createOrReplaceTempView(name)
    name
  }

  /** events → market-returns analog used by the compound-return queries:
    * user_id ≡ fund, event_type ≡ return kind, date(ts) ≡ market date,
    * value/1000 ≡ daily return (keeps ln(1+r) well-conditioned). */
  private def dailyReturns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      col("event_id"),
      col("user_id").as("fund_id"),
      col("event_type").as("rtype"),
      to_date(col("ts")).as("mdate"),
      (col("value") / 1000.0).as("r"))

  private val dailyReturnsSql =
    """SELECT event_id, user_id AS fund_id, event_type AS rtype,
      |       CAST(ts AS DATE) AS mdate, value/1000.0 AS r FROM events""".stripMargin

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_weekly_compound")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- reference parity: scans, joins, aggregates, windows ---------

    // S6/J1/P3/F1/F2/F3/A3/O1: the reference's weekly compounded return
    // (ipynb cells 12-13) over the events analog. Calendar dim join is
    // explicitly broadcast.
    "q01_weekly_compound" -> ((s, dir) => {
      val daily = Calendar.filterWorkingDays(dailyReturns(s, dir), "mdate")
      Returns.weeklyReturns(daily, "fund_id", "rtype", "mdate", "r")
        .withColumn("weekly_return", round(col("weekly_return"), 6))
        .orderBy("fund_id", "rtype", "year_week")
    }),

    // W1: intra-week running compound (ipynb cells 14-15).
    "q02_running_compound" -> ((s, dir) => {
      val daily = Calendar.filterWorkingDays(dailyReturns(s, dir), "mdate")
      Returns.withRunningCompound(daily, "fund_id", "rtype", "mdate", "r")
        .select(col("event_id"), col("fund_id"), col("rtype"), col("mdate"),
          col("year_week"),
          round(col("daily_compound_evolution"), 6).as("compound_evolution"))
        .orderBy("event_id")
    }),

    // A1/A2: business-key uniqueness probe (ipynb cells 10-11).
    "q03_key_uniqueness" -> ((s, dir) =>
      Quality.keyViolations(t(s, dir, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")),

    // A5/J1/O1/O2: grouped avg over a 3-table star join; dims broadcast.
    "q04_grouped_avg_topn" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(round(avg(col("o_totalprice")), 4).as("avg_price"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name", "yr")
        .limit(10)
    }),

    // P1/P2: projection + string-equality filter (pushed to the scan).
    "q05_filter_project" -> ((s, dir) =>
      t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy("c_custkey")),

    // A4: scalar count.
    "q06_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // U1: union of homogeneous projections.
    "q07_union" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = ev.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("value"))
      val b = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      a.unionByName(b).orderBy("event_id")
    }),

    // J2: group aggregate joined back onto detail rows (ipynb cell 12).
    "q08_agg_join_back" -> ((s, dir) => {
      // r16 (r15 verdict item 6): this shape is agg → broadcast
      // join-back → sort, and every strategy decision is STATIC (the
      // build side is the aggregate of the same frame — broadcast by
      // size estimate; a broadcast join cannot skew; coalescing saves
      // nothing the 4 serialized stage materializations don't cost
      // several times over), so adaptive re-planning is pure
      // scheduling overhead here: 0.96 → 0.66 s warm medians
      // (BASELINE.md, "Round-16: q08"). NOT applied class-wide — the
      // same A/B measured q207 0.78→0.90 and q193 0.42→0.73 WORSE, so
      // only this verdict-named gate takes it, on a child session so
      // nothing leaks, with the AQE plan one conf away (row-identical,
      // same oracle).
      val s2 =
        if (s.conf.get("spark.graft.q08.adaptive", "false").toBoolean) s
        else {
          val c = s.newSession()
          c.conf.set("spark.sql.adaptive.enabled", "false")
          c
        }
      val daily = dailyReturns(s2, dir).withColumn("year_week", yearWeek(col("mdate")))
      Returns.attachGroupAgg(daily, Seq("fund_id", "rtype", "year_week"),
          round(sum(col("r")), 9), "weekly_sum")
        .select(col("event_id"), col("fund_id"), col("rtype"),
          col("year_week"), col("weekly_sum"))
        .orderBy("event_id")
    }),

    // P4/P5: bulk column rename.
    "q09_rename_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumnsRenamed(Map(
          "l_orderkey" -> "order_key",
          "l_linenumber" -> "line_number",
          "l_quantity" -> "quantity"))
        .select(col("order_key"), col("line_number"), col("quantity"))
        .orderBy("order_key", "line_number", "quantity")),

    // A1/A2 over events: grouped count+avg with a HAVING filter.
    "q10_having_avg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(avg(col("value")), 6).as("avg_value"))
        .where(col("n_events") > 10)
        .orderBy("user_id")),

    // O1/O2: global sort + limit (plans as TakeOrderedAndProject).
    "q11_sort_limit" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)),

    // F1: the %Y-%W week key alone, cross-checked against DuckDB strftime.
    "q12_week_key" -> ((s, dir) =>
      t(s, dir, "events")
        .select(to_date(col("ts")).as("mdate")).distinct()
        .select(col("mdate"), yearWeek(col("mdate")).as("year_week"))
        .orderBy("mdate")),

    // ---- training-data pipeline extensions: dedup + text analysis ----

    // Exact dedup: content-hash groups with keeper id + multiplicity.
    "q13_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_hash")),

    // Near-dup pairs by exact word-3-gram Jaccard (all-pairs verify path).
    "q14_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")),

    // Near-dup pairs by MinHash(8 perms) + LSH(4 bands x 2) + verify —
    // the 100 TB-scale dedup path: pairs come from band buckets, never
    // from an all-pairs join.
    "q15_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")),

    // 32-bit SimHash per document.
    "q16_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Text quality statistics: token counts, BPE-ish token estimate,
    // stopword/punctuation ratios, composite quality score.
    "q18_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("w"))
      d.select(
        col("doc_id"),
        tokenCount(col("w")).cast("long").as("n_tokens"),
        bpeTokenEstimate(col("w")).as("bpe_est"),
        round(aggregate(col("w"), lit(0L), (a, x) => a + length(x)).cast("double")
          / size(col("w")), 6).as("avg_token_len"),
        round(stopwordRatio(col("w")), 6).as("stopword_ratio"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(qualityScore(col("text"), col("w")), 6).as("quality")
      ).orderBy("doc_id")
    }),

    // Heuristic language ID (stopword-panel argmax).
    "q19_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("w"))
      d.select(col("doc_id"),
          hitCount(col("w"), EnStopwords).cast("long").as("en_hits"),
          langId(col("w")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // Document fingerprint: min 32-bit hash over char 5-gram shingles.
    "q20_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // ---- similarity search + event-time windows ----------------------

    // Exact brute-force cosine top-5 for 10 query vectors (the ANN
    // correctness baseline; query set broadcast, corpus streamed).
    "q17_ann_cosine" -> ((s, dir) =>
      Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")),

    // Tumbling 1-hour windows per event type.
    "q21_event_window" -> ((s, dir) =>
      EventWindows.tumbling(t(s, dir, "events"), "ts", "1 hour",
          Seq("event_type"),
          Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
        .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // Sliding 1-hour windows every 30 minutes (each event lands in 2).
    "q22_sliding_window" -> ((s, dir) =>
      EventWindows.sliding(t(s, dir, "events"), "ts", "1 hour", "30 minutes",
          Seq.empty, Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
        .select(col("window_start"), col("n"), col("sum_value"))
        .orderBy("window_start")),

    // Gap-based sessionization (30-minute inactivity) + session rollup.
    "q23_sessionize" -> ((s, dir) =>
      EventWindows.sessionStats(t(s, dir, "events"), "user_id", "ts",
          "value", gapSeconds = 1800, orderTieCol = "event_id")
        .orderBy("user_id", "session_id")),

    // Embedding-cosine near-duplicate pairs (exact all-pairs verify).
    "q24_embedding_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDups(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4)
        .orderBy("doc_a", "doc_b")),

    // IVF approximate top-k — the pruned scale path. Deterministic
    // end-to-end (stride centroids, 9-digit-rounded argmin assignment,
    // id tie-breaks), so the same assignment+probe+rank is expressed
    // in the DuckDB oracle; recall vs q17 also asserted in
    // SimilaritySpec.
    "q25_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, centroidStride = 32, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")),

    // ---- broader SQL surface (free in Spark, oracle-gated anyway) ----

    // Exact interpolated percentiles per group.
    "q26_percentiles" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))
        .orderBy("event_type")),

    // ROLLUP hierarchy totals (grouping-set aggregation).
    "q27_rollup" -> ((s, dir) =>
      t(s, dir, "events")
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first)),

    // Ranking + lag windows per entity.
    "q28_ranking" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          row_number().over(w).cast("long").as("rn"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
        .orderBy("event_id")
    }),

    // Structured Streaming windowed aggregation run to completion over
    // the bounded events input (complete mode == batch result), so the
    // streaming operator passes through the same DuckDB gate.
    "q30_stream_window" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .windowedEventCounts(s, s"$dir/events.parquet", "1 hour")
        .orderBy("window_start", "event_type")),

    // As-of join: each event priced at the latest per-user "rate"
    // update at or before its timestamp (rates = first event per
    // user-day). One shuffle + window — never a range cross-product;
    // DuckDB verifies with its native ASOF JOIN operator.
    "q31_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"), col("value").as("rate"))
      graft.ops.AsOf.joinAsOf(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    }),

    // SimHash near-dup pairs (byte-band bucket join + popcount verify);
    // hamming 0 on this vocab-limited corpus = identical token profiles.
    "q32_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 0)
        .orderBy("doc_a", "doc_b")),

    // Set operations: INTERSECT / EXCEPT between event-day projections.
    "q33_setops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clickDays = ev.where(col("event_type") === "click")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val buyDays = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val both = clickDays.intersect(buyDays).withColumn("kind", lit("both"))
      val clickOnly = clickDays.except(buyDays).withColumn("kind", lit("click_only"))
      both.unionByName(clickOnly).orderBy("kind", "user_id", "d")
    }),

    // Correlated scalar subquery (SQL surface; Catalyst decorrelates to
    // an aggregate + left outer join, COUNT-bug handled — never a
    // per-row subquery execution).
    "q34_correlated" -> ((s, dir) => {
      val cv = uniqueView(t(s, dir, "customer"), "graft_customer")
      val ov = uniqueView(t(s, dir, "orders"), "graft_orders")
      s.sql(
        s"""SELECT c_custkey, c_name,
           |       (SELECT COUNT(1) FROM $ov o
           |        WHERE o.o_custkey = c.c_custkey) AS n_orders
           |FROM $cv c ORDER BY c_custkey""".stripMargin)
    }),

    // Anti join: customers with no urgent orders (non-empty at all SFs).
    "q29_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // Left outer join: every customer, with urgent-order aggregates or
    // nulls (the agg side is small after grouping -> broadcastable).
    "q35_left_outer" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_urgent"),
          round(sum(col("o_totalprice")), 4).as("urgent_total"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("n_urgent"),
          col("urgent_total"))
        .orderBy("c_custkey")
    }),

    // Full outer join on (user_id, day): click-days vs purchase-days;
    // using-column join coalesces the keys on both engines.
    "q36_full_outer" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_clicks"))
      val buys = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_buys"))
      clicks.join(buys, Seq("user_id", "d"), "full")
        .select(col("user_id"), col("d"), col("n_clicks"), col("n_buys"))
        .orderBy("user_id", "d")
    }),

    // Semi join (EXISTS): customers with at least one urgent order —
    // the complement of q29's anti join.
    "q37_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // CUBE over two dimensions: all 4 grouping combinations in one
    // shuffle (Expand + single hash agg — not 4 scans).
    "q38_cube" -> ((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"), year(col("ts")).as("yr"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first, col("yr").asc_nulls_first)),

    // Explicit GROUPING SETS (the general grouping-set surface beyond
    // ROLLUP/CUBE): per-type, per-cohort, and grand total.
    "q39_grouping_sets" -> ((s, dir) => {
      val ev = uniqueView(t(s, dir, "events"), "graft_events")
      s.sql(
        s"""SELECT event_type, user_id % 10 AS cohort,
           |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
           |FROM $ev
           |GROUP BY GROUPING SETS ((event_type), (cohort), ())
           |ORDER BY event_type ASC NULLS FIRST, cohort ASC NULLS FIRST""".stripMargin)
    }),

    // Pivot: event types to columns (explicit value list, so the plan
    // is a single groupBy — no distinct-scan to discover columns).
    "q40_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 4))
        .orderBy("user_id")),

    // Lateral explode with position: tokenized documents re-flattened
    // (generator runs inside whole-stage codegen; no shuffle).
    "q41_explode_pos" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos")),

    // Explicit window frames: ROWS-bounded trailing sum, running max,
    // and a forward-looking average in one window spec family.
    "q42_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
          col("event_id"), col("user_id"),
          round(sum(col("value")).over(w.rowsBetween(-3, 0)), 4).as("sum_last4"),
          round(max(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 4).as("run_max"),
          round(avg(col("value")).over(w.rowsBetween(0, 2)), 6).as("avg_next3"))
        .orderBy("event_id")
    }),

    // String function pack over customer attributes.
    "q43_string_pack" -> ((s, dir) =>
      t(s, dir, "customer").select(
          col("c_custkey"),
          upper(col("c_name")).as("name_u"),
          lower(col("c_mktsegment")).as("seg_l"),
          substring(col("c_name"), 1, 8).as("name_pfx"),
          concat_ws("|", col("c_name"), col("c_mktsegment")).as("nm_seg"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("cust_num"),
          regexp_replace(col("c_name"), "[0-9]", "x").as("name_mask"),
          length(col("c_name")).cast("long").as("name_len"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"))
        .orderBy("c_custkey")),

    // Date/time function pack over order dates.
    "q44_date_pack" -> ((s, dir) =>
      t(s, dir, "orders").select(
          col("o_orderkey"),
          trunc(col("o_orderdate"), "month").as("month_start"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("long").as("days_since"),
          add_months(col("o_orderdate"), 3).as("plus3m"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .orderBy("o_orderkey")),

    // Conditional aggregation: filtered counts/sums/shares in one pass.
    "q45_conditional_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(when(col("value") > 900, 1)).as("n_big"),
          round(sum(when(col("event_type") === "click", col("value"))), 4)
            .as("click_sum"),
          round(avg(when(col("event_type") === "purchase", 1.0).otherwise(0.0)), 6)
            .as("buy_share"))
        .orderBy("user_id")),

    // Statistical aggregates: sample stddev/variance, correlation and
    // covariance (all partial-aggregable — map-side combine applies).
    "q46_stats_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(stddev_samp(col("value")), 4).as("sd"),
          round(var_samp(col("value")), 2).as("vr"),
          round(corr(col("value"), col("user_id").cast("double")), 6).as("cor"),
          round(covar_samp(col("value"), col("user_id").cast("double")), 2).as("cov"))
        .orderBy("event_type")),

    // Rank-family window navigation: ntile, percent_rank, cume_dist,
    // first/nth value.
    "q47_window_nav" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
          col("event_id"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 9).as("pr"),
          round(cume_dist().over(w), 9).as("cd"),
          first(col("value")).over(w).as("first_v"),
          nth_value(col("value"), 2).over(w).as("second_v"))
        .orderBy("event_id")
    }),

    // JSON extraction from the props column + grouped rollup on the
    // extracted key (scalar JSON path, codegen'd — no UDF).
    "q48_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("k")),

    // Ordered string aggregation per user (array_sort on (event_id,
    // type) structs -> deterministic csv, matching DuckDB's ORDER BY
    // string_agg).
    "q49_string_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("event_id"), col("event_type")))),
            x => x.getField("event_type")), ",").as("types_csv"))
        .orderBy("user_id")),

    // Multi-column exact COUNT(DISTINCT) per group.
    "q50_count_distinct" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("u_users"),
          countDistinct(to_date(col("ts"))).as("u_days"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // Bucketed range join: events inside per-user 2-hour windows. The
    // range predicate becomes an equi-join on (user_id, time bucket) +
    // an exact residual filter — never the BroadcastNestedLoop plan a
    // bare inequality join would produce (the 100 TB trap).
    "q52_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val wins = ev.withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_id").as("win_id"),
          unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) + lit(2L * 3600 * 1000000)).as("w_end"))
      val pts = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("pt"))
      graft.ops.RangeJoin.pointInInterval(pts, wins, Seq("user_id"),
          "pt", "w_start", "w_end", bucketWidth = 2L * 3600 * 1000000)
        .select(col("win_id"), col("event_id"))
        .orderBy("win_id", "event_id")
    }),

    // Bucketed interval-overlap join: overlapping per-user 20-hour
    // windows; each pair emitted from exactly one bucket (the later
    // start's) so no dedup shuffle is needed.
    "q53_interval_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val len = 20L * 3600 * 1000000
      val wins = ev.withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("event_id").as("win_id"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) + lit(len)).as("e"))
      val a = wins.select(col("user_id"), col("win_id").as("win_a"),
        col("s").as("sa"), col("e").as("ea"))
      val b = wins.select(col("user_id"), col("win_id").as("win_b"),
        col("s").as("sb"), col("e").as("eb"))
      graft.ops.RangeJoin.intervalOverlap(a, b, Seq("user_id"),
          "sa", "ea", "sb", "eb", bucketWidth = len)
        .where(col("win_a") < col("win_b"))
        .select(col("win_a"), col("win_b"))
        .orderBy("win_a", "win_b")
    }),

    // Linear-regression aggregates per group (all partial-aggregable);
    // x is day-offset so the normal equations stay well-conditioned
    // and both engines agree to the rounded digits.
    "q54_regression" -> ((s, dir) => {
      val x = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
        .cast("double")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(regr_slope(col("value"), x), 6).as("slope"),
          round(regr_intercept(col("value"), x), 4).as("icept"),
          round(regr_r2(col("value"), x), 9).as("r2"),
          regr_count(col("value"), x).as("n"))
        .orderBy("event_type")
    }),

    // Bitwise and boolean aggregates per group.
    "q55_bitbool_aggs" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          bit_and(col("user_id")).as("band"),
          bit_or(col("user_id")).as("bor"),
          bit_xor(col("user_id")).as("bxor"),
          bool_and(col("value") > 10).as("all_gt10"),
          bool_or(col("value") > 990).as("any_gt990"))
        .orderBy("event_type")),

    // Null-handling scalar pack: coalesce/nullif/greatest/least.
    "q56_null_scalars" -> ((s, dir) =>
      t(s, dir, "lineitem").selectExpr(
          "l_orderkey", "l_linenumber",
          "greatest(l_quantity, l_discount * 100) AS g",
          "least(l_quantity, l_extendedprice / 1000) AS l",
          "coalesce(nullif(l_returnflag, 'N'), 'none') AS rf")
        .orderBy("l_orderkey", "l_linenumber")),

    // Bounded-heap top-k per group (the custom mergeable Aggregator):
    // top-3 events per user by value, gated against DuckDB's
    // window-rank formulation — proves the O(k)-state operator exact.
    "q57_topk_per_group" -> ((s, dir) =>
      graft.ops.TopK.topKPerGroup(t(s, dir, "events"),
          Seq("user_id"), "value", "event_id", 3)
        .orderBy("user_id", "rank")),

    // The one-shuffle window rewrite of q08's agg-join-back (the
    // rewrite the reference notebook itself discovers in cell 14),
    // gated against DuckDB's windowed SQL form.
    "q59_group_attach_window" -> ((s, dir) => {
      val daily = dailyReturns(s, dir).withColumn("year_week", yearWeek(col("mdate")))
      graft.ops.Returns.attachGroupAggWindowed(daily,
          Seq("fund_id", "rtype", "year_week"), c => sum(c), "r", "weekly_sum")
        .withColumn("weekly_sum", round(col("weekly_sum"), 9))
        .select(col("event_id"), col("fund_id"), col("rtype"),
          col("year_week"), col("weekly_sum"))
        .orderBy("event_id")
    }),

    // Recursive CTE (Spark 4 WITH RECURSIVE): the date-spine pattern —
    // generate the full day range between min and max event dates
    // recursively, then left-join daily counts so gap days surface as
    // zeros instead of silently missing rows.
    "q61_recursive_spine" -> ((s, dir) => {
      val ev = uniqueView(t(s, dir, "events"), "graft_events")
      s.sql(
        s"""WITH RECURSIVE bounds AS (
           |  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
           |  FROM $ev
           |), spine(d, hi) AS (
           |  -- carry hi THROUGH the recursion: referencing the bounds
           |  -- CTE inside the recursive step would rescan the events
           |  -- aggregate once per iteration
           |  SELECT lo, hi FROM bounds
           |  UNION ALL
           |  SELECT CAST(d + INTERVAL 1 DAY AS DATE), hi FROM spine
           |  WHERE d < hi
           |), daily AS (
           |  SELECT CAST(ts AS DATE) AS d2, COUNT(1) AS n
           |  FROM $ev GROUP BY 1
           |)
           |SELECT d, COALESCE(n, 0) AS n
           |FROM spine LEFT JOIN daily ON d = d2
           |ORDER BY d""".stripMargin)
    }),

    // Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL):
    // multiplicities preserved, unlike q33's set-semantics forms.
    "q63_setops_all" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      clicks.intersectAll(views).withColumn("kind", lit("both"))
        .unionByName(clicks.exceptAll(views).withColumn("kind", lit("click_only")))
        .orderBy("kind", "user_id", "d")
    }),

    // Paragraph-level (sub-document) dedup: repeated cross-document
    // "paragraphs" — boilerplate — by document frequency. The corpus
    // has no paragraph delimiters, so paragraphs are fixed 8-token
    // windows (graft.ops.Dedup.chunkTable); real corpora use
    // paragraphTable (blank-line split) + stripBoilerplate, spec-
    // covered in DedupSpec.
    "q64_paragraph_dedup" -> ((s, dir) =>
      graft.ops.Dedup.paragraphDocFreq(
          graft.ops.Dedup.chunkTable(t(s, dir, "documents"),
            "doc_id", "text", 8), "doc_id")
        .where(col("doc_freq") >= 2)
        .orderBy("para_hash")),

    // Production-shape MinHash LSH: 128 perms / 32 bands x 4 rows — the
    // parametrization a web-scale corpus runs (threshold curve
    // (1/32)^(1/4) ~= 0.42 vs the gate shape's 0.5). Same
    // band-bucket + exact-verify pipeline as q15, wider recall dial.
    "q65_minhash_prod" -> ((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5, nPerms = 128, bands = 32, rowsPerBand = 4)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")),

    // Token-budget shard assignment (document-level sequence packing):
    // deterministic order, exclusive running token total, shard =
    // total div budget. Distributed two-phase cumsum (block-local
    // window + broadcast block offsets) — cross-validated against the
    // single-window form in PackingSpec and against DuckDB's global
    // window here.
    "q66_token_shards" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Packing.packByBudget(d, "doc_id", "n_tokens", 4096L,
          expr("doc_id div 100"))
        .select(col("doc_id"), col("n_tokens"), col("shard"))
        .orderBy("doc_id")
    }),

    // Transitive near-dup cluster resolution: connected components
    // (iterative min-label propagation) over the gate-shape LSH pairs;
    // each clustered doc maps to its cluster representative (min id).
    // The DuckDB oracle computes the same closure with a recursive CTE
    // — a genuinely different algorithm validating the iterative one.
    "q67_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupComponents(
          Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
            n = 3, threshold = 0.5))
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")),

    // Deterministic seeded train/val/test split + shuffle key: both
    // derive from the engine-portable md5 key hash, so the split is a
    // narrow filter (no shuffle) and the shuffle order reproduces in
    // any engine — gated bit-for-bit against DuckDB's md5.
    "q68_hash_split" -> ((s, dir) =>
      graft.ops.Sampling.hashSplit(
          t(s, dir, "documents").select(col("doc_id")),
          "doc_id", valFrac = 0.1, testFrac = 0.1, seed = "v1")
        .withColumn("shuffle_key",
          graft.ops.Sampling.shuffleKey(col("doc_id"), "v1"))
        .select(col("doc_id"), col("split"), col("shuffle_key"))
        .orderBy("doc_id")),

    // Within-document repetition quality (Gopher-style filter inputs):
    // duplicate word-3-gram fraction and most-common-token dominance.
    "q69_repetition" -> ((s, dir) =>
      graft.ops.Quality.repetitionStats(t(s, dir, "documents"),
          "doc_id", "text", n = 3)
        .select(col("doc_id"), col("n_tokens"), col("n_grams"),
          round(col("dup_ngram_frac"), 6).as("dup_ngram_frac"),
          round(col("top_token_frac"), 6).as("top_token_frac"))
        .orderBy("doc_id")),

    // Eval-set decontamination: per-candidate-document fraction of
    // distinct word-5-grams appearing in any "benchmark" document
    // (deterministic 1-in-97 slice of the corpus stands in for the
    // eval set). Benchmark shingle hashes broadcast; corpus streamed.
    "q70_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.benchmarkContamination(
          docs.where(col("doc_id") % 97 =!= 0),
          docs.where(col("doc_id") % 97 === 0),
          "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          round(col("contamination"), 6).as("contamination"))
        .orderBy("doc_id")
    }),

    // Per-document TF-IDF top-3 keywords (scores rounded before
    // ranking for cross-engine determinism; token tie-break).
    "q71_tfidf_keywords" -> ((s, dir) =>
      graft.ops.Tfidf.topKeywords(t(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")),

    // Correlated LATERAL subquery: top-2 customers by balance PER
    // nation, expressed as a lateral per-row subquery (Catalyst
    // decorrelates to a ranked join — never a per-row execution).
    "q62_lateral" -> ((s, dir) => {
      val nv = uniqueView(t(s, dir, "nation"), "graft_nation")
      val cv = uniqueView(t(s, dir, "customer"), "graft_customer")
      s.sql(
        s"""SELECT n_name, c.c_name, c.c_acctbal
           |FROM $nv, LATERAL (
           |  SELECT c_name, c_acctbal FROM $cv
           |  WHERE c_nationkey = n_nationkey
           |  ORDER BY c_acctbal DESC, c_name LIMIT 2
           |) AS c
           |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin)
    }),

    // Semi-structured VARIANT path (Spark 4 parse_json/variant_get —
    // the engine-native binary JSON encoding, not string re-parsing
    // per access): extract + filter on a variant field.
    "q60_variant" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "long").as("k"))
        .where(col("k") % 7 === 0)
        .orderBy("event_id")),

    // Time-RANGE window frame: rolling 1-hour trailing sum per user
    // (RANGE bounds on epoch micros — peers with equal ts aggregate
    // identically in both engines, unlike ROWS frames).
    "q58_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"))
        .rangeBetween(-3600L * 1000000, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
        .withColumn("roll_1h", round(sum(col("value")).over(w), 4))
        .select(col("event_id"), col("user_id"), col("roll_1h"))
        .orderBy("event_id")
    }),

    // Forward as-of join: each event matched to the EARLIEST rate
    // update at or after its timestamp (left semantics — unmatched
    // events keep null). DuckDB verifies with ASOF LEFT JOIN >=.
    "q51_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"), col("value").as("rate"))
      graft.ops.AsOf.joinAsOf(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"),
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    }),

    // PII redaction: the driver corpus carries no PII by construction,
    // so contact strings are built deterministically from customer
    // INSIDE the query (both engines build the identical string — the
    // q61 date-spine pattern), then scrubbed by the fixed-order regex
    // battery with per-category audit counts.
    "q72_pii_redact" -> ((s, dir) => {
      val contact = t(s, dir, "customer").select(col("c_custkey"),
        concat(lit("reach "), col("c_name"), lit(" at user"),
          col("c_custkey").cast("string"),
          lit("@mail.example.com or +1-555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
          lit(" host 10."), (col("c_custkey") % 250).cast("string"),
          lit("."), ((col("c_custkey") * 7) % 250).cast("string"),
          lit(".42 ok")).as("contact"))
      contact.select(col("c_custkey"),
        graft.ops.Redact.redactPii(col("contact")).as("redacted"),
        graft.ops.Redact.emailCount(col("contact")).cast("long").as("n_email"),
        graft.ops.Redact.phoneCount(col("contact")).cast("long").as("n_phone"),
        graft.ops.Redact.ipv4Count(col("contact")).cast("long").as("n_ip"))
        .orderBy("c_custkey")
    }),

    // Per-source document cap (the domain-cap/class-balance step):
    // deterministic hash-ordered top-10 per source, portable md5 order
    // so the kept set reproduces bit-for-bit in any engine.
    "q73_source_cap" -> ((s, dir) =>
      graft.ops.Sampling.capPerStratumSeeded(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", 10, "doc_id", "v1")
        .orderBy("doc_id")),

    // BM25 ranked retrieval: Okapi scoring of a bounded query set
    // against the corpus (query terms broadcast; corpus postings
    // shuffle once). Scores rounded before ranking, id tie-break.
    "q74_bm25" -> ((s, dir) => {
      val qs = s.createDataFrame(Seq(
        (1L, "spark join fast"), (2L, "hash table scan"),
        (3L, "stream window state"))).toDF("query_id", "qtext")
      graft.ops.Bm25.topK(t(s, dir, "documents"), "doc_id", "text",
          qs, "query_id", "qtext", k = 10)
        .orderBy("query_id", "rank")
    }),

    // SemDeDup: embedding near-dup pairs restricted to IVF cells —
    // the within-cluster semantic dedup that replaces q24's all-pairs
    // at scale. Deterministic cell assignment (same as q25), rounded
    // cosine thresholding.
    "q75_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticNearDups(t(s, dir, "embeddings"), "vec_id",
          "embedding", threshold = 0.4, centroidStride = 32)
        .orderBy("doc_a", "doc_b")),

    // C4/Gopher quality-rule battery: per-rule statistic + verdict +
    // conjunction, one narrow projection (thresholds chosen to split
    // the corpus on every discriminating rule).
    "q76_quality_rules" -> ((s, dir) =>
      graft.ops.Quality.gopherFlags(t(s, dir, "documents"),
          "doc_id", "text", minTokens = 30, maxTokens = 80,
          minMeanWordLen = 4.0, maxMeanWordLen = 5.0,
          maxSymbolRatio = 0.05, minStopwordHits = 2)
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("symbol_ratio"), 6).as("symbol_ratio"),
          col("stopword_hits"), col("pass_tokens"), col("pass_word_len"),
          col("pass_symbols"), col("pass_stopwords"), col("pass"))
        .orderBy("doc_id")),

    // Exact all-pairs Jaccard via prefix filtering — same result set
    // as q14 (and gated against the same oracle), sub-quadratic
    // candidate generation: prefixes hold each doc's rarest shingles,
    // so hot shingles never pair from the probe side. The exact-dedup
    // plan that survives 100x scale-up.
    "q77_jaccard_prefix" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(t(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")),

    // Corpus-trained bigram LM perplexity (CCNet/KenLM-style quality
    // signal): add-k smoothed conditional bigram model fit on the
    // corpus, each document scored by mean log-probability.
    "q78_lm_perplexity" -> ((s, dir) =>
      graft.ops.LangModel.perplexity(t(s, dir, "documents"),
          "doc_id", "text", k = 0.5)
        .orderBy("doc_id")),

    // Distributed k-means (2 Lloyd updates from a stride start): the
    // corpus-clustering primitive. Assignment is a broadcast fold (the
    // corpus never shuffles); the mean update shuffles only
    // |partitions| x k x dim partial sums.
    "q79_kmeans" -> ((s, dir) =>
      graft.ops.Cluster.kmeans(t(s, dir, "embeddings"), "vec_id",
          "embedding", centroidStride = 32, iters = 2)
        .orderBy("vec_id")),

    // Weighted PageRank over the supplier-nation → customer-nation
    // trade graph: the fact table collapses to a |nations|² edge list
    // (the 100 TB step), then 5 rank iterations touch only that.
    "q80_pagerank" -> ((s, dir) => {
      val edges = graft.ops.Graph.tradeEdges(s, dir)
      val nodes = t(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.ops.Graph.pageRank(nodes, edges, iters = 5, damping = 0.85)
        .join(broadcast(t(s, dir, "nation")),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr"))
        .orderBy("n_name")
    }),

    // Top-200 corpus vocabulary (tokenizer-training pass): one
    // partial-aggregated hash-agg; top-N is TakeOrdered; the rank
    // window runs on the 200 survivors only.
    "q81_vocab" -> ((s, dir) =>
      graft.ops.Vocab.vocabulary(t(s, dir, "documents"), "doc_id", "text",
          topN = 200)
        .orderBy("rank")),

    // Adjacent-pair frequencies — BPE merge-candidate scoring. Pairs
    // from a lead() window (one shuffle), counted with map-side
    // partial aggregation.
    "q82_bpe_pairs" -> ((s, dir) =>
      graft.ops.Vocab.pairCounts(t(s, dir, "documents"), "doc_id", "text",
          topN = 100)
        .orderBy("rank")),

    // Per-document character entropy via the single-pass CharEntropy
    // expression (the composed form would explode one row per CHARACTER
    // — |corpus chars| rows through two aggregations).
    "q83_char_entropy" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
            .as("entropy"))
        .orderBy("doc_id")),

    // Inverted index: df + total tf + bounded top-5 posting list per
    // term (the heap aggregator — no per-term group sort).
    "q84_inverted_index" -> ((s, dir) =>
      graft.ops.Vocab.invertedIndex(t(s, dir, "documents"), "doc_id",
          "text", k = 5)
        .orderBy("token")),

    // Overlapping token-window chunking (retrieval/embedding prep):
    // 50-token windows every 40 tokens. Narrow + posexplode — no
    // shuffle before the ORDER BY.
    "q85_chunking" -> ((s, dir) =>
      graft.ops.Chunking.chunkByTokens(t(s, dir, "documents"), "doc_id",
          "text", width = 50, stride = 40)
        .orderBy("doc_id", "chunk_id")),

    // Per-user bounded-window normalized EWMA over event values (the
    // keyed smoothing feature): one shuffle on user_id, O(window) fold
    // per row.
    "q86_ewma" -> ((s, dir) =>
      graft.ops.TimeSeries.ewma(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "value", alpha = 0.3, window = 20)
        .select(col("event_id"), col("user_id"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("event_id")),

    // Median/MAD robust outlier profile per event type: two median
    // passes with the bounded group stats broadcast back between them.
    "q87_robust_outliers" -> ((s, dir) =>
      graft.ops.Quality.robustOutliers(t(s, dir, "events"), "event_type",
          "value", z = 3.0)
        .select(col("event_type"), col("n"), round(col("med"), 6).as("med"),
          round(col("mad"), 6).as("mad"), col("n_outliers"))
        .orderBy("event_type")),

    // Ordered funnel signup -> click -> purchase: earliest-match
    // chaining, one user-key shuffle, per-user fold.
    "q88_funnel" -> ((s, dir) =>
      graft.ops.Funnel.funnelCounts(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("signup", "click", "purchase"))
        .orderBy("step")),

    // Weekly cohort retention over events.
    "q89_retention" -> ((s, dir) =>
      graft.ops.Cohorts.retention(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")),

    // Temperature-T=2 source rebalancing over documents (the data-
    // mixing rule): per-source keep probability sqrt(n_min-ish shape),
    // portable-hash Bernoulli gate; gated on the per-source outcome.
    "q90_temperature_resample" -> ((s, dir) =>
      graft.ops.Sampling.temperatureResample(t(s, dir, "documents"),
          "source", "doc_id", temperature = 2.0, seed = "t1")
        .groupBy(col("source"))
        .agg(max(col("n_before")).as("n_before"),
          max(col("keep_prob")).as("keep_prob"),
          count(lit(1)).as("n_after"))
        .orderBy("source")),

    // Per-node triangle counts over the derived nation trade graph
    // (degree-oriented wedge join; counts are orientation-independent,
    // so the oracle's a<b<c form cross-validates the algorithm).
    "q91_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangles(graft.ops.Graph.tradeEdges(s, dir))
        .orderBy("node")),

    // Decile binning of documents by length via exact quantile cut
    // points (no global ntile window); per-band profile.
    "q92_length_deciles" -> ((s, dir) =>
      graft.ops.Binning.quantileBins(t(s, dir, "documents"), "n_chars", 10)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy("bin"))
  ,

    // SCD2 validity intervals: collapse each user's consecutive runs
    // of an unchanged event_type (gaps-and-islands, one key shuffle).
    "q93_scd2_intervals" -> ((s, dir) =>
      graft.ops.Scd.runIntervals(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type", "ts")
        .orderBy("user_id", "valid_from")),

    // Lexical "related documents": TF-IDF sparse cosine top-3 via the
    // inverted term join over the df-capped vocabulary.
    "q94_sparse_cosine" -> ((s, dir) =>
      graft.ops.Tfidf.similarDocs(t(s, dir, "documents"), "doc_id",
          "text", maxDf = 100, k = 3)
        .orderBy("doc_id", "rank")),

    // First-order Markov transition matrix over per-user event
    // sequences (one key shuffle + bounded-state agg).
    "q95_transitions" -> ((s, dir) =>
      graft.ops.Markov.transitions(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type")
        .orderBy("from_type", "to_type")),

    // Rolling z-score anomaly flags on each user's value series
    // (trailing 20-row frame, sample stddev).
    "q96_rolling_z" -> ((s, dir) =>
      graft.ops.TimeSeries.rollingZ(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "value", window = 20, z = 3.0)
        .select(col("event_id"), col("user_id"), col("zscore"),
          col("is_anomaly"))
        .orderBy("event_id")),

    // Efraimidis-Spirakis weighted sample-without-replacement: top-200
    // documents weighted by length, content-hash randomness.
    "q97_weighted_sample" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", n = 200, seed = "ws1")
        .orderBy(col("es_key").desc, col("doc_id"))),

    // BFS hop levels from nation 0 over the directed trade graph;
    // iterative frontier expansion vs the oracle's recursive CTE -
    // different algorithm, same levels.
    "q98_bfs_levels" -> ((s, dir) =>
      graft.ops.Graph.bfsLevels(
          graft.ops.Graph.tradeEdges(s, dir).select("src", "dst"),
          source = 0L, maxHops = 3)
        .select(col("node").cast("long").as("node"), col("lvl"))
        .orderBy("node")),

    // Last-touch attribution: each purchase attributed to the user's
    // most recent preceding non-purchase event type.
    "q99_attribution" -> ((s, dir) =>
      graft.ops.Funnel.lastTouch(t(s, dir, "events"), "user_id",
          Seq("ts", "event_id"), "event_type", convType = "purchase")
        .select(col("event_id"), col("user_id"), col("last_touch"))
        .orderBy("event_id")),

    // Exact global cume_dist WITHOUT the single-partition sort window:
    // per-value counts + cumulative window over the reduced distinct-
    // value frame + broadcast join back.
    "q100_percentile_rank" -> ((s, dir) =>
      graft.ops.Binning.percentileRanks(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars")
        .select(col("doc_id"), col("n_chars"), col("cume_dist"))
        .orderBy("doc_id")),

    // Equi-width 20-band histogram of event values.
    "q101_histogram" -> ((s, dir) =>
      graft.ops.Binning.histogram(t(s, dir, "events"), "value", nBins = 20)
        .orderBy("bin")),

    // UNPIVOT (wide -> long): lineitem measures melt into
    // (metric, value) rows - the native unpivot API, no union-of-selects.
    "q109_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 97 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity").cast("double").as("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // Hourly spine gap-fill with forward fill (the timeseries
    // interpolation op): a generated per-user hourly spine left-joins
    // observed means, missing hours carry the last seen value.
    "q110_gap_fill" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id") % 199 === 0)
      val hourly = ev.groupBy(col("user_id"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(round(avg(col("value")), 6).as("v"))
      val bounds = ev.groupBy(col("user_id"))
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
      val spine = bounds.select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "hour"), "left")
        .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
        .withColumn("observed", col("v").isNotNull)
        .select(col("user_id"), col("hour"), col("filled"), col("observed"))
        .orderBy("user_id", "hour")
    }),

    // Snapshot diff: old = documents minus every 11th doc; new = all
    // docs with every 13th uppercased -> added/removed/changed rows.
    "q108_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val oldSnap = d.where(col("doc_id") % 11 =!= 0)
      val newSnap = d.withColumn("text",
        when(col("doc_id") % 13 === 0, upper(col("text")))
          .otherwise(col("text")))
      graft.ops.Quality.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Text normalization (lower, collapse whitespace, trim) with a
    // portable content hash of the normalized form.
    "q106_normalize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          lower(trim(regexp_replace(col("text"), "\\s+", " ")))
            .as("norm_text"))
        .select(col("doc_id"), md5(col("norm_text")).as("norm_hash"),
          length(col("norm_text")).cast("long").as("norm_len"))
        .orderBy("doc_id")),

    // Near-dup survivorship: transitive LSH clusters keep their
    // highest-quality member (longest doc, ties to min id).
    "q107_survivorship" -> ((s, dir) =>
      graft.ops.CorpusClean.canonicalize(
          t(s, dir, "documents").select(col("doc_id"), col("text"),
            col("n_chars")),
          "doc_id", "text", "n_chars")
        .orderBy("component")),

    // END-TO-END composite gate: the full corpus-cleaning pipeline
    // (exact dedup -> quality/lang gates -> MinHash-LSH near-dedup with
    // transitive min-label clustering) in one hash-gated query.
    "q105_corpus_clean" -> ((s, dir) =>
      graft.ops.CorpusClean.clean(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        .select(col("doc_id"))
        .orderBy("doc_id")),

    // OHLC 6-hour resampling bars per user: one hash agg, endpoint
    // values via min_by/max_by (no per-bar sort).
    "q104_ohlc_bars" -> ((s, dir) =>
      graft.ops.TimeSeries.ohlcBars(t(s, dir, "events"), "user_id",
          "ts", "value", barSeconds = 21600L)
        .orderBy("user_id", "bar_start")),

    // Window aggregates Spark lacks natively (DISTINCT-in-window,
    // median-in-window), re-expressed as frame-array expressions.
    "q103_window_rewrites" -> ((s, dir) =>
      graft.ops.TimeSeries.rollingDistinctMedian(t(s, dir, "events"),
          "user_id", Seq("ts", "event_id"), "event_type", "value",
          window = 20)
        .select(col("event_id"), col("user_id"), col("n_distinct"),
          col("rolling_median"))
        .orderBy("event_id")),

    // Array higher-order-function pack: filter/transform/sort/slice
    // lambdas stay narrow per-row expressions (no explode round-trip).
    "q102_hof_pack" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("__w"))
        .select(col("doc_id"),
          size(filter(col("__w"), w => length(w) > 4)).as("n_long"),
          concat_ws(",", slice(array_sort(array_distinct(
            transform(filter(col("__w"), w => length(w) > 4), w => upper(w)))),
            1, 5)).as("top5_long"),
          size(filter(col("__w"), w => w.rlike("^[0-9]+$"))).as("n_numeric"),
          round(aggregate(transform(col("__w"),
              w => length(w).cast("double")),
            lit(0.0), (acc, x) => acc + x,
            acc => acc / size(col("__w"))), 6).as("mean_len"))
        .orderBy("doc_id")),

    // As-of NEAREST: closer of the backward/forward effective rows,
    // ties to backward — completes the q31/q51 direction matrix. Same
    // one-shuffle union+window shape; DuckDB cross-validates with two
    // ASOF joins + an interval comparison (a different algorithm).
    "q111_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"), col("value").as("rate"))
      graft.ops.AsOf.joinAsOf(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"),
          direction = "nearest")
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    }),

    // Hybrid retrieval: BM25 and TF-IDF-cosine top-20 lists fused by
    // reciprocal-rank fusion (both rankers broadcast the query set;
    // the fusion join is bounded at |queries| x k).
    "q112_hybrid_rrf" -> ((s, dir) => {
      val qs = s.createDataFrame(Seq(
        (1L, "spark join fast"), (2L, "hash table scan"),
        (3L, "stream window state"))).toDF("query_id", "qtext")
      graft.ops.Retrieval.hybridTopK(t(s, dir, "documents"), "doc_id",
          "text", qs, "query_id", "qtext", kPerLeg = 20, k = 10)
        .orderBy("query_id", "rank")
    }),

    // Deterministic round-robin source interleave (the data-mixing
    // ORDER): per-source seeded-hash shuffle rank, global position
    // (rn-1)*K + sourceIdx — a total order with NO global window.
    "q113_interleave" -> ((s, dir) =>
      graft.ops.Sampling.interleaveBySource(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", "v1")
        .select(col("doc_id"), col("source"), col("rn"), col("pos"))
        .orderBy("pos")),

    // Leakage-safe split: every member of a transitive LSH near-dup
    // cluster lands in the same train/val/test split (split key =
    // cluster representative, portable md5 bucketing).
    "q114_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      Dedup.leakageSafeSplit(docs.select(col("doc_id")), "doc_id",
          pairs, valFrac = 0.1, testFrac = 0.1, seed = "v1")
        .select(col("doc_id"), col("group_id"), col("split"))
        .orderBy("doc_id")
    }),

    // Per-document 5-gram novelty vs all earlier documents (first-
    // occurrence contribution scoring; near-dup late arrivals -> 0).
    "q115_novelty" -> ((s, dir) =>
      Dedup.noveltyScores(t(s, dir, "documents"), "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          col("novelty"))
        .orderBy("doc_id")),

    // Point-in-time feature aggregation (the feature-store join,
    // leakage-free by construction): for every purchase, that user's
    // click count/value over the strictly-preceding 24h — a RANGE
    // window on epoch seconds, ONE user-key shuffle, no self-join,
    // no row explosion (the naive time-range self-join is O(events x
    // window) at 100 TB; the frame walk is O(events)).
    "q116_pit_features" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("__sec"))
        .rangeBetween(-86400L, -1L)
      t(s, dir, "events")
        .withColumn("__sec", unix_timestamp(col("ts")))
        .withColumn("n_clicks_24h",
          count(when(col("event_type") === "click", 1)).over(w))
        .withColumn("sum_clicks_24h",
          round(coalesce(sum(when(col("event_type") === "click",
            col("value"))).over(w), lit(0.0)), 6))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("n_clicks_24h"),
          col("sum_clicks_24h"))
        .orderBy("event_id")
    }),

    // Salted two-phase aggregation over a pathologically hot key set
    // (3 return flags across all of lineitem): each key splits over 32
    // content-derived salt buckets before the final re-aggregation, so
    // no single reducer owns a whole hot key — gated equal to the
    // plain one-phase GROUP BY it replaces.
    "q117_skew_salted" -> ((s, dir) =>
      graft.ops.Skew.saltedAgg(t(s, dir, "lineitem"), Seq("l_returnflag"),
          col("l_orderkey"), buckets = 32,
          Map(
            "n" -> (((c: org.apache.spark.sql.Column) => count(c),
              (c: org.apache.spark.sql.Column) => sum(c))),
            "sum_qty" -> (((c: org.apache.spark.sql.Column) => sum(c),
              (c: org.apache.spark.sql.Column) => sum(c)))),
          "l_quantity")
        .select(col("l_returnflag"), col("n"),
          round(col("sum_qty"), 4).as("sum_qty"))
        .orderBy("l_returnflag")),

    // Per-group winsorized robust aggregates: values clamp to the
    // group's [p05, p95] band before summing — one bounded quantile
    // agg broadcast back, narrow clamp, no extra shuffle.
    "q118_winsorize" -> ((s, dir) =>
      graft.ops.Binning.winsorize(t(s, dir, "events"), "event_type",
          "value", lo = 0.05, hi = 0.95)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value_w")), 6).as("sum_w"),
          round(avg(col("value_w")), 6).as("mean_w"))
        .orderBy("event_type")),

    // Windowed PMI collocations over the corpus (word2vec statistic):
    // pair generation via positional equi-joins, top-50 by PMI.
    "q119_pmi" -> ((s, dir) =>
      graft.ops.Vocab.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
          window = 2, minPairCount = 5, k = 50)
        .orderBy("rank")),

    // CAPSTONE composite: the full training-data prep in ONE gated
    // query — exact dedup -> quality/lang gates -> LSH near-dedup
    // (0.8 losers dropped) -> leakage-safe split (0.5-clusters share a
    // split) -> per-split token-budget shards. The LSH pipeline runs
    // ONCE: candidates are threshold-independent, so the 0.8 drop and
    // the 0.5 split clusters filter the same verified pair set.
    "q120_training_prep" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val cfg = graft.ops.CorpusClean.Config()
      // gated feeds the LSH pipeline (which scans it three times:
      // signatures + both verification sides) AND the loser anti-join;
      // pairs feeds the CC loop and the split-pair semi-joins. Both
      // checkpoint-truncated so the exact-dedup window + quality gates
      // and the LSH+verify pipeline each run ONCE — un-materialized,
      // Catalyst re-derives the whole subtree per consumer.
      val gated = graft.etl.Checkpoints.truncate(
        graft.ops.CorpusClean.gate(
          Dedup.dropExactDuplicates(docs, "doc_id", "text"),
          "doc_id", "text", cfg))
      val pairs = graft.etl.Checkpoints.truncate(
        Dedup.minhashNearDups(gated, "doc_id", "text",
          n = cfg.shingleSize, threshold = 0.5))
      val losers = Dedup.nearDupLosers(
          pairs.where(col("jaccard") >= cfg.nearDupThreshold))
        .withColumnRenamed("id", "doc_id")
      val cleaned = gated.join(losers, Seq("doc_id"), "left_anti")
      val cleanedIds = cleaned.select(col("doc_id"))
      val splitPairs = pairs
        .join(cleanedIds.withColumnRenamed("doc_id", "doc_a"),
          Seq("doc_a"), "left_semi")
        .join(cleanedIds.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b"), "left_semi")
      val split = Dedup.leakageSafeSplit(cleanedIds, "doc_id", splitPairs,
        valFrac = 0.1, testFrac = 0.1, seed = "v1")
      // REAL token counts: the pinned BPE tokenizer (q126's merge
      // table), not the whitespace proxy — shard budgets now mean
      // actual subword tokens. Narrow expression, still no shuffle.
      val withTok = split.join(
        cleaned.select(col("doc_id"),
          size(graft.expressions.BpePieces(col("text"), PinnedBpeMerges))
            .cast("long").as("n_tokens")),
        "doc_id")
      graft.ops.Packing.packByBudget(withTok, "doc_id", "n_tokens", 4096L,
          expr("doc_id div 100"), partitionCols = Seq("split"))
        .select(col("doc_id"), col("group_id"), col("split"),
          col("n_tokens"), col("shard"))
        .orderBy("doc_id")
    }),

    // GPT-2-style regex pre-tokenization (RE2-compatible subset so the
    // IDENTICAL pattern runs in both engines): per-doc piece count and
    // an md5 over the exact piece sequence — a bit-level tokenizer-
    // fidelity gate, narrow projection only.
    "q121_pretokenize" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.preTokens(col("text")).as("__p"))
        .select(col("doc_id"),
          size(col("__p")).cast("long").as("n_pieces"),
          md5(concat_ws("\u0001", col("__p"))).as("piece_hash"))
        .orderBy("doc_id")),

    // Recency-weighted user activity: exponentially time-decayed click
    // value per user, 7-day half-life, reference = the frame's own max
    // timestamp (1-row broadcast; deterministic, never wall-clock).
    "q122_decayed_sum" -> ((s, dir) =>
      graft.ops.TimeSeries.decayedSum(
          t(s, dir, "events").where(col("event_type") === "click"),
          "user_id", "ts", "value", halfLifeSeconds = 604800.0)
        .orderBy("user_id")),

    // Distribution-drift detection: two-sample KS statistic between
    // two document sources over n_chars (per-value counts once, CDFs
    // over the reduced distinct-value frame, 1-row argmax).
    "q123_ks_drift" -> ((s, dir) =>
      graft.ops.Quality.ksStatistic(t(s, dir, "documents"),
        "n_chars", "source", "src0", "src1")),

    // Categorical drift (chi-squared homogeneity + PSI) of the
    // event-type mix between even and odd user cohorts.
    "q124_categorical_drift" -> ((s, dir) =>
      graft.ops.Quality.categoricalDrift(
        t(s, dir, "events").withColumn("grp",
          when(col("user_id") % 2 === 0, "even").otherwise("odd")),
        "event_type", "grp", "even", "odd")),

    // Raw-web entry gate: plant HTML markup (script/style bodies,
    // comments, tags, entities, zero-width chars) on every 3rd doc and
    // decomposed Unicode (combining acute) on another third, then
    // strip + NFC-normalize — gating the full stripMarkup chain and
    // the NormalizeUnicode expression byte-for-byte vs DuckDB's
    // regexp_replace/nfc_normalize. All narrow projections, no shuffle.
    "q125_strip_markup" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(
              lit("<html><head><style>p { color: red; }</style>" +
                "<script type=\"text/javascript\">var x = 1 < 2;" +
                "</script></head><body class=\"main\">" +
                "<!-- boilerplate --><p>"),
              col("text"),
              lit("</p><br/>Tom &amp; Jerry &lt;3 &quot;quoted&quot; " +
                "&#39;s&nbsp;end\u200B\uFEFF</body></html>")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" cafe\u0301 re\u0301sume\u0301")))
          .otherwise(col("text")).as("t"))
      val clean = graft.functions.TextFunctions.normalizeNfc(
        graft.functions.TextFunctions.stripMarkup(col("t")))
      planted
        .select(col("doc_id"), md5(clean).as("clean_hash"),
          length(clean).cast("long").as("clean_len"))
        .orderBy("doc_id")
    }),

    // BPE ENCODING with the pinned merge table: real subword token
    // counts + an md5 over the space-joined piece sequence — gating the
    // BpePieces expression (greedy rank-order application, per-word
    // memo) against DuckDB's replace-fold mirror generated from the
    // SAME table. Narrow single-pass, no shuffle.
    "q126_bpe_encode" -> ((s, dir) =>
      graft.ops.Vocab.bpeEncode(t(s, dir, "documents"),
          "doc_id", "text", PinnedBpeMerges)
        .select(col("doc_id"), col("n_tokens"),
          md5(concat_ws(" ", col("pieces"))).as("pieces_hash"))
        .orderBy("doc_id")),

    // Substring-level duplicate spans (hash-approximate suffix-array
    // dedup, Lee et al. 2022): every positional token 8-gram is hashed
    // to a 64-bit key (collision-free in practice, so the oracle's
    // independent 60-bit md5 keying agrees), grams occurring >= 2
    // times corpus-wide mark their positions, and
    // overlapping-or-adjacent hits merge into maximal spans in one
    // per-doc gaps-and-islands window. Long-only shuffles, one hash
    // agg on the gram key, one bounded per-doc window — no all-pairs
    // surface anywhere.
    "q127_dup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
          n = 8, minOccurrences = 2)
        .orderBy("doc_id", "span_start")),

    // The removal leg: duplicated spans stripped, survivors
    // reassembled in token order (empty string when the whole doc was
    // duplicated) — the substring-level complement of document-level
    // dropExactDuplicates and paragraph-level stripBoilerplate.
    "q128_span_strip" -> ((s, dir) =>
      Dedup.stripDuplicateSpans(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", n = 8, minOccurrences = 2)
        .select(col("doc_id"), col("text").as("clean_text"))
        .orderBy("doc_id")),

    // Product-quantization ANN (Jegou et al. 2011): 8 subspaces x
    // 16-entry hash-seeded codebooks compress each 64-float vector to
    // 8 codes (32x); queries rank by asymmetric distance — exact
    // subspace distances to each codebook entry collapse into one
    // broadcast LUT row per query, every corpus row costs 8 array
    // lookups and never decompresses. Deterministic end-to-end
    // (hash-ranked seeds, 9-digit argmin rounding, id tie-breaks), so
    // the full train->encode->ADC chain mirrors in DuckDB.
    "q129_pq_topk" -> ((s, dir) =>
      graft.ops.Pq.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, m = 8, ksub = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")),

    // Extended PII scrub (q72's contract widened to SSN / payment-card
    // / US-domestic phone): per-category audit counts on the raw text
    // + md5 of the fully-redacted text gating the whole 6-pattern
    // replace chain. Narrow codegen'd projection, rides the scan.
    "q130_pii_full" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" ssn 219-09-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" end")))
          .when(col("doc_id") % 5 === 1,
            concat(lit("card 4111 1111 1111 "),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or 4012888888881881 "), col("text")))
          .when(col("doc_id") % 5 === 2,
            concat(lit("call (555) 867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or 555-867-1234 "), col("text")))
          .when(col("doc_id") % 5 === 3,
            concat(col("text"), lit(" mail user"),
              col("doc_id").cast("string"),
              lit("@mail.example.com from 10.1."),
              (col("doc_id") % 250).cast("string"), lit(".42")))
          .otherwise(col("text")).as("t"))
      planted.select(col("doc_id"),
          graft.ops.Redact.ssnCount(col("t")).cast("long").as("n_ssn"),
          graft.ops.Redact.cardCount(col("t")).cast("long").as("n_card"),
          graft.ops.Redact.usPhoneCount(col("t")).cast("long")
            .as("n_us_phone"),
          graft.ops.Redact.emailCount(col("t")).cast("long").as("n_email"),
          md5(graft.ops.Redact.redactPiiFull(col("t")))
            .as("redacted_hash"))
        .orderBy("doc_id")
    }),

    // URL canonicalization + provenance keys: scheme/host lowercased,
    // default ports dropped, tracking params (utm_*/gclid/fbclid)
    // removed with surviving params in original order, fragment
    // dropped; host + naive registrable domain as per-site keys; a
    // malformed leg canonicalizes to NULL (visible, not passed
    // through). Pure regex projections — the whole op rides the scan.
    "q131_url_canon" -> ((s, dir) => {
      val u = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTPS://WWW.Example-"),
              (col("doc_id") % 20).cast("string"),
              lit(".COM:443/Docs/"), col("doc_id").cast("string"),
              lit("?utm_source=rss&id="), (col("doc_id") % 7).cast("string"),
              lit("&utm_medium=email&page=2#frag")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("http://news.site"), (col("doc_id") % 9).cast("string"),
              lit(".org:8080/a/"), (col("doc_id") % 5).cast("string")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("https://cdn.media"), (col("doc_id") % 5).cast("string"),
              lit(".net/img"), col("doc_id").cast("string"),
              lit(".jpg?gclid=abc123")))
          .otherwise(concat(lit("not a url "), col("doc_id").cast("string")))
          .as("url"))
      u.select(col("doc_id"),
          graft.ops.Urls.canonicalizeUrl(col("url")).as("canon_url"),
          graft.ops.Urls.urlHost(col("url")).as("host"),
          graft.ops.Urls.registrableDomain(graft.ops.Urls.urlHost(col("url")))
            .as("domain"))
        .orderBy("doc_id")
    }),

    // DSIR importance weights (Xie et al. 2023): per-doc unigram
    // log-likelihood ratio toward the lang='en' target slice, add-one
    // smoothed over the raw vocabulary. Token-keyed aggs + one
    // broadcast scalar attach — text never shuffles.
    "q132_dsir_weights" -> ((s, dir) =>
      graft.ops.Sampling.importanceWeights(t(s, dir, "documents"),
          "doc_id", "text", col("lang") === "en")
        .orderBy("doc_id")),

    // First-stage crawl dedup by CANONICAL URL: tracking params and
    // fragments vary per fetch, so raw-URL equality misses what
    // canonical equality catches (~10 docs collapse per page here);
    // unparseable URLs keep every row. One hash agg on the canonical
    // key — runs before any content pass at 100 TB.
    "q133_url_dedup" -> ((s, dir) => {
      val u = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3,
            concat(lit("no url "), col("doc_id").cast("string")))
          .otherwise(concat(lit("HTTPS://Site"),
            (col("doc_id") % 10).cast("string"), lit(".COM/page/"),
            (col("doc_id") % 50).cast("string"), lit("?utm_campaign=c"),
            col("doc_id").cast("string"), lit("#s"),
            (col("doc_id") % 3).cast("string"))).as("url"))
      graft.ops.Urls.dedupByCanonicalUrl(u, "doc_id", "url")
        .orderBy("doc_id")
    }),

    // Mixture resampling toward target source proportions (the corpus
    // assembly/mixing step): feasible-max downsample-only rates from a
    // bounded source registry, portable md5 hash gate per row — kept
    // set reproducible in any engine, corpus never shuffles.
    "q134_mixture_sample" -> ((s, dir) =>
      graft.ops.Sampling.mixtureSample(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2), "v1")
        .select(col("doc_id"), col("source"), col("keep_rate"))
        .orderBy("doc_id")),

    // C4-style line-level cleaning: minimum words, terminal
    // punctuation, curly-brace and boilerplate-phrase tells — one
    // higher-order filter over the line array per row, no
    // explode/groupBy round-trip, rides the scan.
    "q135_line_filter" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(".\n"),
            lit("short line\n"),
            lit("This line is long enough to keep.\n"),
            lit("Lorem Ipsum dolor sit amet.\n"),
            lit("if (x) { return y; }\n"),
            lit("Is this kept? Yes it is!")).as("text"))
      graft.ops.CorpusClean.filterLines(planted, "text")
        .select(col("doc_id"), md5(col("text")).as("clean_hash"),
          length(col("text")).cast("long").as("clean_len"))
        .orderBy("doc_id")
    }),

    // D4 prototypicality pruning: drop the quarter of each embedding
    // cluster closest to its centroid (most prototypical), keep the
    // diverse tail. Broadcast-fold assignment + one per-cluster rank
    // window — deterministic end-to-end, mirrored in DuckDB.
    "q136_proto_prune" -> ((s, dir) =>
      graft.ops.Cluster.prototypicalityPrune(t(s, dir, "embeddings"),
          "vec_id", "embedding", 32, 0.25)
        .orderBy("vec_id")),

    // Hard-negative mining for contrastive training: per anchor, the
    // 5 most-similar vectors with a DIFFERENT label (null-safe).
    // Anchor batch broadcasts; corpus streams once, never shuffles.
    "q137_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", col("vec_id") < 8, k = 5)
        .orderBy("anchor_id", "rank")),

    // JL sign random projection 64->16: deterministic md5 ±1 matrix as
    // a plan-time literal, one codegen'd dot product per output dim —
    // zero shuffle; the corpus projects in a single map pass.
    "q138_random_projection" -> ((s, dir) =>
      Similarity.signRandomProjection(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, outDim = 16)
        .orderBy("vec_id", "dim_idx")),

    // MMR diversified top-k: greedy λ·rel − (1−λ)·max-sim-to-selected
    // re-rank over a 30-candidate pool, all queries advancing together
    // (one distributed argmax per greedy step, k steps total).
    // λ = 0.75: binary-exact, so both engines score identically.
    "q139_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(t(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 3, poolSize = 30, k = 8, lambda = 0.75)
        .orderBy("query_id", "sel_rank")),

    // Cross-corpus fuzzy join: a synthetic "fresh crawl" (40% of docs,
    // half verbatim, half with a trailing mutation) matched against
    // the standing corpus — bipartite LSH buckets, exact-Jaccard
    // verified, never within-side and never all-pairs.
    "q140_fuzzy_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val right = docs.where(col("doc_id") % 5 < 2)
        .select((col("doc_id") + 100000).as("doc_id"),
          when(col("doc_id") % 5 === 1,
            concat(col("text"), lit(" graft variant marker tokens")))
          .otherwise(col("text")).as("text"))
      Dedup.fuzzyJoin(docs, "doc_id", "text", right, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("left_id"), col("right_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("left_id", "right_id")
    }),

    // Simplified silhouette per cluster: (b−a)/b from ONE two-minima
    // broadcast fold over the centroid array — the quadratic full
    // silhouette replaced by the point×centroid form that scales.
    "q141_silhouette" -> ((s, dir) =>
      graft.ops.Cluster.silhouette(t(s, dir, "embeddings"), "vec_id",
          "embedding", centroidStride = 32)
        .orderBy("cent_id")),

    // Exact positional phrase search: postings pruned to the phrase
    // vocabulary BEFORE the position-shift equi-joins — the corpus
    // token stream never reaches a shuffle.
    "q142_phrase_search" -> ((s, dir) =>
      graft.ops.Retrieval.phraseSearch(t(s, dir, "documents"), "doc_id",
          "text", "stream table hash")
        .orderBy("doc_id")),

    // The q52 range join expressed as PLAIN declarative SQL — no
    // RangeJoin call: the BucketedRangeJoin optimizer rule rewrites
    // the inequality join into the bucketed equi-join automatically
    // (width conf = the window length). Runs in a child session so
    // the rule's width conf cannot leak into other queries' plans;
    // RangeJoinSpec asserts the rewritten plan shape (Generate +
    // hash join, no nested loop).
    "q143_rule_range_join" -> ((s, dir) => {
      val s2 = s.newSession()
      GraftExtensions.register(s2)
      s2.conf.set(graft.rules.BucketedRangeJoin.WidthConf,
        (2L * 3600 * 1000000).toString)
      t(s2, dir, "events").createOrReplaceTempView("rr_events")
      s2.sql(
        """WITH wins AS (
          |  SELECT user_id, event_id AS win_id, unix_micros(ts) AS w_start,
          |         unix_micros(ts) + 7200000000 AS w_end
          |  FROM (SELECT user_id, ts, event_id,
          |          ROW_NUMBER() OVER (PARTITION BY user_id, to_date(ts)
          |                             ORDER BY ts, event_id) AS rn
          |        FROM rr_events) WHERE rn = 1
          |)
          |SELECT w.win_id, e.event_id
          |FROM rr_events e JOIN wins w
          |  ON e.user_id = w.user_id AND unix_micros(e.ts) >= w.w_start
          | AND unix_micros(e.ts) <= w.w_end
          |ORDER BY 1, 2""".stripMargin)
    }),

    // The q53 interval-overlap join as PLAIN SQL, auto-rewritten by
    // BucketedRangeJoin's overlap pattern (both sides explode onto
    // covering buckets; each pair emits only from the later start's
    // bucket — no dedup shuffle).
    "q144_rule_interval_overlap" -> ((s, dir) => {
      val s2 = s.newSession()
      GraftExtensions.register(s2)
      s2.conf.set(graft.rules.BucketedRangeJoin.WidthConf,
        (20L * 3600 * 1000000).toString)
      t(s2, dir, "events").createOrReplaceTempView("ro_events")
      s2.sql(
        """WITH wins AS (
          |  SELECT user_id, event_id AS win_id, unix_micros(ts) AS s,
          |         unix_micros(ts) + 72000000000 AS e
          |  FROM (SELECT user_id, ts, event_id,
          |          ROW_NUMBER() OVER (PARTITION BY user_id, to_date(ts)
          |                             ORDER BY ts, event_id) AS rn
          |        FROM ro_events) WHERE rn = 1
          |)
          |SELECT a.win_id AS win_a, b.win_id AS win_b
          |FROM wins a JOIN wins b
          |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
          | AND a.win_id < b.win_id
          |ORDER BY 1, 2""".stripMargin)
    }),

    // Ranking-evaluation metrics (recall@10 / precision@10 / MRR /
    // graded nDCG@10): a deterministic tf ranker per query term,
    // graded relevance = min(tf, 3) — the measurement leg before a
    // ranker's output feeds curation or hard-negative mining.
    "q145_ranking_metrics" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = s.createDataFrame(Seq(
        (1L, "spark"), (2L, "hash"), (3L, "window"))).toDF("query_id", "term")
      val tf = docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .join(broadcast(q), col("tok") === col("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val ranked = tf.withColumn("rank",
          row_number().over(Window.partitionBy(col("query_id"))
            .orderBy(col("tf").desc, col("doc_id"))))
        .where(col("rank") <= 20)
      val rels = tf.select(col("query_id"), col("doc_id"),
        least(col("tf"), lit(3L)).as("rel"))
      graft.ops.Eval.rankingMetrics(ranked, rels,
          "query_id", "doc_id", "rank", "rel", k = 10)
        .orderBy("query_id")
    }),

    // Watermarked streaming dedup under simulated at-least-once
    // redelivery: the events path read as TWO unioned file streams
    // (every event arrives twice), dropDuplicatesWithinWatermark on
    // event_id — the emitted set must be exactly the original events.
    "q147_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .dedupedEvents(s, s"$dir/events.parquet")
        .orderBy("event_id")),

    // Event-time-timeout sessionization (flatMapGroupsWithState) run
    // to completion: every closed session — mid-stream closes on the
    // 30-min gap plus each user's final session when the watermark
    // passes its horizon. Millisecond-precision times (the Event
    // carrier's contract), mirrored by the oracle.
    "q148_stream_sessions" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .closedSessions(s, s"$dir/events.parquet", gapSeconds = 1800)
        .orderBy("user_id", "session_start")),

    // NATIVE session_window streaming aggregation (vs q148's
    // hand-rolled state machine): full µs precision, window end =
    // last event + gap; append mode emits watermark-closed sessions.
    "q149_stream_session_window" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .sessionWindows(s, s"$dir/events.parquet", "30 minutes")
        .orderBy("user_id", "session_start")),

    // Native session_window in BATCH: same µs-precision windows as
    // q149 without the watermark cut — the complete session set.
    "q150_session_window_batch" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")),

    // Cohen's κ between the dataset's lang label and the n-gram langId
    // prediction — chance-corrected label/classifier agreement, the
    // label-QA gate a curation pipeline runs before trusting either.
    "q146_label_agreement" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("lang"),
        graft.functions.TextFunctions.langId(
          graft.functions.TextFunctions.tokens(col("text"))).as("pred"))
      graft.ops.Eval.cohenKappa(pred, "lang", "pred")
    }),

    // Multimodal pipeline END-TO-END: deterministic planted PNG fixture
    // → real ImageIO decode → area-average resample → 64-bit dHash →
    // byte-band bucket join for near-dups (never all-pairs). Output is
    // one row per image (phash + near-dup partner count); the oracle
    // replays the pairing by brute force over the FROZEN hash values,
    // so both the decode→hash leg and the banded pairing are gated.
    // sfDir-independent fixture: one oracle serves every scale.
    "q151_multimodal_neardup" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.plantedMediaFixture(s)
      val hashes = graft.multimodal.Multimodal.imageHashes(media)
      val pairs = graft.multimodal.Multimodal.imageNearDups(media, maxHamming = 4)
      val partners = pairs.select(col("media_a").as("media_id"))
        .unionAll(pairs.select(col("media_b").as("media_id")))
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_dups"))
      hashes.join(partners, Seq("media_id"), "left")
        .select(col("media_id"), col("phash"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"))
        .orderBy("media_id")
    }),

    // Hot-key join under MANUAL salting: every lineitem row hits one of
    // THREE join keys (l_returnflag) — the maximal-skew shape where a
    // plain shuffle join puts a third of the fact on one reducer.
    // Skew.saltedJoin splits each hot key across 8 content-derived
    // salt buckets and replicates the (broadcast-small) dim per
    // bucket; the oracle is the PLAIN join — salting must be invisible
    // in the result. Integer-valued weights/quantities keep the sum
    // exact in double, so the gate is order-independent. (The AQE
    // runtime skew-split alternative is plan-asserted in
    // PlanQualitySpec on the same shape.)
    "q152_skew_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").as("qty"), col("l_orderkey"))
      val dim = s.createDataFrame(Seq(("A", 2L), ("N", 3L), ("R", 5L)))
        .toDF("flag", "weight")
      graft.ops.Skew.saltedJoin(li, dim, "flag", buckets = 8,
          saltOn = col("l_orderkey"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"),
          sum(col("qty") * col("weight")).as("weighted"))
        .orderBy("flag")
    }),

    // q147's streaming dedup run ACROSS A CHECKPOINT RESTART (stop
    // after the first time-half, resume from the same checkpoint on
    // the second): the union of both runs' emissions must hash-match
    // the SAME oracle as the single run — exactly-once across restart
    // as an oracle gate, not just a spec.
    "q153_stream_dedup_restart" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .dedupedEventsRestarted(s, s"$dir/events.parquet")
        .orderBy("event_id")),

    // q149's native session_window across the same kill-and-resume
    // protocol: sessions spanning the split survive in the state
    // store and emit ONCE with their full extent after the restart.
    "q154_session_restart" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .sessionWindowsRestarted(s, s"$dir/events.parquet", "30 minutes")
        .orderBy("user_id", "session_start")),

    // The reference's ACTUAL calendar business case (its notebook loads
    // a real market calendar whose holiday flags drive the working-day
    // filter — not the Mon–Fri reconstruction): q01's weekly compound
    // against a LOADED CSV calendar with two planted mid-week holidays
    // (Mon 2024-01-15, Wed 2024-01-24). Returns on holiday dates must
    // drop out of their week's compound on both engines; the oracle
    // reads the SAME CSV. Exercises Calendar.load's real-CSV path
    // (schema normalization + preserved holiday flags) end-to-end.
    "q155_holiday_calendar" -> ((s, dir) => {
      val cal = Calendar.load(s, "/root/repo/fixtures/market_calendar_2024.csv")
      val daily = Calendar.filterWorkingDays(dailyReturns(s, dir), "mdate", cal)
      Returns.weeklyReturns(daily, "fund_id", "rtype", "mdate", "r")
        .withColumn("weekly_return", round(col("weekly_return"), 6))
        .orderBy("fund_id", "rtype", "year_week")
    }),

    // Asymmetric shingle containment over the gate-shape LSH
    // candidates: subsumption detection (quotes/boilerplate/excerpts)
    // where Jaccard under-reports — |sh(A)∩sh(B)|/|sh(A)| per
    // direction, pair kept when either clears 0.8. No length-ratio
    // prune: the size gap IS the signal.
    "q156_containment" -> ((s, dir) =>
      graft.ops.Dedup.containmentPairs(t(s, dir, "documents"),
          "doc_id", "text", n = 3, minContainment = 0.8)
        .orderBy("doc_a", "doc_b")),

    // Corpus snapshot diff — the incremental-curation primitive: a
    // deterministically derived "next crawl" (every 37th id removed,
    // every 11th revised, every 53rd re-added under a new id) diffed
    // against the standing snapshot via a full-outer id join over
    // map-side content hashes; only (id, hash) ever shuffles.
    "q157_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      graft.ops.Snapshots.corpusDiff(docs, next, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The incremental-curation pipeline END-TO-END: q157's snapshot
    // delta (added ∪ changed — the work-list, ~12% of the corpus) is
    // the ONLY thing that re-enters near-dup checking, fuzzy-joined
    // bipartite against the standing corpus. Revised docs rejoin
    // their originals (high Jaccard), re-labeled copies rejoin at 1.0
    // — the full-recrawl dedup collapses to a delta × corpus band
    // join, the entire point of snapshot diffing at 100 TB.
    "q158_incremental_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val delta = graft.ops.Snapshots.changedDocs(docs, next, "doc_id", "text")
      Dedup.fuzzyJoin(delta, "doc_id", "text", docs, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("left_id"), col("right_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("left_id", "right_id")
    }),

    // The q112 hybrid ranker SERVED from a persisted index — the
    // steady-state read path (build once, serve batches): the index
    // (token-sorted postings + df + doc norms + corpus stats,
    // Retrieval.writeHybridIndex) is prebuilt once per JVM
    // (PrebuiltState — creation is priced by q112's inline build and
    // reported separately in BASELINE.md), and the gate measures pure
    // serving: pushed-down query-term reads, zero corpus-side
    // aggregation. The oracle is IDENTICAL to q112's, so the index
    // round-trip must lose nothing.
    "q159_hybrid_persisted" -> ((s, dir) => {
      val idx = graft.etl.PrebuiltState.getOrCreate(
          s"hybridIdx|$dir", "hybrid-idx") { d =>
        graft.ops.Retrieval.writeHybridIndex(
          t(s, dir, "documents"), "doc_id", "text", d, nPartitions = 8)
      }
      val qs = s.createDataFrame(Seq(
        (1L, "spark join fast"), (2L, "hash table scan"),
        (3L, "stream window state"))).toDF("query_id", "qtext")
      graft.ops.Retrieval.hybridTopKFromIndex(s, idx, "doc_id",
          qs, "query_id", "qtext", kPerLeg = 20, k = 10)
        .orderBy("query_id", "rank")
    }),

    // Stream-static broadcast enrichment run to completion: the
    // streaming analog of the batch dimension join, oracle = the plain
    // batch LEFT join (no-dim events survive with NULL category).
    "q160_stream_enrich" -> ((s, dir) =>
      graft.streaming.StreamAsBatch.enrichedEvents(s,
          s"$dir/events.parquet",
          Seq(("click", "engagement"), ("view", "engagement"),
            ("purchase", "revenue")))
        .orderBy("event_id")),

    // Stream-stream time-bounded inner join run to completion:
    // purchases within 2 hours after a signup by the same user; the
    // watermark+bound pair keeps join state evictable, and the oracle
    // is the equivalent batch inequality join.
    "q161_stream_join" -> ((s, dir) =>
      graft.streaming.StreamAsBatch.joinedWithin(s,
          s"$dir/events.parquet", "signup", "purchase", "2 hours")
        .orderBy("l_id", "r_id")),

    // Winnowing fingerprint selection (Schleimer et al., MOSS): one
    // row per selected (position, hash) — the LOCAL fingerprint with
    // the shared-substring coverage guarantee, vs the global
    // MinHash/SimHash sketches of q15/q16.
    "q162_winnow_fingerprint" -> ((s, dir) =>
      graft.ops.Winnow.selectedFingerprints(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id", "pos")),

    // MOSS-style matching over the winnowed fingerprints: pairs
    // sharing >= 15 df-capped selected hashes (a banded posting join,
    // never all-pairs; threshold sits in the measured gap between
    // word-soup noise (<= ~13 shared) and planted near-dups (>= ~19)).
    "q163_winnow_neardup" -> ((s, dir) =>
      graft.ops.Winnow.matchPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),

    // Record linkage: two-pass blocking (key prefix/suffix) + exact
    // Levenshtein verify on the normalized 64-char comparison key.
    "q164_record_linkage" -> ((s, dir) =>
      graft.ops.Linkage.linkPairs(t(s, dir, "documents"), "doc_id", "text",
          maxDist = 16)
        .orderBy("id_a", "id_b")),

    // Entity resolution end-to-end: linked pairs -> transitive
    // connected components -> min-id entity labels with member counts
    // (unlinked records are their own singleton entity).
    "q165_entity_resolution" -> ((s, dir) =>
      graft.ops.Linkage.resolveEntities(t(s, dir, "documents"), "doc_id",
          "text", maxDist = 16)
        .orderBy("doc_id")),

    // Containment-COMPLETE asymmetric join (pigeonhole prefix
    // filtering, Chaudhuri et al. 2006): derived excerpts (chars
    // 40..199 of every 17th doc) against the standing corpus — the
    // tiny-excerpt-in-huge-doc case the Jaccard-tuned LSH of q156
    // provably under-recalls. The oracle computes the UNFILTERED
    // posting join, so the hash match IS the completeness proof of
    // the prefix-filtered candidate path.
    "q166_containment_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          substring(col("text"), 40, 160).as("text"))
        .where(length(col("text")) >= 40)
      Dedup.containmentJoin(excerpts, "doc_id", "text",
          docs, "doc_id", "text", n = 3, minContainment = 0.8,
          candDfCap = 0) // opt-in completeness mode: the EXACT gate
        .orderBy("small_id", "corpus_id")
    }),

    // The CONTINUOUS-INGEST loop across a checkpoint restart, as an
    // oracle gate: even-id docs stream in as epoch 0 (clean → corpus
    // + LSH index build), the query stops, odd-id docs arrive, a new
    // query resumes from the same checkpoint as epoch 1 (clean →
    // exact hash anti-join → index query → append survivors). The
    // oracle recomputes BOTH epochs' semantics in SQL (two clean
    // chains + cross-batch exact and near dedup), so the gate holds
    // the whole lifecycle: foreachBatch exactly-once landing, index
    // build + append, and the file source's seen-files log across
    // the kill-and-resume.
    "q167_ingest_restart" -> ((s, dir) =>
      graft.streaming.CorpusIngest.ingestRestarted(s,
          s"$dir/documents.parquet")
        .orderBy("doc_id")),

    // MOSS-style aligned match spans behind q163's pairs: shared
    // df-capped fingerprints grouped by alignment offset — each row a
    // reviewable matched region (start/end in doc_a, displacement in
    // doc_b, supporting mark count).
    "q168_winnow_spans" -> ((s, dir) =>
      graft.ops.Winnow.alignedSpans(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_a", "doc_b", "a_offset", "a_start")),

    // Blocking REFINEMENT instead of dropping: level-1 blocks over
    // the (deliberately tight) cap re-block under a doubled key;
    // only still-hot level-2 blocks drop. Cap 8 fires on the real
    // corpus, so the gate exercises the sub-block path, not just the
    // pass-through.
    "q169_linkage_subblocked" -> ((s, dir) =>
      graft.ops.Linkage.linkPairsSubBlocked(t(s, dir, "documents"),
          "doc_id", "text", maxDist = 16, blockCap = 8)
        .orderBy("id_a", "id_b")),

    // Sorted-neighborhood linkage (Hernández & Stolfo): global key
    // rank WITHOUT a single-partition window (range partition +
    // per-partition offsets), rank-bucket equi-join candidates
    // (fan-out <= 2w per record), exact Levenshtein verify.
    "q170_sorted_neighborhood" -> ((s, dir) =>
      graft.ops.Linkage.sortedNeighborPairs(t(s, dir, "documents"),
          "doc_id", "text", maxDist = 16, windowSize = 10)
        .orderBy("id_a", "id_b")),

    // q158's incremental near-dup served from the PERSISTED LSH index
    // (the production lifecycle: corpus signatured once at build, the
    // recrawl delta alone queries it — O(|delta|) per epoch). The
    // oracle is IDENTICAL to q158's, so the index round-trip must
    // produce the exact same pair set as the composed fuzzyJoin.
    "q171_incremental_via_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val idx = graft.etl.Scratch.dir("inc-lsh-idx")
      // the index build and the snapshot-diff delta are independent —
      // overlapped; the query needs both
      var delta: org.apache.spark.sql.DataFrame = null
      graft.etl.Par.run(
        () => Dedup.buildLshIndex(docs, "doc_id", "text", idx, n = 3),
        () => delta = graft.etl.Checkpoints.truncate(
          graft.ops.Snapshots.changedDocs(docs, next, "doc_id", "text")))
      Dedup.lshQueryIndex(s, idx, delta, "doc_id", "text",
          threshold = 0.5, n = 3)
        .select(col("doc_b").as("left_id"), col("doc_a").as("right_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("left_id", "right_id")
    }),

    // The paper's EXACT robust winnowing (stateful tie-break across
    // windows) — inexpressible as a composed per-window projection,
    // lives only in the single-eval expression; the oracle replays
    // the selection recurrence with a per-document recursive CTE.
    "q172_winnow_robust" -> ((s, dir) =>
      graft.ops.Winnow.selectedFingerprintsRobust(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id", "pos")),

    // q166's containment join under the candidate df cap — the
    // bounded-fan-out 100 TB path (prefix shingles hotter than the
    // cap drop out of candidate generation). The deliberately tight
    // cap (2) fires on the real corpus at every SF, and the oracle
    // mirrors the rare-first rank + cap EXACTLY — gating the capped
    // semantics, not just the complete ones.
    "q173_containment_capped" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          substring(col("text"), 40, 160).as("text"))
        .where(length(col("text")) >= 40)
      Dedup.containmentJoin(excerpts, "doc_id", "text",
          docs, "doc_id", "text", n = 3, minContainment = 0.8,
          candDfCap = 2)
        .orderBy("small_id", "corpus_id")
    }),

    // Fellegi-Sunter probabilistic scoring over the q164 blocked
    // candidates: three comparison fields (key edit distance <= 4,
    // same source, same 100-char length band) with supplied m/u
    // probabilities; summed log2 weights classify match / possible /
    // non_match against thresholds 4.0 / 0.0.
    "q174_fellegi_sunter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // attributes ride the block join (carry) — FS scoring is one
      // pass over candidates, no join-backs re-shuffling the pair set
      val pairs = graft.ops.Linkage.linkPairs(docs, "doc_id", "text",
        maxDist = 16, carry = Seq("source", "n_chars"))
      graft.ops.Linkage.fellegiSunter(pairs, Seq(
          graft.ops.Linkage.FsField("key_close",
            col("dist") <= 4, m = 0.9, u = 0.05),
          graft.ops.Linkage.FsField("same_source",
            col("source_a") === col("source_b"), m = 0.7, u = 0.05),
          graft.ops.Linkage.FsField("len_band",
            floor(col("n_chars_a") / lit(100.0))
              === floor(col("n_chars_b") / lit(100.0)),
            m = 0.8, u = 0.1)),
          upper = 4.0, lower = 0.0)
        .select(col("id_a"), col("id_b"), col("weight"), col("decision"))
        .orderBy("id_a", "id_b")
    }),

    // Unsupervised Fellegi-Sunter: the q174 fields with m/u LEARNED
    // by 20 EM iterations on the 2^3 agreement-pattern counts (a
    // bounded driver-side sufficient statistic). The oracle replays
    // the identical fixed-order recurrence in a recursive CTE, so
    // the learned parameters — and every weight — reproduce exactly.
    "q176_fellegi_sunter_em" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // carried attributes: one candidate pass feeds both the pattern
      // aggregation (EM's sufficient statistic) and the scoring
      val pairs = graft.ops.Linkage.linkPairs(docs, "doc_id", "text",
        maxDist = 16, carry = Seq("source", "n_chars"))
      graft.ops.Linkage.fellegiSunterEm(pairs, Seq(
          ("key_close", col("dist") <= 4),
          ("same_source", col("source_a") === col("source_b")),
          ("len_band", floor(col("n_chars_a") / lit(100.0))
            === floor(col("n_chars_b") / lit(100.0)))),
          iters = 20, upper = 4.0, lower = 0.0)
        .select(col("id_a"), col("id_b"), col("weight"), col("decision"))
        .orderBy("id_a", "id_b")
    }),

    // Bipartite MOSS matching: the q157 recrawl delta winnow-matched
    // against the standing corpus — the incremental plagiarism/reuse
    // check, sharing fuzzyJoin's never-self-join shape but with the
    // positioned-substring coverage guarantee. Cross-side df cap
    // drops boilerplate hashes hot on either side.
    "q175_winnow_cross" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.where(col("doc_id") % 37 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      val delta = graft.ops.Snapshots.changedDocs(docs, next, "doc_id", "text")
      graft.ops.Winnow.matchAcross(delta, "doc_id", "text",
          docs, "doc_id", "text")
        .orderBy("left_id", "right_id")
    }),

    // Corpus-wide KEEP-FIRST line dedup (the CCNet / RefinedWeb line
    // pass): plant a universal copyright footer on every doc, a
    // newsletter plea on every 5th, and two text excerpts as body
    // lines. Shared lines must survive only at their minimum
    // (doc, line) first occurrence; the short "End." line is exempt.
    // First-occurrence is an AGGREGATION on the line hash (map-side
    // combinable), never a window partitioned by line — a boilerplate
    // line in 10^7 docs would funnel one sort partition.
    "q177_line_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"), concat(
          substring(col("text"), 1, 80), lit("\n"),
          lit("All rights reserved. Copyright Example Corp."), lit("\n"),
          when(col("doc_id") % 5 === 0,
            lit("Subscribe to our newsletter today for updates!\n"))
            .otherwise(lit("")),
          substring(col("text"), 30, 90), lit("\nEnd.")).as("text"))
      graft.ops.Dedup.lineDedup(planted, "doc_id", "text", minDupChars = 15)
        .select(col("doc_id"), md5(col("text")).as("clean_hash"),
          col("n_kept"), col("n_removed"))
        .orderBy("doc_id")
    }),

    // Incrementally-maintained grouped aggregate (materialized-view
    // maintenance, Mumick et al. 1997): build per-customer order
    // partials from pre-1997 orders, absorb the 1997+ delta WITHOUT
    // rescanning the base (bucket-pruned state read + dynamic
    // partition overwrite of only the touched buckets), then read the
    // finalized view. The oracle recomputes from scratch over the full
    // table — the incremental path must be indistinguishable.
    "q178_incremental_agg" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val path = graft.etl.Scratch.dir("matagg")
      graft.etl.MaterializedAgg.create(
        orders.where(year(col("o_orderdate")) < 1997),
        Seq("o_custkey"), "o_totalprice", path, nBuckets = 16)
      graft.etl.MaterializedAgg.refresh(s, path,
        orders.where(year(col("o_orderdate")) >= 1997),
        Seq("o_custkey"), "o_totalprice", nBuckets = 16)
      graft.etl.MaterializedAgg.read(s, path, Seq("o_custkey"))
        .select(col("o_custkey"), col("n"),
          round(col("total"), 4).as("total"),
          round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"),
          // mean from the ROUNDED total, with NO re-round: both engines
          // divide bit-identical doubles by the same integer, and any
          // re-round would land on .xxx75/8 ties where Spark (decimal
          // HALF_UP) and DuckDB (binary) disagree
          (round(col("total"), 4) / col("n")).as("mean"))
        .orderBy("o_custkey")
    }),

    // Incrementally-maintained DISTINCT counts via mergeable HLL
    // sketch state: COUNT(DISTINCT) is not self-maintainable from
    // scalar partials, but sketch union (slot-wise max) is value-set
    // deterministic — so the incremental estimate must EQUAL the
    // one-shot estimate bit-for-bit (both read paths route through
    // hll_union_agg, so no HIP-vs-composite estimator skew), and both
    // must sit within the lgK=14 error envelope of the exact count
    // the oracle recomputes. Booleans carry the sketch-side claims.
    "q179_incremental_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val keys = Seq("event_type")
      val p1 = graft.etl.Scratch.dir("mdist-inc")
      val p2 = graft.etl.Scratch.dir("mdist-oneshot")
      // the incremental chain (create→refresh on p1) and the one-shot
      // control build (p2) are independent state dirs — overlapped
      graft.etl.Par.run(
        () => {
          graft.etl.MaterializedDistinct.create(
            ev.where(col("user_id") % 3 =!= 0), keys, "user_id", p1,
            nBuckets = 8, lgK = 14)
          graft.etl.MaterializedDistinct.refresh(s, p1,
            ev.where(col("user_id") % 3 === 0), keys, "user_id",
            nBuckets = 8, lgK = 14)
        },
        () => graft.etl.MaterializedDistinct.create(ev, keys, "user_id",
          p2, nBuckets = 8, lgK = 14))
      val inc = graft.etl.MaterializedDistinct.read(s, p1, keys)
      val oneShot = graft.etl.MaterializedDistinct.read(s, p2, keys)
        .withColumnRenamed("n_distinct_est", "est_oneshot")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      inc.join(oneShot, keys).join(exact, keys)
        .select(col("event_type"), col("n_exact"),
          (col("n_distinct_est") === col("est_oneshot"))
            .as("merged_equals_oneshot"),
          (abs(col("n_distinct_est") - col("n_exact"))
            <= col("n_exact") * 0.05).as("est_within_5pct"))
        .orderBy("event_type")
    }),

    // Stream-MAINTAINED aggregate across a kill-and-resume: each
    // micro-batch lands mergeable partials under its own __batch=
    // partition (idempotent under the replayed-batch contract), the
    // query restarts from its checkpoint mid-input, and the merged
    // view must equal the batch aggregate over everything — a
    // double-counted replay or a lost batch breaks the hash.
    "q180_stream_maintained_agg" -> ((s, dir) =>
      graft.streaming.StreamAsBatch.maintainedAggRestarted(
          s, s"$dir/events.parquet")
        .select(col("event_type"), col("n"),
          round(col("total"), 4).as("total"),
          round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"),
          (round(col("total"), 4) / col("n")).as("mean"))
        .orderBy("event_type")),

    // KMV sketch set algebra: per-type bottom-64 distinct portable
    // hashes of the user set, then pairwise distinct / union /
    // INTERSECTION estimates — the theta-sketch question HLL cannot
    // answer. Every estimate derives deterministically from the
    // portable md5 hash order, so the oracle recomputes the sketches
    // AND the estimator arithmetic independently in SQL and must
    // match bit-for-bit; the exact pair overlap rides along as the
    // quality reference. The 5x5 sketch pairing is a broadcast
    // inequality join over ONE ROW PER GROUP — the corpus itself is
    // touched once by the bounded sketch aggregation.
    "q181_kmv_sketch" -> ((s, dir) => {
      val k = 64
      val ev = t(s, dir, "events")
      val sk = graft.ops.Kmv.sketches(ev, Seq("event_type"), "user_id",
        k, "kmv")
      val a = sk.select(col("event_type").as("type_a"), col("kmv").as("ka"))
      val b = sk.select(col("event_type").as("type_b"), col("kmv").as("kb"))
      val pairs = a.join(b, col("type_a") < col("type_b"))
      val users = ev.select(col("event_type"), col("user_id")).distinct()
      val interExact = users.select(col("event_type").as("type_a"),
          col("user_id"))
        .join(users.select(col("event_type").as("type_b"), col("user_id")),
          "user_id")
        .where(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n_inter_exact"))
      pairs.join(interExact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          graft.ops.Kmv.distinctEstimate(col("ka"), k).as("est_a"),
          graft.ops.Kmv.distinctEstimate(col("kb"), k).as("est_b"),
          graft.ops.Kmv.distinctEstimate(
            graft.ops.Kmv.unionSketch(col("ka"), col("kb"), k), k)
            .as("est_union"),
          graft.ops.Kmv.intersectionEstimate(col("ka"), col("kb"), k)
            .as("est_inter"),
          col("n_inter_exact"))
        .orderBy("type_a", "type_b")
    }),

    // Incrementally-maintained QUANTILES via deterministic bottom-k
    // row-sample state (order statistics are not self-maintainable
    // from scalar partials, and GK/KLL/t-digest are merge-order- or
    // randomness-sensitive). Build the state from pre-1997 orders,
    // absorb the 1997+ delta without rescanning the base, and read
    // p50/p90/p99 per priority. The sample membership is the portable
    // md5 hash order, so the oracle rebuilds the SAME sample and the
    // SAME lower-quantile rule over the full table independently —
    // and a one-shot build must be indistinguishable from the
    // incremental state (merged_equals_oneshot).
    "q182_incremental_quantiles" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val keys = Seq("o_orderpriority")
      val probs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
      val pInc = graft.etl.Scratch.dir("mq-inc")
      val pOne = graft.etl.Scratch.dir("mq-oneshot")
      // the incremental chain (create→refresh on pInc) and the
      // one-shot control build (pOne) are independent state dirs —
      // overlapped
      graft.etl.Par.run(
        () => {
          graft.etl.MaterializedQuantiles.create(
            orders.where(year(col("o_orderdate")) < 1997),
            keys, "o_orderkey", "o_totalprice", pInc, k = 256, nBuckets = 8)
          graft.etl.MaterializedQuantiles.refresh(s, pInc,
            orders.where(year(col("o_orderdate")) >= 1997),
            keys, "o_orderkey", "o_totalprice", k = 256, nBuckets = 8)
        },
        () => graft.etl.MaterializedQuantiles.create(orders,
          keys, "o_orderkey", "o_totalprice", pOne, k = 256, nBuckets = 8))
      val inc = graft.etl.MaterializedQuantiles.read(s, pInc, keys, probs)
      val one = graft.etl.MaterializedQuantiles.read(s, pOne, keys, probs)
        .select(col("o_orderpriority"), col("n_sample").as("n1"),
          col("p50").as("q1"), col("p90").as("q2"), col("p99").as("q3"))
      inc.join(one, keys)
        .select(col("o_orderpriority"), col("n_sample"),
          col("p50"), col("p90"), col("p99"),
          (col("n_sample") === col("n1") && col("p50") === col("q1") &&
            col("p90") === col("q2") && col("p99") === col("q3"))
            .as("merged_equals_oneshot"))
        .orderBy("o_orderpriority")
    }),

    // Blocklist screen: which of a fixed phrase list occur in each
    // document — ONE Aho-Corasick automaton pass per row (O(n+hits)
    // regardless of list size) where the composed form pays P
    // contains-probes per row. Overlapping phrases ("scan slow" /
    // "agg row scan" share words; "spark" hits inside longer tokens'
    // contexts) exercise the failure links; the last phrase never
    // matches. Oracle: DuckDB list_filter + contains must agree on
    // the matched set AND its phrase-list order.
    "q183_blocklist" -> ((s, dir) => {
      val phrases = Seq("scan slow", "slow fast table", "agg row scan",
        "table part", "spark", "zebra quantum fox")
      graft.ops.Blocklist.screen(t(s, dir, "documents"), "text", phrases)
        .select(col("doc_id"), col("n_matched"),
          array_join(col("matched"), ",").as("matched"), col("blocked"))
        .orderBy("doc_id")
    }),

    // Stream-MAINTAINED distinct counts across a kill-and-resume:
    // per-micro-batch HLL sketches land under their own __batch=
    // partition (replay overwrites itself; HLL union is additionally
    // idempotent in the VALUE, so the half-then-restart split cannot
    // perturb the estimate), and the merged view must equal a
    // one-shot sketch build over the full event set bit-for-bit,
    // within the lgK=14 envelope of the exact count the oracle pins.
    "q184_stream_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val streamed = graft.streaming.StreamAsBatch
        .maintainedDistinctRestarted(s, s"$dir/events.parquet")
      val pOne = graft.etl.Scratch.dir("dist-oneshot-b")
      graft.etl.MaterializedDistinct.create(ev, Seq("event_type"),
        "user_id", pOne, nBuckets = 8, lgK = 14)
      val one = graft.etl.MaterializedDistinct.read(s, pOne,
          Seq("event_type"))
        .withColumnRenamed("n_distinct_est", "est_oneshot")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      streamed.join(one, Seq("event_type")).join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          (col("n_distinct_est") === col("est_oneshot"))
            .as("stream_equals_oneshot"),
          (abs(col("n_distinct_est") - col("n_exact"))
            <= col("n_exact") * 0.05).as("est_within_5pct"))
        .orderBy("event_type")
    }),

    // Bloom-reduced EXACT semi-join (semi-join reduction): lineitem
    // rows for urgent-1995 orders. The 64Kbit filter over the build
    // keys screens the fact side in a NARROW pre-filter (no probe
    // shuffle for the dropped rows); the exact LEFT SEMI join then
    // removes the bounded false positives, so the result is
    // indistinguishable from the plain semi-join the oracle runs.
    // The scale story: at large-large joins the bloom's bits travel
    // as a literal while the dropped fact bytes never cross the wire.
    "q185_bloom_semijoin" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1995)
      graft.ops.Approx.bloomReducedSemiJoin(li, "l_orderkey", urgent,
          "o_orderkey", numBits = 1 << 16, numHashes = 5)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Schema-evolution-tolerant read: a v1 producer lands (doc_id,
    // text) batches, a v2 producer adds (lang, n_chars); the evolved
    // read unions the schemas with NULL fill — NO rewrite of the v1
    // files (rewriting 100 TB because a column appeared is the
    // anti-pattern). The oracle reconstructs the same union view from
    // the source table directly.
    "q186_schema_evolution" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val docs = t(s, dir, "documents")
      val root = graft.etl.Scratch.dir("evolve")
      val v1 = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      val v2 = StructType(v1.fields ++ Seq(
        StructField("lang", StringType),
        StructField("n_chars", LongType)))
      graft.etl.SchemaEvolution.appendConformed(
        docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text"), col("source")),
        v1, root, 0L, dropExtras = true)
      graft.etl.SchemaEvolution.appendConformed(
        docs.where(col("doc_id") % 2 === 1), v2, root, 1L,
        dropExtras = true)
      graft.etl.SchemaEvolution.readEvolved(s, root)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          md5(col("text")).as("text_hash"),
          col("batch").cast("long").as("batch"))
        .orderBy("doc_id")
    }),

    // Declarative data-quality expectations over a landed table: all
    // row-level rules share ONE aggregation pass (a rule is a codegen'd
    // conditional count, never a scan); uniqueness is a map-side-
    // combinable key aggregation; referential integrity is an anti
    // join against the broadcastable key set. The report is plain
    // data, so the oracle recomputes every count independently.
    "q187_expectations" -> ((s, dir) => {
      import graft.ops.Expectations._
      val orders = t(s, dir, "orders")
      check(orders, Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        MatchesRegex("o_orderpriority", "^[1-5]-"),
        OneOf("o_orderstatus", Seq("O", "F")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
        .orderBy("rule")
    }),

    // Item co-occurrence + PMI over per-user event-type baskets
    // (market-basket association mining / item2item similarity). The
    // basket table is distinct-reduced first; pairs come from a
    // group-key equi-join with an item_a < item_b residual — work is
    // sum(basket^2), never corpus^2; margins broadcast back onto the
    // vocabulary-sized pair frame.
    "q188_cooccurrence" -> ((s, dir) =>
      graft.ops.Cooccurrence.pmiPairs(t(s, dir, "events"),
          "user_id", "event_type")
        .orderBy("item_a", "item_b")),

    // Rendezvous (highest-random-weight) sharding: stable assignment
    // under shard-count growth — going 5 -> 6 shards must move ONLY
    // the docs whose new shard wins the argmax (~1/6 of the corpus),
    // where pmod resharding would move ~5/6. Assignments are argmaxes
    // over portable md5 scores, so the oracle replays every one.
    "q189_rendezvous_shard" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          graft.ops.Sharding.rendezvousShard(col("doc_id"), 5)
            .cast("long").as("shard5"),
          graft.ops.Sharding.rendezvousShard(col("doc_id"), 6)
            .cast("long").as("shard6"))
        .withColumn("moved", col("shard5") =!= col("shard6"))
        .orderBy("doc_id")),

    // Stream-MAINTAINED quantiles across a kill-and-resume — the
    // third leg of the maintained-view family. The bottom-k sample is
    // DETERMINISTIC in the (hash, id) set, so no matter how the
    // stream (and the mid-input restart) chopped the events, the
    // merged state must reproduce the oracle's from-scratch sample
    // and quantile rule over the full table EXACTLY — stronger than
    // the HLL legs' estimate-equality: here every output value is
    // pinned.
    "q190_stream_quantiles" -> ((s, dir) =>
      graft.streaming.StreamAsBatch.maintainedQuantilesRestarted(
          s, s"$dir/events.parquet")
        .orderBy("event_type")),

    // Hop-bounded single-source shortest paths over the nation trade
    // graph (cheapest ≤3-leg route from nation 0, edge cost = trade
    // volume). Frontier Bellman-Ford — per round one frontier-edge
    // join + one min-reduce shuffle, checkpoint-truncated; the hop
    // bound is the SEMANTIC the recursive-CTE oracle enumerates, and
    // every path cost is the same left-fold of doubles in both
    // engines, so distances match without rounding.
    "q191_sssp_bounded" -> ((s, dir) => {
      val e = graft.ops.Graph.tradeEdges(s, dir)
        .select(col("src"), col("dst"), col("w").cast("double").as("w"))
      graft.ops.Graph.ssspBounded(e, source = 0L, maxRounds = 3)
        .orderBy("node")
    }),

    // Small-file compaction under gate: land the corpus as 64
    // micro-batch-sized files, compact to ~16MB targets (a metadata-
    // only file-count decision + one shuffle-free coalesce rewrite
    // with rename-aside crash safety), and prove the content came
    // through untouched — the oracle aggregates the SOURCE table; any
    // dropped/duplicated row or mangled text breaks the checksum.
    "q192_compaction" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = graft.etl.Scratch.dir("compact")
      docs.repartition(64).write.mode("overwrite").parquet(root)
      graft.etl.Layout.compact(s, root, targetBytes = 16L * 1024 * 1024)
      s.read.parquet(root)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
            .cast("long")).as("content_sum"))
        .orderBy("source")
    }),

    // NATIVE as-of join — q31's exact semantics through the custom
    // LogicalPlan + Strategy + SortMergeAsOfJoinExec instead of the
    // union-window formulation: one shuffle per side, merge scan with
    // ONE retained right row of state per key. Same DuckDB ASOF JOIN
    // oracle; the two formulations must be indistinguishable.
    "q193_asof_native" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"),
          col("value").as("rate"))
      graft.ops.AsOf.joinAsOfNative(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    }),

    // Welch's unequal-variances t-test per event type: variant =
    // user_id parity (a deterministic assignment both engines
    // replay). One partial-agg pass computes each (group, variant)'s
    // n/mean/var; the statistic assembles on the reduced frame. The
    // oracle recomputes t and the Welch-Satterthwaite dof from its
    // own aggregates.
    "q194_ab_welch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.welch(ev, "event_type", "variant", "value",
          "A", "B")
        .orderBy("event_type")
    }),

    // Z-order (Morton) clustering key — the layout lever behind
    // multi-column scan pruning (Layout.writeZOrdered). The oracle
    // replays the identical mask-cascade bit spreading in DuckDB
    // arithmetic, pinning every interleaved key bit-for-bit.
    "q195_zorder_key" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          graft.etl.Layout.zOrder2(
            col("user_id") % 1024, col("event_id") % 1024).as("zkey"))
        .orderBy("event_id")
    }),

    // Seeded epoch-shuffle manifest: global position + training batch
    // id for every document under the portable md5 shuffle order,
    // computed WITHOUT a global-order window (per-block row_number +
    // broadcast block offsets). The oracle's single ROW_NUMBER() over
    // the same key must agree on every position.
    "q196_epoch_shuffle" -> ((s, dir) => {
      graft.ops.Sampling.epochPositions(
          t(s, dir, "documents").select("doc_id"), "doc_id", "7", 1000L)
        .select(col("doc_id"), col("shuffle_key"), col("pos"), col("batch"))
        .orderBy("doc_id")
    }),

    // k-anonymity / l-diversity release audit over quasi-identifiers
    // (lang, source, n_chars bucket), sensitive = n_chars mod 10: one
    // hash aggregation per QI combination with both verdicts.
    "q197_k_anonymity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 200"))
        .withColumn("sens", col("n_chars") % 10)
      graft.ops.Privacy.kAnonymityAudit(d,
          Seq("lang", "source", "len_bucket"), "sens", 5, 3)
        .orderBy("lang", "source", "len_bucket")
    }),

    // CUPED variance reduction: per-user pre/post period means around
    // a mid-month cutoff, pooled theta broadcast back, per-variant
    // adjusted means + variance reduction. The oracle recomputes
    // theta from its own covar/var aggregates.
    "q198_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.cuped(ev, "user_id", "variant", "ts", "value",
          to_timestamp(lit("2024-01-15 00:00:00")))
        .orderBy("variant")
    }),

    // Sample-ratio-mismatch chi-squared screen per event type under
    // the parity assignment — the trust gate preceding any A/B
    // readout (q194/q198).
    "q199_srm" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.srm(ev, "event_type", "variant", "A", "B")
        .orderBy("event_type")
    }),

    // BROADCAST as-of join — q31's semantics a third way: the rates
    // side packs into per-key sorted history arrays and broadcasts;
    // each fact row binary-searches (AsOfPick, codegen'd) inside the
    // scan stage. The fact side is never shuffled or sorted — the
    // 100 TB plan when the right side is a small reference table.
    // Same DuckDB ASOF JOIN oracle as q31/q193.
    "q200_asof_broadcast" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wFirst = Window.partitionBy(col("user_id"), to_date(col("ts")))
        .orderBy(col("ts"), col("event_id"))
      val rates = ev
        .withColumn("__rn", row_number().over(wFirst))
        .where(col("__rn") === 1)
        .select(col("user_id"), col("ts").as("upd_ts"),
          col("value").as("rate"))
      graft.ops.AsOf.joinAsOfBroadcast(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          rates, Seq("user_id"), "ts", "upd_ts", Seq("rate"))
        .select(col("event_id"), col("user_id"), col("rate"))
        .orderBy("event_id")
    }),

    // Smoothed target encoding + leave-one-out variant over the
    // source category: one broadcast category aggregate + a 1-row
    // global-mean attach; the oracle recomputes both encodings from
    // its own aggregates.
    "q201_target_encode" -> ((s, dir) => {
      graft.ops.Features.targetEncode(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars", alpha = 10.0)
        .select(col("doc_id"), col("source"),
          round(col("te"), 6).as("te"), round(col("te_loo"), 6).as("te_loo"))
        .orderBy("doc_id")
    }),

    // Feature hashing: portable md5 index + ±1 sign nibble, one
    // partial-agg shuffle to the sparse (doc, idx) design matrix.
    "q202_hash_features" -> ((s, dir) => {
      graft.ops.Features.hashFeatures(t(s, dir, "documents"),
          "doc_id", "text", dim = 64)
        .orderBy("doc_id", "idx")
    }),

    // Unigram-LM tokenizer (SentencePiece family, Kudo 2018): seed
    // substring vocabulary + minimum-cost Viterbi segmentation. The
    // Spark side runs the distributed position-DP (maxWordLen rounds
    // of bounded joins over the DISTINCT-word frame); the oracle
    // reaches the same numbers by a DIFFERENT algorithm — recursive
    // full path enumeration — so a shared recurrence bug cannot pass.
    // Costs fold along the winning path in identical order on both
    // sides (the q191 argument), so round(6) is exact.
    "q203_unigram_cost" -> ((s, dir) => {
      val words = graft.ops.Unigram.wordCounts(
        t(s, dir, "documents"), "text", maxWordLen = 12)
      val vocab = graft.ops.Unigram.seedVocab(words, maxPieceLen = 4,
        topV = 200)
      graft.ops.Unigram.segmentCosts(words, vocab, maxPieceLen = 4,
          maxWordLen = 12)
        .select(col("word"), round(col("cost"), 6).as("cost"))
        .orderBy("word")
    }),

    // Calibration curve + ECE over a hash-planted calibrated scorer
    // (P(label|score) = score by construction): one partial-agg pass
    // to the 10-bin frame, ECE as a bounded-frame window.
    "q204_calibration" -> ((s, dir) => {
      val ks = pmod(graft.ops.Sampling.shuffleKey(col("event_id"), "cs"),
        lit(1000000L))
      val ky = pmod(graft.ops.Sampling.shuffleKey(col("event_id"), "cy"),
        lit(1000000L))
      val ev = t(s, dir, "events")
        .withColumn("score", ks / 1000000.0)
        .withColumn("label", when(ky < ks, 1.0).otherwise(0.0))
      graft.ops.Eval.calibration(ev, "score", "label", 10)
        .select(col("bin"), col("n"),
          round(col("conf"), 6).as("conf"), round(col("acc"), 6).as("acc"),
          round(col("gap"), 6).as("gap"), round(col("ece"), 6).as("ece"))
        .orderBy("bin")
    }),

    // EXACT-count stratified split (vs q68's in-expectation hash
    // split): per-stratum seeded rank against floor(n·frac) cuts —
    // row-for-row reproducible in any engine with md5 + IEEE doubles.
    "q205_exact_split" -> ((s, dir) => {
      graft.ops.Sampling.exactSplit(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id", valFrac = 0.1, testFrac = 0.2, seed = "xs1")
        .orderBy("doc_id")
    }),

    // CDC changelog apply: events as a per-user change stream ordered
    // by (ts, event_id), 'error' as the tombstone op — final state =
    // last event's payload, tombstoned keys absent. One max_by
    // partial aggregation, no window over the log.
    "q206_cdc_apply" -> ((s, dir) => {
      graft.ops.Scd.applyChangelog(t(s, dir, "events"),
          "user_id", Seq("ts", "event_id"), "event_type",
          deleteOp = "error", payloadCols = Seq("value"))
        .orderBy("user_id")
    }),

    // Interpolated Kneser-Ney perplexity (q78's add-k upgraded to the
    // continuation-probability smoothing): model = bigram-type frame
    // with two partitioned windows + one 1-row broadcast; the oracle
    // recomputes every statistic and the identical discount formula.
    "q207_kneser_ney" -> ((s, dir) =>
      graft.ops.LangModel.knPerplexity(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")),

    // Distributed suffix array by prefix doubling (Manber-Myers):
    // dense global rank of every suffix of every document. The oracle
    // reaches the same ranks by a DIFFERENT algorithm — materialize
    // every suffix STRING and sort (O(n²) characters, viable only at
    // oracle scale; the doubling schedule is O(n log n) fixed-width
    // rows, the form that survives 100 TB).
    "q208_suffix_ranks" -> ((s, dir) =>
      graft.ops.Suffix.suffixRanks(t(s, dir, "documents"),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("pos").cast("long").as("pos"),
          col("rank"))
        .orderBy("doc_id", "pos")),

    // Mann-Whitney U per event type (nonparametric companion to
    // q194's Welch t): tie-averaged ranks in one partitioned window,
    // tie-corrected normal approximation on the reduced frame.
    "q209_mann_whitney" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Abtest.mannWhitney(ev, "event_type", "variant", "value",
          "A", "B")
        .orderBy("event_type")
    }),

    // CUSUM change detection per user (Page 1954) via the drawup
    // identity (cumsum minus running min — the recursion's
    // window-expressible form). k/h from ROUNDED global moments so
    // the sequential folds are bit-identical cross-engine.
    "q210_cusum" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("value").isNotNull)
      val st = ev.agg(round(avg(col("value")), 6).as("__k"),
        round(stddev_samp(col("value")) * 2, 6).as("__h"))
      graft.ops.TimeSeries.cusum(ev.crossJoin(broadcast(st)),
          "user_id", Seq("ts", "event_id"), "value",
          col("__k"), col("__h"))
        .select(col("user_id"), col("n"), col("max_cusum"),
          col("n_alarms"),
          col("first_alarm.event_id").as("first_alarm_event"))
        .orderBy("user_id")
    }),

    // Jensen-Shannon divergence between two sources' token
    // distributions — the bounded drift measure for text (KL explodes
    // on unshared tokens; JSD <= ln 2).
    "q211_js_divergence" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .where(col("source").isin("src1", "src2"))
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("token"))
        .where(col("token") =!= "")
      graft.ops.Quality.jsDivergence(toks, "token", "source",
        "src1", "src2")
    }),

    // Benford first-digit audit over event values; the digit comes
    // from the decimal string rendering (portable — log10-floor
    // flips on 1-ulp differences at exact powers of ten).
    "q212_benford" -> ((s, dir) =>
      graft.ops.Quality.benford(t(s, dir, "events"), "value")
        .orderBy("digit")),

    // Mutual information between event type and the parity variant —
    // the feature-selection screen over a contingency frame.
    "q213_mutual_info" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("variant",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      graft.ops.Quality.mutualInformation(ev, "event_type", "variant")
    }),

    // Per-stratum Efraimidis-Spirakis weighted sample (the class
    // balancer with weighted inclusion): one stratum-key shuffle,
    // never a global sort; every kept row + rank replayed by the
    // oracle.
    "q214_weighted_stratum" -> ((s, dir) =>
      graft.ops.Sampling.weightedSamplePerStratum(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "doc_id", "n_chars", n = 10, seed = "ws2")
        .orderBy("source", "rn")),

    // Per-group Gini concentration of event values — the "is 1% of
    // keys all the mass" audit, one rank window + one aggregation.
    "q215_gini" -> ((s, dir) =>
      graft.ops.Quality.gini(t(s, dir, "events"), "event_type", "value",
          "event_id")
        .orderBy("event_type")),

    // Incrementally-maintained CDC state (4th maintained-view leg,
    // now with DELETE semantics): create from the first half-month,
    // absorb the second as a delta — "latest per key" is associative,
    // so the state must equal q206's one-shot apply bit-for-bit
    // (same oracle).
    "q216_cdc_maintained" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      val path = graft.etl.Scratch.dir("matcdc")
      graft.etl.MaterializedCdc.create(ev.where(col("ts") < cut),
        "user_id", Seq("ts", "event_id"), "event_type", Seq("value"),
        path, nBuckets = 16)
      graft.etl.MaterializedCdc.refresh(s, path, ev.where(col("ts") >= cut),
        "user_id", Seq("ts", "event_id"), "event_type", Seq("value"),
        nBuckets = 16)
      graft.etl.MaterializedCdc.read(s, path, "event_type", "error")
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    }),

    // The same CDC state maintained by a REAL restarted stream
    // (kill-and-resume mid-input): replay safety from latest-per-key
    // idempotence. Same one-shot oracle.
    "q217_cdc_stream" -> ((s, dir) =>
      graft.streaming.StreamAsBatch.maintainedCdcRestarted(
          s, s"$dir/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id")),

    // Zipf's-law fit over the top-500 vocabulary: closed-form least
    // squares of ln(freq) on ln(rank) — the corpus-health check.
    "q218_zipf_fit" -> ((s, dir) =>
      graft.ops.Vocab.zipfFit(t(s, dir, "documents"), "doc_id", "text",
        topN = 500)),

    // Kaplan-Meier survival of time-to-first-purchase per user, with
    // never-purchasers right-censored at their last activity —
    // retention's principled upgrade; the product runs over the
    // bounded distinct-duration frame.
    "q219_kaplan_meier" -> ((s, dir) =>
      graft.ops.Cohorts.kaplanMeier(
          graft.ops.Cohorts.timeToEvent(t(s, dir, "events"),
            "user_id", "ts", col("event_type") === "purchase"),
          "duration", "censored")
        .orderBy("duration")),

    // Every within-brand part-name pair scored by the two native
    // codegen'd string-similarity expressions (Jaro-Winkler +
    // unrestricted Damerau-Levenshtein), folded per brand — the
    // linkage verify stage head-to-head against DuckDB's own native
    // jaro_winkler_similarity / damerau_levenshtein.
    "q220_fuzzy_pairs" -> ((s, dir) =>
      graft.ops.Linkage.fuzzyScoredPairs(
          t(s, dir, "part").select("p_partkey", "p_brand", "p_name"),
          "p_brand", "p_partkey", "p_name")
        .groupBy(col("block").as("brand"))
        .agg(count(lit(1)).as("pairs_scored"),
          sum(when(col("jw") >= 0.8, 1L).otherwise(0L)).as("n_close"),
          min(col("dl")).as("min_dl"),
          round(avg(col("jw")), 6).as("avg_jw"))
        .orderBy("brand")),

    // ROC curve + trapezoid AUC of event value against the purchase
    // label — the classifier-quality measurement; thresholds are the
    // DISTINCT scores (bounded by value resolution, not rows).
    "q221_roc_auc" -> ((s, dir) =>
      graft.ops.Eval.rocCurve(
          t(s, dir, "events")
            .withColumn("label", col("event_type") === "purchase"),
          "value", "label")
        .orderBy(col("thr").desc)),

    // Per-returnflag Spearman rank correlation of quantity vs
    // extended price — monotone association with tie-averaged ranks,
    // all windows partitioned by the group key.
    "q222_spearman" -> ((s, dir) =>
      graft.ops.Quality.spearman(t(s, dir, "lineitem"),
          "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")),

    // Log-rank test: do even-parity users convert (first purchase)
    // on a different clock than odd-parity ones — the hypothesis
    // test over q219's censored time-to-event observations.
    "q223_logrank" -> ((s, dir) =>
      graft.ops.Cohorts.logRank(
        graft.ops.Cohorts.timeToEvent(t(s, dir, "events"),
            "user_id", "ts", col("event_type") === "purchase")
          .withColumn("cohort",
            when(col("user_id") % 2 === 0, "A").otherwise("B")),
        "duration", "censored", "cohort", "A")),

    // Chi-squared independence of document language vs source (+
    // Cramer's V effect size) — expected counts from the marginal
    // cross product, so zero observed cells still contribute.
    "q224_chi2" -> ((s, dir) =>
      graft.ops.Quality.chiSquare(t(s, dir, "documents"),
        "lang", "source")),

    // Zone-map data skipping: land events range-clustered on user_id
    // with an explicit per-file min/max manifest, then answer a range
    // query opening ONLY the overlapping files (LayoutSpec asserts
    // the pruning; this gates the pruned scan's answers).
    "q225_zonemap_prune" -> ((s, dir) => {
      val path = graft.etl.Scratch.dir("zm225")
      graft.etl.Layout.writeZoneMapped(
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value"),
        path, "user_id", numFiles = 16)
      graft.etl.Layout.readZonePruned(s, path, lit(2L), lit(9L))
        .where(col("user_id").between(2L, 9L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // Optimizer-integrated materialized-view reuse: register the
    // returnflag/linestatus rollup, then run the SAME aggregation
    // rebuilt independently — the MvRewrite rule substitutes the
    // materialization (MvSpec asserts the fact table is NOT
    // re-scanned; this gates the substituted answers).
    "q226_mv_rewrite" -> ((s, dir) => {
      val mvPath = graft.etl.Scratch.dir("mv226")
      def agg = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"),
          count(lit(1)).as("n"))
      graft.etl.Mv.register(agg, mvPath)
      agg.orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q5-shaped star join (local-supplier revenue by nation for
    // one region-year): the canonical OLAP plan — filters pushed to
    // the scans, dimensions broadcast, one fact-side shuffle pair.
    "q227_star_join" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA"
          && to_date(col("o_orderdate")) >= lit("1996-01-01").cast("date")
          && to_date(col("o_orderdate")) < lit("1997-01-01").cast("date"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))),

    // Heaps'-law vocabulary-growth fit V(n) = K*n^beta at power-of-two
    // checkpoints — zipf's companion corpus-health curve; global token
    // positions via the two-phase doc-offset cumsum, never a global
    // row window.
    "q228_heaps_fit" -> ((s, dir) =>
      graft.ops.Vocab.heapsFit(t(s, dir, "documents"), "doc_id", "text")),

    // Sample autocorrelation of each event type's daily count series
    // at lags 1..7 — the seasonality/persistence diagnostic; the
    // stream reduces to the bounded daily frame before any pairing.
    "q229_autocorr" -> ((s, dir) =>
      graft.ops.TimeSeries.dailyAutocorr(t(s, dir, "events"),
          "event_type", "ts", maxLag = 7)
        .orderBy("event_type", "lag")),

    // Entropy rate of the first-order event-type chain — how
    // predictable is the next action, in nats per transition; the
    // scalar audit over q95's transition frame.
    "q230_entropy_rate" -> ((s, dir) =>
      graft.ops.Markov.entropyRate(t(s, dir, "events"), "user_id",
        Seq("ts", "event_id"), "event_type")),

    // TPC-H Q10-shaped returned-item report: top-20 customers by
    // revenue lost to returns in a quarter — the classic
    // TakeOrderedAndProject plan over a fact-side shuffle pair with a
    // broadcast nation dim.
    "q231_returned_topn" -> ((s, dir) =>
      t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(to_date(col("o_orderdate")) >= lit("1996-01-01").cast("date")
          && to_date(col("o_orderdate")) < lit("1996-07-01").cast("date"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),

    // MERGE INTO: upsert a source batch into a target snapshot with a
    // delete clause (matched 'F' rows drop), an update clause
    // (matched prices uplift 5%), and not-matched inserts — one
    // full-outer pass, gated row-for-row against the SQL expansion.
    "q232_merge_upsert" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      graft.etl.Merge.mergeInto(
          o.where(col("o_orderkey") % 3 =!= 0),
          o.where(col("o_orderkey") % 2 === 0),
          Seq("o_orderkey"),
          whenMatchedDelete = col("s.o_orderstatus") === "F",
          whenMatchedUpdate = Map(
            "o_totalprice" -> round(col("s.o_totalprice") * 1.05, 4)))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Centered moments per returnflag: two-pass population variance /
    // skewness / excess kurtosis (the raw-moment identity cancels
    // catastrophically at sum-x^4 scale and cannot match cross-engine).
    "q233_central_moments" -> ((s, dir) =>
      graft.ops.Quality.centralMoments(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice")
        .orderBy("l_returnflag")),

    // Gaps-and-islands: stitch each user's 30-minute activity
    // intervals into maximal sessions (touching merges), one island
    // row out per stitched interval.
    "q234_interval_merge" -> ((s, dir) =>
      graft.ops.EventWindows.coalesceIntervals(
          t(s, dir, "events").select(col("user_id"), col("ts").as("s_ts"),
            (col("ts") + expr("INTERVAL 30 MINUTES")).as("e_ts")),
          "user_id", "s_ts", "e_ts")
        .orderBy("user_id", "island")),

    // Exact lower weighted median of extended price weighted by
    // quantity, per returnflag — robust location under unequal row
    // mass; one partitioned cumulative-weight window.
    "q235_weighted_median" -> ((s, dir) =>
      graft.ops.Binning.weightedMedian(t(s, dir, "lineitem"),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .orderBy("l_returnflag")),

    // Zone-map APPEND maintenance: land half the events, append the
    // other half (manifest extended incrementally from only the new
    // files), then answer the same pruned range query as q225 —
    // same oracle, now over a two-batch layout.
    "q236_zonemap_append" -> ((s, dir) => {
      val path = graft.etl.Scratch.dir("zm236")
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      graft.etl.Layout.writeZoneMapped(
        ev.where(col("user_id") % 2 === 0), path, "user_id", numFiles = 8)
      graft.etl.Layout.appendZoneMapped(
        ev.where(col("user_id") % 2 =!= 0), path, "user_id", numFiles = 8)
      graft.etl.Layout.readZonePruned(s, path, lit(2L), lit(9L))
        .where(col("user_id").between(2L, 9L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // Day-of-week-adjusted daily anomaly screen: divide out the
    // weekly seasonal index, z-score the residual series — "is this
    // Monday odd for a Monday".
    "q237_seasonal_z" -> ((s, dir) =>
      graft.ops.TimeSeries.seasonalZ(t(s, dir, "events"),
          "event_type", "ts")
        .orderBy("event_type", "d")),

    // Degree distribution of the supplier-customer interaction graph
    // (distinct counterparties per supplier, then the count-of-counts
    // histogram) — the connectivity audit before any graph algorithm.
    // The orderkey join rides the per-JVM bucketed fact layout
    // (FactBuckets — zero Exchange/Sort on either side); the two
    // aggregations after it are the query's own shuffles.
    "q238_degree_dist" -> ((s, dir) => {
      val (li, od) = graft.etl.FactBuckets.orderkeyFacts(s, dir)
      li.join(od, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count_distinct(col("o_custkey")).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_suppliers"))
        .orderBy("degree")
    }),

    // q219's survival curve with the Greenwood variance and the 95%
    // normal band — the error bars the bare estimate is read without.
    "q239_km_greenwood" -> ((s, dir) =>
      graft.ops.Cohorts.kaplanMeierCi(
          graft.ops.Cohorts.timeToEvent(t(s, dir, "events"),
            "user_id", "ts", col("event_type") === "purchase"),
          "duration", "censored")
        .orderBy("duration")),

    // Brier score + Murphy decomposition of the purchase "forecast"
    // value/100: reliability (binned calibration), resolution (bin
    // separation), uncertainty (base-rate variance).
    "q240_brier" -> ((s, dir) =>
      graft.ops.Eval.brierDecomposition(
        t(s, dir, "events")
          .withColumn("p", least(col("value") / 100, lit(1.0)))
          .withColumn("label", col("event_type") === "purchase"),
        "p", "label", nBins = 10)),

    // Incrementally-maintained MV wired into the optimizer rewrite:
    // stage 90% of events as the base table, create the maintained
    // view, ingest the remaining 10% as a delta (absorbed into the
    // bucketed partial state — the base is never rescanned), then
    // run the canonical aggregate against the BASE table: MvRewrite
    // must substitute the refreshed MV and the answer must equal the
    // full dataset's aggregate.
    "q241_mv_incremental" -> ((s, dir) => {
      val baseDir = graft.etl.Scratch.dir("mmv241base")
      val statePath = graft.etl.Scratch.dir("mmv241state")
      val mvPath = graft.etl.Scratch.dir("mmv241mv")
      val ev = t(s, dir, "events").select("event_type", "value", "user_id")
      ev.where(col("user_id") % 10 =!= 0).select("event_type", "value")
        .write.mode("overwrite").parquet(baseDir)
      graft.etl.MaintainedMv.create(s, baseDir, Seq("event_type"),
        "value", statePath, mvPath, nBuckets = 16)
      graft.etl.MaintainedMv.ingestAndRefresh(s, baseDir,
        ev.where(col("user_id") % 10 === 0).select("event_type", "value"),
        Seq("event_type"), "value", statePath, mvPath, nBuckets = 16)
      graft.etl.MaintainedMv.viewOf(s, baseDir, Seq("event_type"), "value")
        .select(col("event_type"), col("n"),
          round(col("total"), 4).as("total"), col("lo"), col("hi"),
          round(col("mean"), 6).as("mean"))
        .orderBy("event_type")
    }),

    // ORC round-trip (S-family: a second columnar format beside
    // parquet): land a lineitem projection as ORC, read it back, and
    // aggregate — the values must match the parquet-native oracle.
    "q242_orc_roundtrip" -> ((s, dir) => {
      val path = graft.etl.Scratch.dir("orc242")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"))
        .orderBy("l_returnflag")
    }),

    // Kruskal-Wallis H per event type across three hash-assigned
    // variants (the k-sample extension of q209's Mann-Whitney):
    // tie-averaged ranks in group-partitioned windows, H with tie
    // correction on the (group x class) frame.
    "q243_kruskal_wallis" -> ((s, dir) =>
      graft.ops.Abtest.kruskalWallis(
        t(s, dir, "events")
          .withColumn("variant", concat(lit("v"), col("user_id") % 3)),
        "event_type", "variant", "value")
        .orderBy("event_type")),

    // Flesch reading-ease per document aggregated by word-count band
    // - the classical readability screen beside the Gopher/C4 rules.
    "q244_readability" -> ((s, dir) =>
      graft.ops.Quality.readability(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("band")),

    // Holt double exponential smoothing of the per-type daily count
    // series with a 7-day-ahead linear forecast - the trend-aware
    // sibling of q86's EWMA, folded sequentially per group.
    "q245_holt" -> ((s, dir) =>
      graft.ops.TimeSeries.holt(t(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type")),

    // TPC-H Q18 shape (large-volume orders): the HAVING-subquery
    // join-back - aggregate the fact, filter the aggregate, then
    // rejoin the fact+dims; the per-orderkey agg and the
    // orders-lineitem join share their shuffle key.
    "q246_large_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .where(col("sum_qty") > 200)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // Theil T and mean-log-deviation L inequality indices per event
    // type - q215 gini's decomposable information-theoretic sibling.
    "q247_theil" -> ((s, dir) =>
      graft.ops.Quality.theil(t(s, dir, "events"), "event_type", "value")
        .orderBy("event_type")),

    // Global top-20 corpus words WITHOUT a global sort of the count
    // frame: per-hash-bucket complete counts, per-bucket top-k
    // windows, then one bounded candidate ordering.
    "q248_heavy_hitters" -> ((s, dir) =>
      graft.ops.TopK.globalTopK(
        t(s, dir, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("w"))
          .where(length(col("w")) >= 1),
        "w", k = 20)
        .orderBy("rank")),

    // RFM customer segmentation: recency/frequency/monetary quintile
    // scores via exact interpolated thresholds (no global per-row
    // window), segment = r*100 + f*10 + m with 5 best.
    "q249_rfm" -> ((s, dir) =>
      graft.ops.Cohorts.rfm(t(s, dir, "events"), "user_id", "ts", "value")
        .orderBy("segment")),

    // Classical additive decomposition of the per-type daily series:
    // centered MA-7 trend, day-of-week seasonal index on the
    // detrended (micro-unit-stabilized) series, residual remainder.
    "q250_seasonal_decompose" -> ((s, dir) =>
      graft.ops.TimeSeries.decompose(t(s, dir, "events"),
          "event_type", "ts")
        .orderBy("event_type", "d")),

    // Manifest time travel over the append-only zone-mapped layout:
    // commit v1 (even users), append v2 (odd users), then read BOTH
    // versions — the v1 snapshot must exclude everything the append
    // landed, the v2 read must see the whole table.
    "q251_timetravel" -> ((s, dir) => {
      val path = graft.etl.Scratch.dir("tt251")
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      graft.etl.Layout.writeZoneMapped(
        ev.where(col("user_id") % 2 === 0), path, "user_id", 8)
      graft.etl.Layout.appendZoneMapped(
        ev.where(col("user_id") % 2 =!= 0), path, "user_id", 8)
      def aggOf(v: Long) =
        graft.etl.Layout.readZoneMappedAsOf(s, path, v)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"))
          .withColumn("version", lit(v))
      aggOf(1L).unionByName(aggOf(2L))
        .select("version", "event_type", "n", "sum_value")
        .orderBy("version", "event_type")
    }),

    // File-membership-sketch skipping (the point-lookup complement
    // of the zone map's range pruning): an equality probe opens only
    // files whose 16-bit hash-slot set contains the probe's slot;
    // the exact residual predicate absorbs collisions.
    "q252_membership_skip" -> ((s, dir) => {
      val path = graft.etl.Scratch.dir("mm252")
      graft.etl.Layout.writeMemberMapped(
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value"),
        path, "user_id", numFiles = 16)
      graft.etl.Layout.readMemberPruned(s, path, lit(7L))
        .where(col("user_id") === 7L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // Top session-opening event paths ("a>b>c"): sessionize, render
    // each session's first three events, count sessions per path —
    // the path frame is alphabet-bounded, so the top-20 ordering is
    // metadata-scale.
    "q253_event_paths" -> ((s, dir) =>
      graft.ops.Funnel.eventPaths(t(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id", gapSeconds = 1800)
        .orderBy("rank")),

    // Weekly growth accounting: new / retained / resurrected /
    // churned actives per week, the ledger where actives(w) -
    // actives(w-1) = new + resurrected - churned.
    "q254_growth_accounting" -> ((s, dir) =>
      graft.ops.Cohorts.growthAccounting(t(s, dir, "events"),
          "user_id", "ts")
        .orderBy("wk")),

    // Cohort LTV curve: cumulative revenue per user by (first-week
    // cohort, offset) — integer 1e-4-unit sums keep the running
    // curve bit-stable.
    "q255_cohort_ltv" -> ((s, dir) =>
      graft.ops.Cohorts.cohortLtv(t(s, dir, "events"), "user_id", "ts",
          "value")
        .orderBy("cohort_week", "week_offset")),

    // Daily p50/p90/p99 value percentiles per event type — the
    // operations-dashboard trend over exact interpolated quantiles.
    "q256_daily_percentiles" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"),
          round(element_at(percentile(col("value"),
            array(lit(0.5), lit(0.9), lit(0.99))), 1), 6).as("p50"),
          round(element_at(percentile(col("value"),
            array(lit(0.5), lit(0.9), lit(0.99))), 2), 6).as("p90"),
          round(element_at(percentile(col("value"),
            array(lit(0.5), lit(0.9), lit(0.99))), 3), 6).as("p99"))
        .orderBy("event_type", "d")),

    // Week-over-week top movers: weekly revenue per type in integer
    // 1e-4 units, lag delta and percent change, ranked by |pct|.
    "q257_top_movers" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("wk"))
      t(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .agg(sum(round(col("value") * 1e4).cast("long")).as("__rm"))
        .withColumn("__prev", lag(col("__rm"), 1).over(w))
        .where(col("__prev").isNotNull && col("__prev") > 0)
        .select(col("event_type"), col("wk"),
          round(col("__rm").cast("double") / 1e4, 4).as("revenue"),
          round((col("__rm") - col("__prev")).cast("double") / 1e4, 4)
            .as("delta"),
          round((col("__rm") - col("__prev")).cast("double")
            / col("__prev"), 6).as("pct_change"))
        .orderBy(abs(col("pct_change")).desc, col("event_type"), col("wk"))
        .limit(10)
    }),

    // Retention / VACUUM for the time-travel layout (Delta VACUUM
    // semantics): version-aware compaction lands NEW files as a NEW
    // version (history stays readable), vacuum drops pre-horizon
    // manifests and physically reclaims files no retained snapshot
    // references, and a pre-horizon as-of read REFUSES with a pointed
    // error — gated here as a marker row — instead of silently
    // serving files compaction superseded.
    "q258_retention" -> ((s, dir) => {
      val path = graft.etl.Scratch.dir("ret258")
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      graft.etl.Layout.writeZoneMapped(
        ev.where(col("user_id") % 3 === 0), path, "user_id", 8) // v1
      graft.etl.Layout.appendZoneMapped(
        ev.where(col("user_id") % 3 === 1), path, "user_id", 8) // v2
      graft.etl.Layout.appendZoneMapped(
        ev.where(col("user_id") % 3 === 2), path, "user_id", 8) // v3
      graft.etl.Layout.compactZoneMapped(s, path, "user_id", 8) // v4
      // keep only the compacted snapshot: pre-compaction manifests are
      // dropped and their superseded data files physically reclaimed
      val reclaimed = graft.etl.Layout.vacuumZoneMapped(s, path, keepLast = 1)
      val refused =
        try { graft.etl.Layout.readZoneMappedAsOf(s, path, 2L); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("retention horizon") }
      val marker = s.range(1).select(lit(0L).as("version"),
        lit("__prehorizon_refused__").as("event_type"),
        lit(if (refused && reclaimed > 0) 1L else 0L).as("n"),
        lit(0.0).as("sum_value"))
      graft.etl.Layout.readZoneMappedAsOf(s, path, 4L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .withColumn("version", lit(4L))
        .select("version", "event_type", "n", "sum_value")
        .unionByName(marker)
        .orderBy("version", "event_type")
    }),

    // Incrementally-maintained JOIN materialization (delta rule
    // ΔJ = ΔA⋈(B∪ΔB) ∪ A⋈ΔB over bucket-partitioned sides): create
    // from partial snapshots, absorb one two-sided delta, and the
    // maintained join must equal the from-scratch join — the oracle
    // joins the full tables directly. Money summed in integer cents
    // (exact, order-independent).
    "q259_maintained_join" -> ((s, dir) => {
      val path = graft.etl.Scratch.dir("mj259")
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
      graft.etl.MaterializedJoin.create(
        orders.where(col("o_orderkey") % 4 =!= 0),
        li.where(col("l_linenumber") =!= 1),
        Seq("o_orderkey"), Seq("l_orderkey"), path, nBuckets = 16)
      graft.etl.MaterializedJoin.refresh(s, path,
        orders.where(col("o_orderkey") % 4 === 0),
        li.where(col("l_linenumber") === 1),
        Seq("o_orderkey"), Seq("l_orderkey"), nBuckets = 16)
      graft.etl.MaterializedJoin.read(s, path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / 100, 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // The join leg under the streaming kill-and-resume harness:
    // per-batch delta joins landed replay-idempotently under
    // __batch= partitions; the merged batches must equal the
    // one-shot join of all events against the derived per-user dim.
    "q260_join_stream" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .maintainedJoinRestarted(s, s"$dir/events.parquet")
        .select(col("event_id"), col("user_id"),
          round(col("u_max"), 4).as("u_max"))
        .orderBy("event_id")),

    // CDC→JOIN composition (batch): a changelog with UPDATES and
    // DELETES (event_type 'error' = tombstone) maintains the
    // latest-per-key CDC state, whose emitted upserts (refreshEmit)
    // rewrite the composed join's touched buckets as expire+insert
    // (MaterializedJoin.applyUpserts) against the standing per-user
    // dim. Oracle = from-scratch latest-per-key ⋈ dim over ALL
    // events — a lost delete leaves a stale joined row, a replayed
    // upsert cannot duplicate (bucket rewrite, not append).
    "q261_cdc_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      val dim = ev.groupBy(col("user_id").as("u"))
        .agg(max(col("value")).as("u_max"))
      val cdcPath = graft.etl.Scratch.dir("cdcj-state")
      val jPath = graft.etl.Scratch.dir("cdcj-join")
      // both lifecycle steps overlap their two independent landings:
      // create lands the CDC state and the composed join from ONE
      // checkpointed first slice; refresh rewrites the CDC buckets and
      // the join's touched buckets from ONE checkpointed merge (both
      // fixpoints — the [[StreamAsBatch.cdcJoinRestarted]] contract)
      val st = graft.etl.MaterializedCdc.createForCompose(
        ev.where(col("ts") < cut),
        "user_id", Seq("ts", "event_id"), "event_type", Seq("value"),
        nBuckets = 16)
      graft.etl.Par.run(
        () => graft.etl.MaterializedCdc.writeCreated(st, cdcPath),
        () => graft.etl.MaterializedJoin.createFromCdc(
          graft.etl.MaterializedCdc.live(st, "event_type", "error"),
          dim, Seq("user_id"), Seq("u"), jPath, nBuckets = 16))
      graft.etl.Checkpoints.free(st)
      val (merged, touched) = graft.etl.MaterializedCdc.mergeForCompose(
        s, cdcPath, ev.where(col("ts") >= cut), "user_id",
        Seq("ts", "event_id"), "event_type", Seq("value"), nBuckets = 16)
      graft.etl.Par.run(
        () => graft.etl.MaterializedCdc.writeMerged(merged, cdcPath),
        () => graft.etl.MaterializedJoin.applyUpserts(s, jPath,
          graft.etl.MaterializedCdc.emission(merged),
          Seq("user_id"), Seq("u"), "event_type", "error", nBuckets = 16,
          knownTouched = Some(touched)))
      graft.etl.Checkpoints.free(merged)
      graft.etl.MaterializedJoin.read(s, jPath)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          round(col("u_max"), 4).as("u_max"))
        .orderBy("user_id")
    }),

    // The same CDC→join composition maintained by a REAL restarted
    // stream (kill-and-resume mid-input): both steps are fixpoints,
    // so the replayed epoch converges. Same one-shot oracle.
    "q262_cdc_join_stream" -> ((s, dir) =>
      graft.streaming.StreamAsBatch
        .cdcJoinRestarted(s, s"$dir/events.parquet")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"),
          round(col("u_max"), 4).as("u_max"))
        .orderBy("user_id")),

    // ---------------------------------------------------------------
    // STEADY-STATE gates for the maintained-view families (round-13
    // brief item 4): each lifecycle twin (q178/q179/q182/q216/q226/
    // q251/q259) prices state CREATION inside its gate; these price
    // what a user pays PER QUERY against standing state — the state
    // builds once per JVM (PrebuiltState, the same shape as the twin)
    // and the gate body is the read (or, for CDC, the fixpoint
    // refresh). Oracles are the twins': the steady-state path must
    // serve exactly what a from-scratch computation would.

    // MaterializedAgg read: merge the bucket partials (q178's state).
    "q263_magg_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"maggRead|$dir", "magg-read") { d =>
        val orders = t(s, dir, "orders")
        graft.etl.MaterializedAgg.create(
          orders.where(year(col("o_orderdate")) < 1997),
          Seq("o_custkey"), "o_totalprice", d, nBuckets = 16)
        graft.etl.MaterializedAgg.refresh(s, d,
          orders.where(year(col("o_orderdate")) >= 1997),
          Seq("o_custkey"), "o_totalprice", nBuckets = 16)
      }
      graft.etl.MaterializedAgg.read(s, path, Seq("o_custkey"))
        .select(col("o_custkey"), col("n"),
          round(col("total"), 4).as("total"),
          round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"),
          (round(col("total"), 4) / col("n")).as("mean"))
        .orderBy("o_custkey")
    }),

    // MaterializedQuantiles read (q182's incremental state).
    "q264_mquant_read" -> ((s, dir) => {
      val keys = Seq("o_orderpriority")
      val probs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"mquantRead|$dir", "mquant-read") { d =>
        val orders = t(s, dir, "orders")
        graft.etl.MaterializedQuantiles.create(
          orders.where(year(col("o_orderdate")) < 1997),
          keys, "o_orderkey", "o_totalprice", d, k = 256, nBuckets = 8)
        graft.etl.MaterializedQuantiles.refresh(s, d,
          orders.where(year(col("o_orderdate")) >= 1997),
          keys, "o_orderkey", "o_totalprice", k = 256, nBuckets = 8)
      }
      graft.etl.MaterializedQuantiles.read(s, path, keys, probs)
        .select(col("o_orderpriority"), col("n_sample"),
          col("p50"), col("p90"), col("p99"))
        .orderBy("o_orderpriority")
    }),

    // MaterializedCdc read (q216's state).
    "q265_cdc_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"cdcRead|$dir", "cdc-read") { d =>
        val ev = t(s, dir, "events")
        val cut = to_timestamp(lit("2024-01-15 00:00:00"))
        graft.etl.MaterializedCdc.create(ev.where(col("ts") < cut),
          "user_id", Seq("ts", "event_id"), "event_type", Seq("value"),
          d, nBuckets = 16)
        graft.etl.MaterializedCdc.refresh(s, d,
          ev.where(col("ts") >= cut), "user_id", Seq("ts", "event_id"),
          "event_type", Seq("value"), nBuckets = 16)
      }
      graft.etl.MaterializedCdc.read(s, path, "event_type", "error")
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    }),

    // MaterializedJoin read (q259's state, same final aggregation).
    "q266_mjoin_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"mjoinRead|$dir", "mjoin-read") { d =>
        val orders = t(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority")
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
        graft.etl.MaterializedJoin.create(
          orders.where(col("o_orderkey") % 4 =!= 0),
          li.where(col("l_linenumber") =!= 1),
          Seq("o_orderkey"), Seq("l_orderkey"), d, nBuckets = 16)
        graft.etl.MaterializedJoin.refresh(s, d,
          orders.where(col("o_orderkey") % 4 === 0),
          li.where(col("l_linenumber") === 1),
          Seq("o_orderkey"), Seq("l_orderkey"), nBuckets = 16)
      }
      graft.etl.MaterializedJoin.read(s, path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("l_extendedprice") * 100).cast("long"))
            .cast("double") / 100, 2).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // MaterializedCdc steady-state REFRESH: the delta re-applies on
    // every invocation — latest-per-key is a fixpoint, so the gate is
    // idempotent and measures the true per-refresh cost (delta merge
    // + touched-bucket rewrite), never the base build.
    "q267_cdc_refresh" -> ((s, dir) => {
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"cdcRefresh|$dir", "cdc-refresh") { d =>
        graft.etl.MaterializedCdc.create(
          t(s, dir, "events").where(col("ts") < cut),
          "user_id", Seq("ts", "event_id"), "event_type", Seq("value"),
          d, nBuckets = 16)
      }
      graft.etl.MaterializedCdc.refresh(s, path,
        t(s, dir, "events").where(col("ts") >= cut),
        "user_id", Seq("ts", "event_id"), "event_type", Seq("value"),
        nBuckets = 16)
      graft.etl.MaterializedCdc.read(s, path, "event_type", "error")
        .select("user_id", "ts", "event_id", "value")
        .orderBy("user_id")
    }),

    // MaterializedDistinct read (q179's incremental state) plus the
    // 5%-accuracy claim vs the exact scan (the estimate itself is not
    // SQL-portable; the boolean contract is).
    "q268_mdist_read" -> ((s, dir) => {
      val keys = Seq("event_type")
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"mdistRead|$dir", "mdist-read") { d =>
        val ev = t(s, dir, "events")
        graft.etl.MaterializedDistinct.create(
          ev.where(col("user_id") % 3 =!= 0), keys, "user_id", d,
          nBuckets = 8, lgK = 14)
        graft.etl.MaterializedDistinct.refresh(s, d,
          ev.where(col("user_id") % 3 === 0), keys, "user_id",
          nBuckets = 8, lgK = 14)
      }
      val exact = t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      graft.etl.MaterializedDistinct.read(s, path, keys)
        .join(exact, keys)
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_distinct_est") - col("n_exact"))
            <= col("n_exact") * 0.05).as("est_within_5pct"))
        .orderBy("event_type")
    }),

    // Zone-mapped layout read at the latest committed version (q251's
    // two-commit state): manifest-pruned scan, no build inside.
    "q269_layout_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"layoutRead|$dir", "layout-read") { d =>
        val ev = t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
        graft.etl.Layout.writeZoneMapped(
          ev.where(col("user_id") % 2 === 0), d, "user_id", 8)
        graft.etl.Layout.appendZoneMapped(
          ev.where(col("user_id") % 2 =!= 0), d, "user_id", 8)
      }
      graft.etl.Layout.readZoneMappedAsOf(s, path, 2L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // MV rewrite HIT over a standing materialization (q226's view,
    // registered once per JVM): the aggregate plan must be served
    // from the materialization by the rewrite rule.
    "q270_mv_read" -> ((s, dir) => {
      def agg = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_price"),
          count(lit(1)).as("n"))
      graft.etl.PrebuiltState.getOrCreate(s"mvRead|$dir", "mv-read") {
        d => graft.etl.Mv.register(agg, d)
      }
      agg.orderBy("l_returnflag", "l_linestatus")
    }),

    // Graph serve path (q80's steady-state twin): the derived trade
    // edge list persists ONCE (tradeEdges → parquet — the build-once/
    // query-many posture the LSH/IVF/posting indexes already take;
    // the fact joins are 85–95% of every graph gate's cost and
    // re-running them per analytics query is the anti-pattern), and
    // the gate body is read-index + iterate. Oracle = q80's verbatim:
    // the persisted edges must serve exactly the from-scratch rank.
    "q271_pagerank_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"tradeEdges|$dir", "trade-edges") { d =>
        graft.ops.Graph.tradeEdges(s, dir)
          .repartition(1).write.mode("overwrite").parquet(d)
      }
      val nodes = t(s, dir, "nation").select(col("n_nationkey").as("node"))
      graft.ops.Graph.pageRank(nodes, s.read.parquet(path),
          iters = 5, damping = 0.85)
        .join(broadcast(t(s, dir, "nation")),
          col("node") === col("n_nationkey"))
        .select(col("n_name"), col("pr"))
        .orderBy("n_name")
    }),

    // Degenerate-document parity gate: the corpus generators never
    // emit empty/whitespace-only/NULL text, so the per-row text
    // expressions' edge semantics (CharEntropy, PostingEntries, the
    // tokens() split contract) were spec-pinned but GATE-invisible.
    // This query appends four constructed degenerates to the corpus
    // and computes each expression over the union; the oracle builds
    // the same union in SQL, so the hash match covers exactly the
    // empty-input class. (Winnow is structurally exempt: its shared
    // `length >= 11` guard excludes degenerates on both sides.)
    "q272_degenerate_docs" -> ((s, dir) => {
      import s.implicits._
      val degenerates = Seq(
        (90000001L, ""), (90000002L, "   \t "),
        (90000003L, null.asInstanceOf[String]), (90000004L, "x"))
        .toDF("doc_id", "text")
      val aug = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(degenerates)
      // stage __es once per row (PostingEntries is single-eval but
      // NOT codegen'd — referencing it twice in one projection would
      // tokenize each doc twice)
      aug.select(col("doc_id"), col("text"),
          graft.expressions.PostingEntries(col("text")).as("__es"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          array_size(filter(graft.functions.TextFunctions.tokens(col("text")),
            w => length(w) >= 1)).cast("long").as("n_tokens"),
          array_size(col("__es")).cast("long").as("n_entries"),
          aggregate(col("__es"), lit(0L),
            (a, e) => a + e.getField("tf")).as("dl"),
          round(graft.functions.TextFunctions.charEntropy(col("text")), 6)
            .as("entropy"))
        .orderBy("doc_id")
    }),

    // BFS served from the persisted trade-edge list — q98's
    // steady-state twin, sharing q271's ONE `trade-edges` build (the
    // fact joins are the family's whole cost; one build serves
    // PageRank, BFS and triangles). Oracle = q98's verbatim.
    "q273_bfs_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"tradeEdges|$dir", "trade-edges") { d =>
        graft.ops.Graph.tradeEdges(s, dir)
          .repartition(1).write.mode("overwrite").parquet(d)
      }
      graft.ops.Graph.bfsLevels(
          s.read.parquet(path).select("src", "dst"),
          source = 0L, maxHops = 3)
        .select(col("node").cast("long").as("node"), col("lvl"))
        .orderBy("node")
    }),

    // Triangle counts from the same persisted edge list — q91's
    // steady-state twin. Oracle = q91's verbatim.
    "q274_triangles_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"tradeEdges|$dir", "trade-edges") { d =>
        graft.ops.Graph.tradeEdges(s, dir)
          .repartition(1).write.mode("overwrite").parquet(d)
      }
      graft.ops.Graph.triangles(s.read.parquet(path)).orderBy("node")
    }),

    // Supplier-customer degree histogram served from the persisted
    // DISTINCT pair list — q238's steady-state twin. The pair dedup
    // collapses the 60M-row orderkey join output to |supp × cust|
    // once at build; the serve is two small aggregations (pairs are
    // distinct, so per-supplier COUNT ≡ COUNT DISTINCT custkey).
    // Oracle = q238's verbatim.
    "q275_degree_read" -> ((s, dir) => {
      val path = graft.etl.PrebuiltState.getOrCreate(
          s"suppCustPairs|$dir", "supp-cust-pairs") { d =>
        val (li, od) = graft.etl.FactBuckets.orderkeyFacts(s, dir)
        li.join(od, col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey"), col("o_custkey")).distinct()
          .coalesce(4).write.mode("overwrite").parquet(d)
      }
      s.read.parquet(path)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_suppliers"))
        .orderBy("degree")
    })
  )

  /** Shared DuckDB CTE chain computing the gate-shape (8-perm, 4x2
    * band) MinHash near-dup pipeline up through exact verification —
    * interpolated into the q15 and q67 oracles so both gate the SAME
    * pair computation. */
  private val MinhashGateCtes: String = minhashGateCtes("documents")

  /** DuckDB CTE chain mirroring [[graft.ops.Winnow]]'s selection over
    * `src` with `sfx`-suffixed names (k = 8, w = 4, P = 1e6): packed
    * keys `h*P - i`, window mins, distinct unpack to (doc_id, pos,
    * fp). All arithmetic is 64-bit integer (no float in the unpack).
    * Suffix "" yields the q162/q163/q168 single-corpus chain; two
    * suffixed instances coexist in the q175 bipartite oracle. */
  private def winnowCtes(src: String, sfx: String): String =
    s"""wk$sfx AS (
       |  SELECT doc_id, text,
       |    list_transform(generate_series(1, length(text)-7),
       |      i -> CAST(('0x'||substr(md5(substr(text,i,8)),1,8)) AS BIGINT)
       |           * 1000000 - i) AS keys
       |  FROM $src WHERE length(text) >= 11
       |), wsel$sfx AS (
       |  SELECT doc_id, text,
       |    unnest(list_distinct(list_transform(generate_series(1, len(keys)-3),
       |      s -> list_min(keys[s:s+3])))) AS m
       |  FROM wk$sfx
       |), wfp$sfx AS (
       |  SELECT doc_id,
       |    CAST(((-m) % 1000000 + 1000000) % 1000000 AS BIGINT) AS pos,
       |    CAST(('0x'||substr(md5(substr(text,
       |      CAST(((-m)%1000000+1000000)%1000000 AS INT), 8)),1,8)) AS BIGINT)
       |      AS fp
       |  FROM wsel$sfx
       |)""".stripMargin

  private val WinnowCtes: String = winnowCtes("documents", "")

  /** Shared DuckDB CTE chain mirroring [[graft.ops.Linkage]]'s
    * blocking + block-size cap + Levenshtein verify (keyWidth 64,
    * blockWidth 8, blockCap 1000, maxDist 16) — interpolated into the
    * q164/q165 oracles. The cap CTE mirrors the skew guard exactly:
    * blocks holding more than 1000 records drop out of pairing on
    * both engines. */
  private val LinkCtes: String =
    """lrec AS (
      |  SELECT doc_id, lower(substr(text, 1, 64)) AS name FROM documents
      |  WHERE length(text) >= 16
      |), lblk AS (
      |  SELECT doc_id, name, 'p:' || substr(name, 1, 8) AS blk FROM lrec
      |  UNION ALL
      |  SELECT doc_id, name,
      |    's:' || substr(name, greatest(length(name)-7, 1)) AS blk
      |  FROM lrec
      |), lcap AS (
      |  SELECT doc_id, name, blk FROM (
      |    SELECT doc_id, name, blk,
      |      count(*) OVER (PARTITION BY blk) AS bn
      |    FROM lblk
      |  ) WHERE bn <= 1000
      |), lcand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM lcap a JOIN lcap b USING (blk)
      |  WHERE a.doc_id < b.doc_id
      |), llink AS (
      |  SELECT c.id_a, c.id_b,
      |    CAST(levenshtein(ra.name, rb.name) AS BIGINT) AS dist
      |  FROM lcand c JOIN lrec ra ON ra.doc_id = c.id_a
      |               JOIN lrec rb ON rb.doc_id = c.id_b
      |  WHERE levenshtein(ra.name, rb.name) <= 16
      |)""".stripMargin

  /** Shared DuckDB CTE chain for the duplicate-span queries:
    * positional 8-gram hashes (60-bit md5 — an INDEPENDENT keying
    * from the Spark side's xxhash64; both collision-free, so the
    * spans agree) -> corpus-wide hot grams -> merged maximal spans,
    * mirroring [[graft.ops.Dedup.duplicateSpans]]'s steps. */
  private val DupSpanCtes: String =
    s"""tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents
       |), gpos AS (
       |  SELECT doc_id, w, unnest(range(0, len(w) - 7)) AS pos FROM tok
       |), g AS (
       |  SELECT doc_id, pos,
       |    CAST(('0x'||substr(md5(
       |      array_to_string(list_slice(w, pos+1, pos+8), ' ')),1,15))
       |      AS BIGINT) AS gh
       |  FROM gpos
       |), hot AS (
       |  SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2
       |), hit AS (
       |  SELECT doc_id, pos, pos + 7 AS e FROM g JOIN hot USING (gh)
       |), brk AS (
       |  SELECT doc_id, pos, e,
       |    CASE WHEN COALESCE(MAX(e) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
       |        AND 1 PRECEDING), -2) < pos - 1
       |      THEN 1 ELSE 0 END AS b
       |  FROM hit
       |), isl AS (
       |  SELECT doc_id, pos, e,
       |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM brk
       |), spans AS (
       |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       |    CAST(MAX(e) AS BIGINT) AS span_end
       |  FROM isl GROUP BY doc_id, grp
       |)""".stripMargin

  /** Pinned BPE merge table for the q126 encode gate and the q120
    * token-budget counts — the production posture: a tokenizer is a
    * RELEASED artifact applied by rank, not retrained per job (the
    * training loop itself is [[graft.ops.Vocab.bpeTrain]], spec-gated
    * against a single-threaded reference). Rules chosen to exercise
    * multi-level cascades on the corpus vocabulary (s,c→sc→sca→scan;
    * j,o→jo→joi→join) and leftmost non-overlap (l,l on "small"). */
  val PinnedBpeMerges: Seq[(String, String)] = Seq(
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("j", "o"), ("jo", "i"), ("joi", "n"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
    ("r", "o"), ("ro", "w"),
    ("a", "t"), ("e", "r"), ("l", "l"))

  /** DuckDB mirror of [[graft.ops.Vocab.bpeEncodeFold]] over
    * [[PinnedBpeMerges]], GENERATED from the same table so the two
    * engines can never drift: frame every non-space char as
    * chr(31)‹c›chr(31), then one literal replace per merge rule in
    * rank order. */
  private val BpeApplySql: String = {
    val framed = """regexp_replace(trim(regexp_replace(text, '\s+', ' ', 'g')), '(\S)', chr(31)||'\1'||chr(31), 'g')"""
    PinnedBpeMerges.foldLeft(framed) { case (acc, (a, b)) =>
      s"replace($acc, chr(31)||'$a'||chr(31)||chr(31)||'$b'||chr(31), chr(31)||'$a$b'||chr(31))"
    }
  }

  /** Same chain over an arbitrary source relation (used by the
    * composite corpus-clean gate, which runs LSH on the GATED subset). */
  /** One SIDE of the bipartite fuzzy-join oracle: the same
    * tokens→shingles→md5-hash→8-LCG-minhash→4×2-band chain as
    * [[minhashGateCtes]], with `sfx`-suffixed CTE names so two sides
    * coexist in one query (the q140 mirror of
    * [[graft.ops.Dedup.fuzzyJoin]]). */
  private def minhashSideCtes(sfx: String, src: String): String =
    s"""toks$sfx AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM $src
       |), sh$sfx AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks$sfx
       |), ex$sfx AS (
       |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh$sfx
       |), h$sfx AS (
       |  SELECT doc_id, CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) AS h FROM ex$sfx
       |), sig$sfx AS (
       |  SELECT doc_id,
       |    MIN((1664525*h+1013904223) % 2147483647) AS mh0,
       |    MIN((22695477*h+1) % 2147483647) AS mh1,
       |    MIN((1103515245*h+12345) % 2147483647) AS mh2,
       |    MIN((134775813*h+1) % 2147483647) AS mh3,
       |    MIN((214013*h+2531011) % 2147483647) AS mh4,
       |    MIN((69069*h+7) % 2147483647) AS mh5,
       |    MIN((48271*h+11) % 2147483647) AS mh6,
       |    MIN((16807*h+3) % 2147483647) AS mh7
       |  FROM h$sfx GROUP BY 1
       |), bands$sfx AS (
       |  SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig$sfx UNION ALL
       |  SELECT doc_id, 1, mh2, mh3 FROM sig$sfx UNION ALL
       |  SELECT doc_id, 2, mh4, mh5 FROM sig$sfx UNION ALL
       |  SELECT doc_id, 3, mh6, mh7 FROM sig$sfx
       |)""".stripMargin

  /** The FULL [[graft.ops.CorpusClean.clean]] chain over `src` with
    * `sfx`-suffixed CTE names (exact dedup → quality/language gates →
    * in-batch MinHash near-dup with recursive transitive closure →
    * min-id survivors), ending in `clean\$sfx` — so TWO batch-clean
    * chains coexist in one query: the q167 oracle mirrors the
    * streaming ingest loop's per-epoch semantics batch by batch.
    * Gate predicates are verbatim the q105 oracle's. */
  private def cleanChainCtes(sfx: String, src: String): String =
    s"""dedup$sfx AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text,
       |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM $src) WHERE rn = 1
       |), tokg$sfx AS (
       |  SELECT doc_id, text,
       |         regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM dedup$sfx
       |), gated$sfx AS (
       |  SELECT doc_id, text FROM tokg$sfx
       |  WHERE len(w) BETWEEN 20 AND 100000
       |    AND len(list_filter(w, x ->
       |          x IN ('the','a','of','and','to','in','is')))*1.0/len(w)
       |        >= 0.01
       |    AND (length(text) - length(regexp_replace(text,
       |          '[^A-Za-z0-9\\s]', '', 'g')))*1.0/length(text) <= 0.3
       |    AND greatest(
       |          len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))),
       |          len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))),
       |          len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))) > 0
       |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
       |        >= len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un')))
       |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
       |        >= len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))
       |), ${minhashSideCtes(sfx, s"gated$sfx")},
       |cand$sfx AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands$sfx a JOIN bands$sfx b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |   AND a.doc_id < b.doc_id
       |), pairs$sfx AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand$sfx c
       |  JOIN ex$sfx ea ON ea.doc_id = c.doc_a
       |  JOIN ex$sfx eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
       |  GROUP BY 1, 2
       |  HAVING COUNT(1)*1.0/(MAX(ea.n)+MAX(eb.n)-COUNT(1)) >= 0.8
       |), edges$sfx AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs$sfx
       |  UNION SELECT doc_b, doc_a FROM pairs$sfx
       |), reach$sfx(src, dst) AS (
       |  SELECT src, dst FROM edges$sfx
       |  UNION
       |  SELECT r.src, e.dst FROM reach$sfx r JOIN edges$sfx e ON r.dst = e.src
       |), losers$sfx AS (
       |  SELECT src AS doc_id FROM reach$sfx GROUP BY src
       |  HAVING src <> LEAST(src, MIN(dst))
       |), clean$sfx AS (
       |  SELECT doc_id, text FROM gated$sfx
       |  WHERE doc_id NOT IN (SELECT doc_id FROM losers$sfx)
       |)""".stripMargin

  private def minhashGateCtes(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM $src
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
       |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
       |), ex AS (
       |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
       |), h AS (
       |  SELECT doc_id, CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) AS h FROM ex
       |), sig AS (
       |  SELECT doc_id,
       |    MIN((1664525*h+1013904223) % 2147483647) AS mh0,
       |    MIN((22695477*h+1) % 2147483647) AS mh1,
       |    MIN((1103515245*h+12345) % 2147483647) AS mh2,
       |    MIN((134775813*h+1) % 2147483647) AS mh3,
       |    MIN((214013*h+2531011) % 2147483647) AS mh4,
       |    MIN((69069*h+7) % 2147483647) AS mh5,
       |    MIN((48271*h+11) % 2147483647) AS mh6,
       |    MIN((16807*h+3) % 2147483647) AS mh7
       |  FROM h GROUP BY 1
       |), bands AS (
       |  SELECT doc_id, 0 AS band, mh0 AS k1, mh1 AS k2 FROM sig UNION ALL
       |  SELECT doc_id, 1, mh2, mh3 FROM sig UNION ALL
       |  SELECT doc_id, 2, mh4, mh5 FROM sig UNION ALL
       |  SELECT doc_id, 3, mh6, mh7 FROM sig
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |   AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(1) AS inter,
       |         MAX(ea.n) AS na, MAX(eb.n) AS nb
       |  FROM cand c
       |  JOIN ex ea ON ea.doc_id = c.doc_a
       |  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** Shared DuckDB CTE chain computing the deterministic IVF cell
    * assignment (stride-32 centroids, 9-digit-rounded argmin, id
    * tie-break) — interpolated into the q25 and q75 oracles so both
    * gate the SAME assignment. */
  private val IvfAssignCtes: String =
    """ex AS (
      |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
      |  FROM embeddings, generate_series(1, 64) AS t(i)
      |), selfdot AS (
      |  SELECT vec_id, SUM(v*v) AS sd FROM ex GROUP BY 1
      |), cents AS (
      |  SELECT vec_id AS cent_id FROM embeddings WHERE vec_id % 32 = 0
      |), cdist AS (
      |  SELECT a.vec_id, c.cent_id,
      |    ROUND(sa.sd - 2*SUM(a.v*b.v) + sc.sd, 9) AS dist
      |  FROM ex a
      |  JOIN cents c ON TRUE
      |  JOIN ex b ON b.vec_id = c.cent_id AND b.idx = a.idx
      |  JOIN selfdot sa ON sa.vec_id = a.vec_id
      |  JOIN selfdot sc ON sc.vec_id = c.cent_id
      |  GROUP BY a.vec_id, c.cent_id, sa.sd, sc.sd
      |), assigned AS (
      |  SELECT target_id, cent_id FROM (
      |    SELECT vec_id AS target_id, cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id
      |                         ORDER BY dist, cent_id) AS rn
      |    FROM cdist) WHERE rn = 1
      |)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared oracle for the hybrid BM25+TFIDF RRF ranker: q112
    * (inline postings) and q159 (persisted posting index) must
    * produce the IDENTICAL ranking. */
  /** The q157-derivation delta × standing-corpus bipartite near-dup —
    * shared verbatim by q158 (composed fuzzyJoin) and q171 (persisted
    * LSH index query), so the gate proves the two production paths
    * compute the same pair set. */
  private val IncrementalNearDupOracleSql: String =
    s"""WITH nw AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
       |  FROM documents WHERE doc_id % 37 <> 0
       |  UNION ALL
       |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
       |), delta AS (
       |  SELECT n.doc_id, n.text
       |  FROM nw n LEFT JOIN documents o ON o.doc_id = n.doc_id
       |  WHERE o.doc_id IS NULL OR o.text <> n.text
       |), ${minhashSideCtes("l", "delta")},
       |${minhashSideCtes("r", "documents")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
       |  FROM bandsl a JOIN bandsr b
       |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       |), verified AS (
       |  SELECT c.left_id, c.right_id, COUNT(1) AS inter,
       |         MAX(ea.n) AS na, MAX(eb.n) AS nb
       |  FROM cand c
       |  JOIN exl ea ON ea.doc_id = c.left_id
       |  JOIN exr eb ON eb.doc_id = c.right_id AND eb.s = ea.s
       |  GROUP BY 1, 2
       |)
       |SELECT left_id, right_id,
       |  ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
       |FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
       |ORDER BY 1, 2""".stripMargin

  /** The q176 oracle's EM recurrence, GENERATED so the SQL's operation
    * order provably matches [[graft.ops.Linkage.fellegiSunterEm]]'s
    * Scala loop (patterns ascending, fields ascending, left-associated
    * sums, identical clamps) — bit-identical learned parameters. */
  private val FsEmOracleSql: String = {
    val k = 3
    val pats = 0 until (1 << k)
    def fm(g: Int, i: Int) = if (((g >> i) & 1) == 1) s"m$i" else s"(1 - m$i)"
    def fu(g: Int, i: Int) = if (((g >> i) & 1) == 1) s"u$i" else s"(1 - u$i)"
    def pm(g: Int) = (0 until k).map(fm(g, _)).mkString("p * ", " * ", "")
    def pu(g: Int) = (0 until k).map(fu(g, _)).mkString("(1 - p) * ", " * ", "")
    val wDefs = pats.map(g =>
      s"(${pm(g)}) / ((${pm(g)}) + (${pu(g)})) AS w$g").mkString(", ")
    val sw = pats.map(g => s"c$g*w$g").mkString(" + ")
    val nn = pats.map(g => s"c$g").mkString(" + ")
    def clamp(x: String) =
      s"GREATEST(LEAST($x, 1 - 0.000001), 0.000001)"
    def mUpd(i: Int) = clamp("(" +
      pats.filter(g => ((g >> i) & 1) == 1).map(g => s"c$g*w$g")
        .mkString(" + ") + ") / sw")
    def uUpd(i: Int) = clamp("(" +
      pats.filter(g => ((g >> i) & 1) == 1).map(g => s"c$g*(1 - w$g)")
        .mkString(" + ") + ") / (nn - sw)")
    val cDefs = pats.map { g =>
      val conds = (0 until k).map(i =>
        s"g$i = ${(g >> i) & 1}").mkString(" AND ")
      s"COALESCE(SUM(CASE WHEN $conds THEN 1 ELSE 0 END), 0) AS c$g"
    }.mkString(",\n    ")
    def fieldW(i: Int) =
      s"(CASE WHEN f.g$i = 1 THEN LOG2(q.m$i / q.u$i) " +
        s"ELSE LOG2((1 - q.m$i) / (1 - q.u$i)) END)"
    s"""WITH RECURSIVE $LinkCtes,
       |fsflags AS (
       |  SELECT l.id_a, l.id_b,
       |    CASE WHEN l.dist <= 4 THEN 1 ELSE 0 END AS g0,
       |    CASE WHEN da.source = db.source THEN 1 ELSE 0 END AS g1,
       |    CASE WHEN FLOOR(da.n_chars/100.0) = FLOOR(db.n_chars/100.0)
       |      THEN 1 ELSE 0 END AS g2
       |  FROM llink l
       |  JOIN documents da ON da.doc_id = l.id_a
       |  JOIN documents db ON db.doc_id = l.id_b
       |), pat AS (
       |  SELECT
       |    $cDefs
       |  FROM fsflags
       |), em(it, p, m0, m1, m2, u0, u1, u2) AS (
       |  SELECT 0, CAST(0.1 AS DOUBLE),
       |    CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE), CAST(0.8 AS DOUBLE),
       |    CAST(0.1 AS DOUBLE), CAST(0.1 AS DOUBLE), CAST(0.1 AS DOUBLE)
       |  UNION ALL
       |  SELECT it + 1,
       |    ${clamp("sw / nn")},
       |    ${mUpd(0)}, ${mUpd(1)}, ${mUpd(2)},
       |    ${uUpd(0)}, ${uUpd(1)}, ${uUpd(2)}
       |  FROM (
       |    SELECT *, ($sw) AS sw, ($nn) AS nn
       |    FROM (
       |      SELECT em.*, pat.*, $wDefs
       |      FROM em, pat WHERE em.it < 20
       |    )
       |  )
       |), prm AS (
       |  SELECT * FROM em WHERE it = 20
       |)
       |SELECT f.id_a, f.id_b,
       |  ROUND(${fieldW(0)} + ${fieldW(1)} + ${fieldW(2)}, 6) AS weight,
       |  CASE WHEN ROUND(${fieldW(0)} + ${fieldW(1)} + ${fieldW(2)}, 6) >= 4.0
       |         THEN 'match'
       |       WHEN ROUND(${fieldW(0)} + ${fieldW(1)} + ${fieldW(2)}, 6) <= 0.0
       |         THEN 'non_match'
       |       ELSE 'possible' END AS decision
       |FROM fsflags f, prm q
       |ORDER BY 1, 2""".stripMargin
  }

  private val HybridRrfOracleSql: String =
    """WITH q(query_id, qtext) AS (
        |  VALUES (1, 'spark join fast'), (2, 'hash table scan'),
        |         (3, 'stream window state')
        |), post AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(1) AS tf FROM post GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(1) AS n, AVG(dl) AS avgdl FROM dl
        |), dfreq AS (
        |  SELECT token, COUNT(1) AS df FROM tf GROUP BY 1
        |), qt AS (
        |  SELECT query_id, unnest(list_distinct(regexp_split_to_array(qtext, '\s+'))) AS token
        |  FROM q
        |), scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5)/(d.df + 0.5))
        |      * tf.tf * (1.2 + 1.0)
        |      / (tf.tf + 1.2*(1.0 - 0.75 + 0.75*dl.dl/s.avgdl))), 6) AS score
        |  FROM tf
        |  JOIN qt ON qt.token = tf.token
        |  JOIN dfreq d ON d.token = tf.token
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2
        |), bml AS (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rank
        |  FROM scored
        |  QUALIFY rank <= 20
        |), wtd AS (
        |  SELECT doc_id, token, tf,
        |    COUNT(1) OVER (PARTITION BY token) AS df,
        |    tf * ln((SELECT n FROM stats) * 1.0
        |            / COUNT(1) OVER (PARTITION BY token)) AS w
        |  FROM tf
        |  QUALIFY w > 0
        |), dnorm AS (
        |  SELECT doc_id, sqrt(SUM(w*w)) AS dn FROM wtd GROUP BY 1
        |), vocab AS (
        |  SELECT token, MAX(df) AS df FROM wtd GROUP BY 1
        |), qw AS (
        |  SELECT query_id, qt.token,
        |    ln((SELECT n FROM stats) * 1.0 / df) AS qw
        |  FROM qt JOIN vocab USING (token)
        |  WHERE ln((SELECT n FROM stats) * 1.0 / df) > 0
        |), qnorm AS (
        |  SELECT query_id, sqrt(SUM(qw*qw)) AS qn FROM qw GROUP BY 1
        |), tdots AS (
        |  SELECT qw.query_id, wtd.doc_id, SUM(wtd.w * qw.qw) AS dot
        |  FROM wtd JOIN qw ON qw.token = wtd.token
        |  GROUP BY 1, 2
        |), tscored AS (
        |  SELECT query_id, doc_id, ROUND(dot/(dn*qn), 6) AS score
        |  FROM tdots JOIN dnorm USING (doc_id) JOIN qnorm USING (query_id)
        |), tfl AS (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rank
        |  FROM tscored
        |  QUALIFY rank <= 20
        |), fused AS (
        |  SELECT COALESCE(b.query_id, t.query_id) AS query_id,
        |         COALESCE(b.doc_id, t.doc_id) AS doc_id,
        |         ROUND(COALESCE(CAST(1 AS DOUBLE)/(60 + b.rank), 0)
        |             + COALESCE(CAST(1 AS DOUBLE)/(60 + t.rank), 0), 6) AS rrf
        |  FROM bml b FULL OUTER JOIN tfl t
        |    ON b.query_id = t.query_id AND b.doc_id = t.doc_id
        |)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf,
        |       CAST(rnk AS BIGINT) AS rank
        |FROM (SELECT query_id, doc_id, rrf,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY rrf DESC, doc_id) AS rnk
        |      FROM fused)
        |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "q01_weekly_compound" ->
      s"""WITH daily AS ($dailyReturnsSql)
         |SELECT fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week,
         |       ROUND(EXP(SUM(LN(1 + r))) - 1, 6) AS weekly_return
         |FROM daily WHERE isodow(mdate) <= 5
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q02_running_compound" ->
      s"""WITH daily AS ($dailyReturnsSql)
         |SELECT event_id, fund_id, rtype, mdate,
         |       strftime(mdate, '%Y-%W') AS year_week,
         |       ROUND(EXP(SUM(LN(1 + r)) OVER (
         |         PARTITION BY fund_id, rtype, strftime(mdate, '%Y-%W')
         |         ORDER BY mdate)) - 1, 6) AS compound_evolution
         |FROM daily WHERE isodow(mdate) <= 5
         |ORDER BY event_id""".stripMargin,

    "q03_key_uniqueness" ->
      """SELECT l_orderkey, l_linenumber, COUNT(1) AS cnt
        |FROM lineitem GROUP BY 1, 2 HAVING COUNT(1) > 1
        |ORDER BY 1, 2""".stripMargin,

    "q04_grouped_avg_topn" ->
      """SELECT n_name, year(o_orderdate) AS yr,
        |       ROUND(AVG(o_totalprice), 4) AS avg_price,
        |       COUNT(1) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 10""".stripMargin,

    "q05_filter_project" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin,

    "q06_count" -> "SELECT COUNT(1) AS cnt FROM lineitem",

    "q07_union" ->
      """SELECT event_id, user_id, value FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q08_agg_join_back" ->
      s"""WITH daily AS (
         |  SELECT event_id, fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week, r
         |  FROM ($dailyReturnsSql)
         |), weekly AS (
         |  SELECT fund_id, rtype, year_week, ROUND(SUM(r), 9) AS weekly_sum
         |  FROM daily GROUP BY 1, 2, 3
         |)
         |SELECT d.event_id, d.fund_id, d.rtype, d.year_week, w.weekly_sum
         |FROM daily d
         |JOIN weekly w ON d.fund_id = w.fund_id AND d.rtype = w.rtype
         |             AND d.year_week = w.year_week
         |ORDER BY d.event_id""".stripMargin,

    "q09_rename_project" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        |       l_quantity AS quantity
        |FROM lineitem ORDER BY 1, 2, 3""".stripMargin,

    "q10_having_avg" ->
      """SELECT user_id, COUNT(1) AS n_events, ROUND(AVG(value), 6) AS avg_value
        |FROM events GROUP BY 1 HAVING COUNT(1) > 10 ORDER BY 1""".stripMargin,

    "q11_sort_limit" ->
      """SELECT l_extendedprice, l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,

    "q12_week_key" ->
      """SELECT DISTINCT CAST(ts AS DATE) AS mdate,
        |       strftime(CAST(ts AS DATE), '%Y-%W') AS year_week
        |FROM events ORDER BY 1""".stripMargin,

    "q13_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
        |       COUNT(1) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS inter,
         |         MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
         |FROM pairs WHERE inter*1.0/(na+nb-inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "q15_minhash_lsh" ->
      s"""WITH $MinhashGateCtes
         |SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
         |FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "q67_dedup_clusters" ->
      s"""WITH RECURSIVE $MinhashGateCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |)
         |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "q16_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS h FROM toks
         |), bits AS (
         |  SELECT doc_id, t.bit,
         |         SUM(CASE WHEN (h >> t.bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
         |  FROM h, range(0, 32) AS t(bit) GROUP BY 1, 2
         |)
         |SELECT doc_id,
         |       CAST(SUM(CASE WHEN bitsum > 0
         |                     THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_text_stats" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), m AS (
         |  SELECT doc_id, text, w,
         |    len(w) AS n_tokens,
         |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS sw_hits,
         |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))*1.0
         |      / length(text) AS praw
         |  FROM t
         |)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(list_sum(list_transform(w, x -> CAST(ceil(length(x)/4.0) AS BIGINT))) AS BIGINT) AS bpe_est,
         |  ROUND(list_sum(list_transform(w, x -> length(x)))*1.0/n_tokens, 6) AS avg_token_len,
         |  ROUND(sw_hits*1.0/n_tokens, 6) AS stopword_ratio,
         |  ROUND(praw, 6) AS punct_ratio,
         |  ROUND(0.5*least(1.0, n_tokens/100.0) + 0.3*(1.0 - praw)
         |        + 0.2*least(1.0, sw_hits*5.0/n_tokens), 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin,

    "q19_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS en_hits,
         |    len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))) AS es_hits,
         |    len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des'))) AS fr_hits
         |  FROM t
         |)
         |SELECT doc_id, CAST(en_hits AS BIGINT) AS en_hits,
         |  CASE WHEN greatest(en_hits, es_hits, fr_hits) = 0 THEN 'unk'
         |       WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
         |       WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin,

    "q20_fingerprint" ->
      """SELECT doc_id,
        |  list_min(list_transform(generate_series(1, length(text)-4),
        |    i -> CAST(('0x'||substr(md5(substr(text,i,5)),1,8)) AS BIGINT))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q17_ann_cosine" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS target_id, SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx
        |   AND a.vec_id < 10 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), cos AS (
        |  SELECT query_id, target_id, ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = query_id
        |            JOIN norms nb ON nb.vec_id = target_id
        |), ranked AS (
        |  SELECT query_id, target_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, target_id) AS rank
        |  FROM cos
        |)
        |SELECT query_id, target_id, cosine, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q21_event_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q22_sliding_window" ->
      """WITH b AS (
        |  SELECT make_timestamp(CAST(floor(epoch(ts)/1800)*1800*1000000 AS BIGINT)) AS b0,
        |         value
        |  FROM events
        |), w AS (
        |  SELECT unnest([b0, b0 - INTERVAL 30 MINUTE]) AS window_start, value FROM b
        |)
        |SELECT window_start, COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "q23_sessionize" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), f AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM l
        |), s AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       date_trunc('second', MIN(ts)) AS session_start,
        |       COUNT(1) AS n_events, ROUND(SUM(value), 4) AS sum_value,
        |       CAST(epoch(date_trunc('second', MAX(ts)))
        |            - epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS duration_s
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q24_embedding_neardup" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |FROM dots JOIN norms na ON na.vec_id = doc_a
        |          JOIN norms nb ON nb.vec_id = doc_b
        |WHERE dot/(na.nrm*nb.nrm) >= 0.4
        |ORDER BY 1, 2""".stripMargin,

    // Same IVF algorithm as Similarity.ivfTopK, re-derived in SQL:
    // centroids = every 32nd vec_id; each vector is assigned to the
    // centroid minimizing ROUND(|t|^2 - 2<t,c> + |c|^2, 9) (ties ->
    // smallest cent_id); queries (vec_id < 10) probe their 4 nearest
    // cells; exact cosine rank within probed cells.
    "q25_ann_ivf" ->
      s"""WITH $IvfAssignCtes, probes AS (
        |  SELECT query_id, cent_id FROM (
        |    SELECT vec_id AS query_id, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |                         ORDER BY dist, cent_id) AS rn
        |    FROM cdist WHERE vec_id < 10) WHERE rn <= 4
        |), cos AS (
        |  SELECT p.query_id, a.target_id,
        |    ROUND(SUM(qe.v*te.v) / (sqrt(sq.sd)*sqrt(st.sd)), 6) AS cosine
        |  FROM probes p
        |  JOIN assigned a ON a.cent_id = p.cent_id
        |   AND a.target_id <> p.query_id
        |  JOIN ex qe ON qe.vec_id = p.query_id
        |  JOIN ex te ON te.vec_id = a.target_id AND te.idx = qe.idx
        |  JOIN selfdot sq ON sq.vec_id = p.query_id
        |  JOIN selfdot st ON st.vec_id = a.target_id
        |  GROUP BY p.query_id, a.target_id, sq.sd, st.sd
        |), ranked AS (
        |  SELECT query_id, target_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, target_id) AS rank
        |  FROM cos
        |)
        |SELECT query_id, target_id, cosine, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q26_percentiles" ->
      """SELECT event_type,
        |       ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |       ROUND(quantile_cont(value, 0.9), 6) AS p90
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q27_rollup" ->
      """SELECT event_type, COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "q28_ranking" ->
      """SELECT event_id, user_id,
        |       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |       LAG(value, 1) OVER w AS prev_value,
        |       LEAD(value, 1) OVER w AS next_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q30_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q32_simhash_neardup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS h FROM toks
         |), bits AS (
         |  SELECT doc_id, t.bit,
         |         SUM(CASE WHEN (h >> t.bit) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
         |  FROM h, range(0, 32) AS t(bit) GROUP BY 1, 2
         |), sig AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN bitsum > 0
         |                       THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS sh
         |  FROM bits GROUP BY 1
         |), bands AS (
         |  SELECT doc_id, sh, t.b AS band, (sh >> (t.b*8)) & 255 AS bkey
         |  FROM sig, range(0, 4) AS t(b)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.sh AS sha, b.sh AS shb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b,
         |       CAST(bit_count(CAST(xor(sha, shb) AS BIGINT)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(CAST(xor(sha, shb) AS BIGINT)) <= 0
         |ORDER BY 1, 2""".stripMargin,

    "q33_setops" ->
      """WITH clicks AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'click'
        |), buys AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'purchase'
        |)
        |SELECT user_id, d, 'both' AS kind FROM clicks INTERSECT SELECT user_id, d, 'both' FROM buys
        |UNION ALL
        |(SELECT user_id, d, 'click_only' AS kind FROM clicks EXCEPT SELECT user_id, d, 'click_only' FROM buys)
        |ORDER BY kind, user_id, d""".stripMargin,

    "q34_correlated" ->
      """SELECT c_custkey, c_name,
        |       (SELECT COUNT(1) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c ORDER BY c_custkey""".stripMargin,

    "q31_asof_join" ->
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |ORDER BY e.event_id""".stripMargin,

    "q29_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q35_left_outer" ->
      """SELECT c_custkey, c_name, n_urgent, urgent_total
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(1) AS n_urgent,
        |         ROUND(SUM(o_totalprice), 4) AS urgent_total
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
        |) u ON c_custkey = u.o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q36_full_outer" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(1) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), buys AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, COUNT(1) AS n_buys
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        |)
        |SELECT user_id, d, n_clicks, n_buys
        |FROM clicks FULL OUTER JOIN buys USING (user_id, d)
        |ORDER BY user_id, d""".stripMargin,

    "q37_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q38_cube" ->
      """SELECT event_type, year(ts) AS yr, COUNT(1) AS n,
        |       ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY CUBE(event_type, year(ts))
        |ORDER BY event_type ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin,

    "q39_grouping_sets" ->
      """SELECT event_type, user_id % 10 AS cohort,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (cohort), ())
        |ORDER BY event_type ASC NULLS FIRST, cohort ASC NULLS FIRST""".stripMargin,

    "q40_pivot" ->
      """SELECT user_id,
        |  ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        |  ROUND(SUM(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
        |  ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        |  ROUND(SUM(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        |  ROUND(SUM(CASE WHEN event_type = 'view' THEN value END), 4) AS view
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q41_explode_pos" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 50
        |), ex AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
        |    i -> {'pos': i, 'token': w[i]})) AS u
        |  FROM toks
        |)
        |SELECT doc_id, CAST(u.pos AS BIGINT) AS pos, u.token AS token
        |FROM ex ORDER BY doc_id, pos""".stripMargin,

    "q42_window_frames" ->
      """SELECT event_id, user_id,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS sum_last4,
        |  ROUND(MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_max,
        |  ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING), 6) AS avg_next3
        |FROM events ORDER BY event_id""".stripMargin,

    "q43_string_pack" ->
      """SELECT c_custkey, upper(c_name) AS name_u, lower(c_mktsegment) AS seg_l,
        |  substr(c_name, 1, 8) AS name_pfx,
        |  concat_ws('|', c_name, c_mktsegment) AS nm_seg,
        |  regexp_extract(c_name, '([0-9]+)$', 1) AS cust_num,
        |  regexp_replace(c_name, '[0-9]', 'x', 'g') AS name_mask,
        |  length(c_name) AS name_len,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q44_date_pack" ->
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  last_day(o_orderdate) AS month_end,
        |  date_diff('day', DATE '1992-01-01', o_orderdate) AS days_since,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  quarter(o_orderdate) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q45_conditional_agg" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN value > 900 THEN 1 END) AS n_big,
        |  ROUND(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS click_sum,
        |  ROUND(AVG(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END), 6) AS buy_share
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q46_stats_agg" ->
      """SELECT event_type,
        |  ROUND(stddev_samp(value), 4) AS sd,
        |  ROUND(var_samp(value), 2) AS vr,
        |  ROUND(corr(value, CAST(user_id AS DOUBLE)), 6) AS cor,
        |  ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 2) AS cov
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q47_window_nav" ->
      """SELECT event_id,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(percent_rank() OVER w, 9) AS pr,
        |  ROUND(cume_dist() OVER w, 9) AS cd,
        |  first_value(value) OVER w AS first_v,
        |  nth_value(value, 2) OVER w AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q48_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q49_string_agg" ->
      """SELECT user_id,
        |       string_agg(event_type, ',' ORDER BY event_id) AS types_csv
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q50_count_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS u_users,
        |       COUNT(DISTINCT CAST(ts AS DATE)) AS u_days, COUNT(1) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q52_range_join" ->
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS w_start,
        |         epoch_us(ts) + 7200000000 AS w_end
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT w.win_id, e.event_id
        |FROM events e JOIN wins w
        |  ON e.user_id = w.user_id AND epoch_us(e.ts) >= w.w_start
        | AND epoch_us(e.ts) <= w.w_end
        |ORDER BY 1, 2""".stripMargin,

    "q53_interval_overlap" ->
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 72000000000 AS e
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT a.win_id AS win_a, b.win_id AS win_b
        |FROM wins a JOIN wins b
        |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
        | AND a.win_id < b.win_id
        |ORDER BY 1, 2""".stripMargin,

    "q54_regression" ->
      """SELECT event_type,
        |  ROUND(regr_slope(value, x), 6) AS slope,
        |  ROUND(regr_intercept(value, x), 4) AS icept,
        |  ROUND(regr_r2(value, x), 9) AS r2,
        |  regr_count(value, x) AS n
        |FROM (SELECT event_type, value,
        |        CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS DOUBLE) AS x
        |      FROM events)
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q55_bitbool_aggs" ->
      """SELECT event_type,
        |  bit_and(user_id) AS band, bit_or(user_id) AS bor,
        |  bit_xor(user_id) AS bxor,
        |  bool_and(value > 10) AS all_gt10,
        |  bool_or(value > 990) AS any_gt990
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q56_null_scalars" ->
      """SELECT l_orderkey, l_linenumber,
        |  greatest(l_quantity, l_discount * 100) AS g,
        |  least(l_quantity, l_extendedprice / 1000) AS l,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS rf
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q63_setops_all" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'click'
        |), views AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events
        |  WHERE event_type = 'view'
        |)
        |SELECT user_id, d, 'both' AS kind FROM clicks
        |INTERSECT ALL SELECT user_id, d, 'both' FROM views
        |UNION ALL
        |(SELECT user_id, d, 'click_only' AS kind FROM clicks
        | EXCEPT ALL SELECT user_id, d, 'click_only' FROM views)
        |ORDER BY kind, user_id, d""".stripMargin,

    "q64_paragraph_dedup" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), chunks AS (
        |  SELECT doc_id,
        |         array_to_string(w[(i-1)*8+1 : i*8], ' ') AS para
        |  FROM words,
        |       unnest(generate_series(1,
        |         CAST(ceil(len(w) / 8.0) AS BIGINT))) AS t(i)
        |)
        |SELECT md5(para) AS para_hash,
        |       count(DISTINCT doc_id) AS doc_freq,
        |       count(*) AS n_occ
        |FROM chunks GROUP BY 1
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY para_hash""".stripMargin,

    "q65_minhash_prod" -> {
      // Generated 128-perm / 32x4-band DuckDB formulation; the LCG
      // constants come from the SAME deterministic table as the Spark
      // side (TextFunctions.minhashPermsFor) so both engines compute
      // identical signatures.
      val perms = graft.functions.TextFunctions.minhashPermsFor(128)
      val sigCols = perms.zipWithIndex.map { case ((a, b), i) =>
        s"MIN(($a*h+$b) % 2147483647) AS mh$i"
      }.mkString(",\n    ")
      val bandRows = (0 until 32).map { i =>
        val ks = (0 until 4).map(j => s"mh${i * 4 + j}")
        if (i == 0)
          s"SELECT doc_id, 0 AS band, " +
            ks.zipWithIndex.map { case (k, j) => s"$k AS k${j + 1}" }
              .mkString(", ") + " FROM sig"
        else s"SELECT doc_id, $i, ${ks.mkString(", ")} FROM sig"
      }.mkString(" UNION ALL\n  ")
      s"""WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
), h AS (
  SELECT doc_id, CAST(('0x'||substr(md5(s),1,8)) AS BIGINT) AS h FROM ex
), sig AS (
  SELECT doc_id,
    $sigCols
  FROM h GROUP BY 1
), bands AS (
  $bandRows
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
   AND a.k3 = b.k3 AND a.k4 = b.k4 AND a.doc_id < b.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b, COUNT(1) AS inter,
         MAX(ea.n) AS na, MAX(eb.n) AS nb
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_a
  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
ORDER BY 1, 2"""
    },

    "q66_token_shards" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, CAST(off // 4096 AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    "q68_hash_split" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8))
        |           AS BIGINT) AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CASE WHEN shuffle_key % 10000 < 1000 THEN 'val'
        |            WHEN shuffle_key % 10000 < 2000 THEN 'test'
        |            ELSE 'train' END AS split,
        |       shuffle_key
        |FROM k ORDER BY doc_id""".stripMargin,

    "q69_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), grams AS (
         |  SELECT doc_id, len(w) AS n_tokens,
         |         GREATEST(len(w) - 2, 0) AS n_grams,
         |         len(list_distinct(list_transform(generate_series(1, len(w)-2),
         |           i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS n_distinct
         |  FROM toks
         |), top AS (
         |  SELECT doc_id, MAX(c) AS top_c FROM (
         |    SELECT doc_id, tok, COUNT(1) AS c
         |    FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
         |    GROUP BY doc_id, tok)
         |  GROUP BY doc_id
         |)
         |SELECT g.doc_id, g.n_tokens, g.n_grams,
         |       ROUND(CASE WHEN g.n_grams > 0
         |                  THEN 1.0 - n_distinct*1.0/g.n_grams
         |                  ELSE 0 END, 6) AS dup_ngram_frac,
         |       ROUND(top_c*1.0/g.n_tokens, 6) AS top_token_frac
         |FROM grams g JOIN top USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q70_contamination" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-4),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS shingles
         |  FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), bench AS (
         |  SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
         |), cand AS (
         |  SELECT * FROM ex WHERE doc_id % 97 <> 0
         |)
         |SELECT doc_id, MAX(n) AS n_shingles,
         |       CAST(SUM(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_hit,
         |       ROUND(SUM(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END)
         |             * 1.0 / MAX(n), 6) AS contamination
         |FROM cand GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q71_tfidf_keywords" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, token, COUNT(1) AS tf FROM toks GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT token, COUNT(1) AS df FROM tf GROUP BY 1
         |), n AS (
         |  SELECT COUNT(1) AS n FROM documents
         |), ranked AS (
         |  SELECT doc_id, token, tf, df,
         |         ROUND(tf * ln(n*1.0/df), 6) AS score,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id
         |           ORDER BY ROUND(tf * ln(n*1.0/df), 6) DESC, token) AS rank
         |  FROM tf JOIN dfreq USING (token), n
         |)
         |SELECT doc_id, token, tf, df, score, rank
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q62_lateral" ->
      """SELECT n_name, c.c_name, c.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2
        |) AS c
        |ORDER BY n_name, c_acctbal DESC, c_name""".stripMargin,

    "q61_recursive_spine" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
        |  FROM events
        |), spine(d, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT CAST(d + INTERVAL 1 DAY AS DATE), hi FROM spine
        |  WHERE d < hi
        |), daily AS (
        |  SELECT CAST(ts AS DATE) AS d2, COUNT(1) AS n
        |  FROM events GROUP BY 1
        |)
        |SELECT d, COALESCE(n, 0) AS n
        |FROM spine LEFT JOIN daily ON d = d2
        |ORDER BY d""".stripMargin,

    "q60_variant" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
        |ORDER BY event_id""".stripMargin,

    "q59_group_attach_window" ->
      s"""WITH daily AS (
         |  SELECT event_id, fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week, r
         |  FROM ($dailyReturnsSql)
         |)
         |SELECT event_id, fund_id, rtype, year_week,
         |  ROUND(SUM(r) OVER (PARTITION BY fund_id, rtype, year_week), 9)
         |    AS weekly_sum
         |FROM daily ORDER BY event_id""".stripMargin,

    "q58_range_frame" ->
      """SELECT event_id, user_id,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS roll_1h
        |FROM events ORDER BY event_id""".stripMargin,

    "q57_topk_per_group" ->
      """SELECT user_id, event_id, value, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT user_id, event_id, value,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |                           ORDER BY value DESC, event_id) AS rn
        |      FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rank""".stripMargin,

    "q51_asof_forward" ->
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF LEFT JOIN rates r ON e.user_id = r.user_id AND r.upd_ts >= e.ts
        |ORDER BY e.event_id""".stripMargin,

    "q72_pii_redact" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    'reach '||c_name||' at user'||CAST(c_custkey AS VARCHAR)
        |    ||'@mail.example.com or +1-555-'
        |    ||lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |    ||' host 10.'||CAST(c_custkey % 250 AS VARCHAR)
        |    ||'.'||CAST((c_custkey*7) % 250 AS VARCHAR)||'.42 ok' AS contact
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |    '\+[0-9]{1,3}(-[0-9]{2,4}){2,4}', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(contact,
        |    '\+[0-9]{1,3}(-[0-9]{2,4}){2,4}')) AS n_phone,
        |  len(regexp_extract_all(contact,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip
        |FROM c ORDER BY c_custkey""".stripMargin,

    "q73_source_cap" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS hk
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
        |  FROM h
        |)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "q74_bm25" ->
      """WITH q(query_id, qtext) AS (
        |  VALUES (1, 'spark join fast'), (2, 'hash table scan'),
        |         (3, 'stream window state')
        |), post AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, COUNT(1) AS tf FROM post GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT COUNT(1) AS n, AVG(dl) AS avgdl FROM dl
        |), dfreq AS (
        |  SELECT token, COUNT(1) AS df FROM tf GROUP BY 1
        |), qt AS (
        |  SELECT query_id, unnest(list_distinct(regexp_split_to_array(qtext, '\s+'))) AS token
        |  FROM q
        |), scored AS (
        |  SELECT qt.query_id, tf.doc_id,
        |    ROUND(SUM(ln(1.0 + (s.n - d.df + 0.5)/(d.df + 0.5))
        |      * tf.tf * (1.2 + 1.0)
        |      / (tf.tf + 1.2*(1.0 - 0.75 + 0.75*dl.dl/s.avgdl))), 6) AS score
        |  FROM tf
        |  JOIN qt ON qt.token = tf.token
        |  JOIN dfreq d ON d.token = tf.token
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, doc_id) AS rank
        |  FROM scored
        |)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
        |       CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q75_semantic_dedup" ->
      s"""WITH $IvfAssignCtes, pairs AS (
         |  SELECT a.cent_id, a.target_id AS doc_a, b.target_id AS doc_b
         |  FROM assigned a JOIN assigned b
         |    ON a.cent_id = b.cent_id AND a.target_id < b.target_id
         |), cos AS (
         |  SELECT p.doc_a, p.doc_b, p.cent_id,
         |    ROUND(SUM(ea.v*eb.v)/(sqrt(sa.sd)*sqrt(sb.sd)), 6) AS cosine
         |  FROM pairs p
         |  JOIN ex ea ON ea.vec_id = p.doc_a
         |  JOIN ex eb ON eb.vec_id = p.doc_b AND eb.idx = ea.idx
         |  JOIN selfdot sa ON sa.vec_id = p.doc_a
         |  JOIN selfdot sb ON sb.vec_id = p.doc_b
         |  GROUP BY p.doc_a, p.doc_b, p.cent_id, sa.sd, sb.sd
         |)
         |SELECT doc_a, doc_b, cent_id, cosine FROM cos
         |WHERE cosine >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,

    "q76_quality_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    length(regexp_replace(text, '\s+', '', 'g'))*1.0/len(w) AS mwl,
        |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))*1.0
        |      / length(text) AS sr,
        |    CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
        |      AS BIGINT) AS stopword_hits
        |  FROM t
        |)
        |SELECT doc_id, n_tokens,
        |  ROUND(mwl, 6) AS mean_word_len,
        |  ROUND(sr, 6) AS symbol_ratio,
        |  stopword_hits,
        |  (n_tokens >= 30 AND n_tokens <= 80) AS pass_tokens,
        |  (mwl >= 4.0 AND mwl <= 5.0) AS pass_word_len,
        |  (sr <= 0.05) AS pass_symbols,
        |  (stopword_hits >= 2) AS pass_stopwords,
        |  (n_tokens >= 30 AND n_tokens <= 80 AND mwl >= 4.0 AND mwl <= 5.0
        |    AND sr <= 0.05 AND stopword_hits >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    // identical formulation to q14 on purpose: q77 gates a DIFFERENT
    // Spark algorithm (prefix filtering) against the same ground truth
    "q77_jaccard_prefix" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-2),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM toks
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(1) AS inter,
         |         MAX(a.n) AS na, MAX(b.n) AS nb
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
         |FROM pairs WHERE inter*1.0/(na+nb-inter) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "q78_lm_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
        |  FROM t WHERE len(w) >= 2
        |), model AS (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bg GROUP BY 1, 2
        |), model2 AS (
        |  SELECT w1, w2, c12, SUM(c12) OVER (PARTITION BY w1) AS c1 FROM model
        |), v AS (
        |  SELECT COUNT(DISTINCT w1) AS v FROM model
        |), scored AS (
        |  SELECT b.doc_id, ln((m.c12 + 0.5)/(m.c1 + 0.5*v.v)) AS logp
        |  FROM bg b JOIN model2 m ON m.w1 = b.w1 AND m.w2 = b.w2, v
        |)
        |SELECT doc_id, COUNT(1) AS n_bigrams,
        |  ROUND(AVG(logp), 6) AS avg_logp,
        |  ROUND(exp(-AVG(logp)), 6) AS ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // two Lloyd updates unrolled: assign to stride start (a0), means
    // (c1), reassign (a1), means (c2), final assignment under c2 —
    // exactly Cluster.kmeans(iters = 2)'s schedule
    "q79_kmeans" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), selfdot AS (
        |  SELECT vec_id, SUM(v*v) AS sd FROM ex GROUP BY 1
        |), c0 AS (
        |  SELECT vec_id AS cent_id, idx, v AS m FROM ex WHERE vec_id % 32 = 0
        |), c0sc AS (
        |  SELECT cent_id, SUM(m*m) AS sc FROM c0 GROUP BY 1
        |), d0 AS (
        |  SELECT a.vec_id, c.cent_id,
        |    ROUND(sa.sd - 2*SUM(a.v*c.m) + cs.sc, 9) AS dist
        |  FROM ex a JOIN c0 c ON c.idx = a.idx
        |  JOIN selfdot sa ON sa.vec_id = a.vec_id
        |  JOIN c0sc cs ON cs.cent_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, sa.sd, cs.sc
        |), a0 AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT vec_id, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |    FROM d0) WHERE rn = 1
        |), c1 AS (
        |  SELECT a0.cent_id, e.idx, ROUND(SUM(e.v)/COUNT(1), 6) AS m
        |  FROM a0 JOIN ex e ON e.vec_id = a0.vec_id GROUP BY 1, 2
        |), c1sc AS (
        |  SELECT cent_id, SUM(m*m) AS sc FROM c1 GROUP BY 1
        |), d1 AS (
        |  SELECT a.vec_id, c.cent_id,
        |    ROUND(sa.sd - 2*SUM(a.v*c.m) + cs.sc, 9) AS dist
        |  FROM ex a JOIN c1 c ON c.idx = a.idx
        |  JOIN selfdot sa ON sa.vec_id = a.vec_id
        |  JOIN c1sc cs ON cs.cent_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, sa.sd, cs.sc
        |), a1 AS (
        |  SELECT vec_id, cent_id FROM (
        |    SELECT vec_id, cent_id,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |    FROM d1) WHERE rn = 1
        |), c2 AS (
        |  SELECT a1.cent_id, e.idx, ROUND(SUM(e.v)/COUNT(1), 6) AS m
        |  FROM a1 JOIN ex e ON e.vec_id = a1.vec_id GROUP BY 1, 2
        |), c2sc AS (
        |  SELECT cent_id, SUM(m*m) AS sc FROM c2 GROUP BY 1
        |), d2 AS (
        |  SELECT a.vec_id, c.cent_id,
        |    ROUND(sa.sd - 2*SUM(a.v*c.m) + cs.sc, 9) AS dist
        |  FROM ex a JOIN c2 c ON c.idx = a.idx
        |  JOIN selfdot sa ON sa.vec_id = a.vec_id
        |  JOIN c2sc cs ON cs.cent_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, sa.sd, cs.sc
        |)
        |SELECT vec_id, cent_id, ROUND(dist, 6) AS dist FROM (
        |  SELECT vec_id, cent_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        |  FROM d2) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    "q80_pagerank" ->
      s"""WITH e AS (
         |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         |         CAST(COUNT(1) AS DOUBLE) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |), ow AS (
         |  SELECT src, SUM(w) AS ow FROM e GROUP BY 1
         |), ew AS (
         |  SELECT e.src, e.dst, e.w, ow.ow FROM e JOIN ow ON ow.src = e.src
         |), nodes AS (
         |  SELECT n_nationkey AS node FROM nation
         |), nn AS (
         |  SELECT CAST(COUNT(1) AS DOUBLE) AS n FROM nodes
         |), r0 AS (
         |  SELECT node, 1.0/nn.n AS pr FROM nodes CROSS JOIN nn
         |), ${pageRankIterCtes(5, 0.85)}
         |SELECT n.n_name, r5.pr
         |FROM r5 JOIN nation n ON n.n_nationkey = r5.node
         |ORDER BY n.n_name""".stripMargin,

    "q81_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, COUNT(1) AS n, COUNT(DISTINCT doc_id) AS df
        |  FROM toks GROUP BY 1
        |), r AS (
        |  SELECT token, n, df,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
        |  FROM c
        |)
        |SELECT token, n, df, rank FROM r WHERE rank <= 200
        |ORDER BY rank""".stripMargin,

    "q82_bpe_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i])) AS w1,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1])) AS w2
        |  FROM t WHERE len(w) >= 2
        |), c AS (
        |  SELECT w1, w2, COUNT(1) AS n FROM bg GROUP BY 1, 2
        |), r AS (
        |  SELECT w1, w2, n,
        |    ROW_NUMBER() OVER (ORDER BY n DESC, w1, w2) AS rank
        |  FROM c
        |)
        |SELECT w1, w2, n, rank FROM r WHERE rank <= 100
        |ORDER BY rank""".stripMargin,

    "q83_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
        |), hist AS (
        |  SELECT doc_id, c, COUNT(1) AS k FROM ch GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(k) AS DOUBLE) AS n FROM hist GROUP BY 1
        |)
        |SELECT h.doc_id, ROUND(-SUM((h.k/t.n) * ln(h.k/t.n)), 6) AS entropy
        |FROM hist h JOIN tot t USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q84_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), p AS (
        |  SELECT token, doc_id, COUNT(1) AS tf FROM toks GROUP BY 1, 2
        |), s AS (
        |  SELECT token, COUNT(1) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
        |  FROM p GROUP BY 1
        |), t AS (
        |  SELECT token, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY token ORDER BY tf DESC, doc_id) AS rn
        |  FROM p
        |), tops AS (
        |  SELECT token,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS top_docs
        |  FROM t WHERE rn <= 5 GROUP BY 1
        |)
        |SELECT s.token, s.df, s.tf_total, tops.top_docs
        |FROM s JOIN tops USING (token)
        |ORDER BY s.token""".stripMargin,

    "q85_chunking" ->
      """WITH tk AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), ck AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0,
        |      GREATEST(0, CAST(ceil((len(w) - 50) / 40.0) AS INT)))) AS chunk_id
        |  FROM tk
        |)
        |SELECT doc_id, chunk_id,
        |  len(list_slice(w, chunk_id*40 + 1, chunk_id*40 + 50)) AS n_tokens,
        |  array_to_string(list_slice(w, chunk_id*40 + 1, chunk_id*40 + 50), ' ')
        |    AS chunk
        |FROM ck ORDER BY doc_id, chunk_id""".stripMargin,

    "q86_ewma" ->
      """WITH r AS (
        |  SELECT event_id, user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |)
        |SELECT a.event_id, a.user_id,
        |  ROUND(SUM(b.value * POWER(0.7, a.rn - b.rn))
        |        / SUM(POWER(0.7, a.rn - b.rn)), 6) AS ewma
        |FROM r a JOIN r b
        |  ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
        |GROUP BY a.event_id, a.user_id
        |ORDER BY a.event_id""".stripMargin,

    "q87_robust_outliers" ->
      """WITH med AS (
        |  SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY 1
        |), mad AS (
        |  SELECT event_type, MEDIAN(ABS(value - med)) AS mad
        |  FROM events JOIN med USING (event_type) GROUP BY 1
        |)
        |SELECT event_type, COUNT(1) AS n,
        |  ROUND(MAX(med), 6) AS med, ROUND(MAX(mad), 6) AS mad,
        |  CAST(SUM(CASE WHEN mad > 0
        |        AND ROUND(ABS(value - med) / (1.4826 * mad), 6) > 3.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q88_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, MIN(ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, MIN(ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 1::BIGINT AS step, 'signup' AS step_name,
        |         (SELECT COUNT(1) FROM s1) AS n_users
        |  UNION ALL
        |  SELECT 2::BIGINT, 'click', (SELECT COUNT(1) FROM s2)
        |  UNION ALL
        |  SELECT 3::BIGINT, 'purchase', (SELECT COUNT(1) FROM s3)
        |) ORDER BY step""".stripMargin,

    "q89_retention" ->
      """WITH f AS (
        |  SELECT user_id,
        |         CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', ts) AS DATE) AS activity_week
        |  FROM events
        |)
        |SELECT cohort_week,
        |       CAST(datediff('day', cohort_week, activity_week) / 7 AS BIGINT)
        |         AS week_offset,
        |       COUNT(1) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q90_temperature_resample" ->
      """WITH c AS (
        |  SELECT source, COUNT(1) AS n_before FROM documents GROUP BY 1
        |), p AS (
        |  SELECT source, n_before,
        |         ROUND(POWER(n_before, -0.5)
        |               / MAX(POWER(n_before, -0.5)) OVER (), 6) AS keep_prob
        |  FROM c
        |)
        |SELECT d.source, MAX(p.n_before) AS n_before,
        |       MAX(p.keep_prob) AS keep_prob, COUNT(1) AS n_after
        |FROM documents d JOIN p USING (source)
        |WHERE CAST(('0x'||substr(md5('t1:'||CAST(doc_id AS VARCHAR)),1,8))
        |        AS BIGINT) % 1000000
        |      < CAST(ROUND(p.keep_prob * 1000000) AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q91_triangles" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), und AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM e0 WHERE src <> dst
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node, COUNT(1) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q92_length_deciles" ->
      """WITH c AS (
        |  SELECT list_transform(
        |    quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    x -> ROUND(x, 6)) AS cuts
        |  FROM documents
        |), b AS (
        |  SELECT n_chars,
        |    CAST(len(list_filter((SELECT cuts FROM c), x -> n_chars > x))
        |      AS BIGINT) AS bin
        |  FROM documents
        |)
        |SELECT bin, COUNT(1) AS n, MIN(n_chars) AS min_chars,
        |       MAX(n_chars) AS max_chars, ROUND(AVG(n_chars), 6) AS avg_chars
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q93_scd2_intervals" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(event_type) OVER w IS NULL
        |           OR event_type <> LAG(event_type) OVER w
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), r AS (
        |  SELECT *, SUM(chg) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS run
        |  FROM x
        |), g AS (
        |  SELECT user_id, run, MIN(event_type) AS event_type,
        |         MIN(ts) AS valid_from
        |  FROM r GROUP BY 1, 2
        |)
        |SELECT user_id, event_type, valid_from,
        |  LEAD(valid_from) OVER
        |    (PARTITION BY user_id ORDER BY run) AS valid_to
        |FROM g ORDER BY user_id, valid_from""".stripMargin,

    "q94_sparse_cosine" ->
      """WITH tf AS (
        |  SELECT doc_id AS doc, token, COUNT(1) AS tf FROM (
        |    SELECT doc_id,
        |           unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |    FROM documents
        |  ) GROUP BY 1, 2
        |), n AS (SELECT COUNT(1) AS nn FROM documents),
        |wtd AS (
        |  SELECT doc, token,
        |         COUNT(1) OVER (PARTITION BY token) AS df,
        |         tf * ln((SELECT nn FROM n) * 1.0
        |                 / COUNT(1) OVER (PARTITION BY token)) AS w
        |  FROM tf
        |  QUALIFY df <= 100 AND w > 0
        |), norms AS MATERIALIZED (
        |  SELECT doc, sqrt(SUM(w * w)) AS norm FROM wtd GROUP BY 1
        |), pairs AS (
        |  SELECT a.doc, b.doc AS doc_b, SUM(a.w * b.w) AS dot
        |  FROM wtd a JOIN wtd b ON a.token = b.token AND a.doc <> b.doc
        |  WHERE a.df >= 2
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT p.doc, p.doc_b,
        |         ROUND(p.dot / (na.norm * nb.norm), 6) AS score
        |  FROM pairs p
        |  JOIN norms na ON na.doc = p.doc
        |  JOIN norms nb ON nb.doc = p.doc_b
        |)
        |SELECT doc AS doc_id, doc_b AS other_id, score,
        |       ROW_NUMBER() OVER
        |         (PARTITION BY doc ORDER BY score DESC, doc_b) AS rank
        |FROM scored
        |QUALIFY rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "q95_transitions" ->
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), c AS (
        |  SELECT from_type, to_type, COUNT(1) AS n FROM s
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q96_rolling_z" ->
      """SELECT event_id, user_id,
        |  CASE WHEN s > 0 THEN ROUND((value - m) / s, 4) END AS zscore,
        |  COALESCE(CASE WHEN s > 0
        |    THEN ABS(ROUND((value - m) / s, 4)) > 3.0 END, FALSE)
        |    AS is_anomaly
        |FROM (
        |  SELECT event_id, user_id, value,
        |    AVG(value) OVER w AS m, STDDEV_SAMP(value) OVER w AS s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |ORDER BY event_id""".stripMargin,

    "q97_weighted_sample" ->
      """SELECT doc_id, n_chars,
        |  ROUND(ln((CAST(('0x'||substr(md5('ws1:'||CAST(doc_id AS VARCHAR)),
        |                  1,8)) AS BIGINT) % 1000000 + 0.5) / 1000000.0)
        |        / n_chars, 9) AS es_key
        |FROM documents
        |WHERE n_chars IS NOT NULL AND n_chars > 0
        |ORDER BY es_key DESC, doc_id LIMIT 200""".stripMargin,

    "q98_bfs_levels" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), r AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS lvl
        |  UNION ALL
        |  SELECT CAST(e.dst AS BIGINT), r.lvl + 1
        |  FROM r JOIN e ON e.src = r.node WHERE r.lvl < 3
        |)
        |SELECT node, MIN(lvl) AS lvl FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q99_attribution" ->
      """SELECT event_id, user_id, last_touch FROM (
        |  SELECT event_id, user_id, event_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_touch
        |  FROM events
        |)
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q100_percentile_rank" ->
      """SELECT doc_id, n_chars,
        |  ROUND(CUME_DIST() OVER (ORDER BY n_chars), 9) AS cume_dist
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q101_histogram" ->
      """WITH s AS (
        |  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
        |), b AS (
        |  SELECT CASE WHEN s.hi = s.lo THEN 0
        |    ELSE LEAST(CAST(floor((value - s.lo) / ((s.hi - s.lo) / 20))
        |               AS BIGINT), 19) END AS bin,
        |    s.lo, s.hi
        |  FROM events, s
        |)
        |SELECT bin,
        |  ROUND(lo + (hi - lo) / 20 * bin, 6) AS lo,
        |  ROUND(lo + (hi - lo) / 20 * (bin + 1), 6) AS hi,
        |  COUNT(1) AS n
        |FROM b GROUP BY bin, lo, hi ORDER BY bin""".stripMargin,

    "q102_hof_pack" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(list_filter(w, x -> length(x) > 4)) AS BIGINT)
        |    AS n_long,
        |  array_to_string(list_slice(list_sort(list_distinct(
        |    list_transform(list_filter(w, x -> length(x) > 4),
        |      x -> upper(x)))), 1, 5), ',') AS top5_long,
        |  CAST(len(list_filter(w, x -> regexp_matches(x, '^[0-9]+$')))
        |    AS BIGINT) AS n_numeric,
        |  ROUND(list_reduce(list_transform(w,
        |      x -> CAST(length(x) AS DOUBLE)), (a, b) -> a + b)
        |    / len(w), 6) AS mean_len
        |FROM t ORDER BY doc_id""".stripMargin,

    "q109_unpivot" ->
      """WITH src AS (
        |  SELECT * FROM lineitem WHERE l_orderkey % 97 = 0
        |)
        |SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |         CAST(l_quantity AS DOUBLE) AS value FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |  FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
        |)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q110_gap_fill" ->
      """WITH ev AS (
        |  SELECT * FROM events WHERE user_id % 199 = 0
        |), hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour,
        |         ROUND(AVG(value), 6) AS v
        |  FROM ev GROUP BY 1, 2
        |), bounds AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
        |         date_trunc('hour', MAX(ts)) AS h1
        |  FROM ev GROUP BY 1
        |), spine AS (
        |  SELECT user_id,
        |         unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |  FROM bounds
        |)
        |SELECT s.user_id, s.hour,
        |  LAST_VALUE(h.v IGNORE NULLS) OVER
        |    (PARTITION BY s.user_id ORDER BY s.hour
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
        |  h.v IS NOT NULL AS observed
        |FROM spine s LEFT JOIN hourly h USING (user_id, hour)
        |ORDER BY user_id, hour""".stripMargin,

    "q108_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id, md5(text) AS ho FROM documents WHERE doc_id % 11 <> 0
        |), n AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS hn
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN ho IS NULL THEN 'added'
        |       WHEN hn IS NULL THEN 'removed'
        |       WHEN ho <> hn THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n USING (doc_id)
        |WHERE (CASE WHEN ho IS NULL THEN 'added'
        |            WHEN hn IS NULL THEN 'removed'
        |            WHEN ho <> hn THEN 'changed' END) IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    "q106_normalize" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_hash,
        |  CAST(length(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q107_survivorship" ->
      s"""WITH RECURSIVE $MinhashGateCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src
         |), member AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
         |         d.n_chars
         |  FROM documents d LEFT JOIN comp c USING (doc_id)
         |), ranked AS (
         |  SELECT component, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |                       ORDER BY n_chars DESC, doc_id) AS rn,
         |    COUNT(1) OVER (PARTITION BY component) AS n_members
         |  FROM member
         |)
         |SELECT component, doc_id AS survivor_id, n_members
         |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin,

    "q105_corpus_clean" ->
      s"""WITH RECURSIVE dedup AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1
         |), tokg AS (
         |  SELECT doc_id, text,
         |         regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM dedup
         |), gated AS (
         |  SELECT doc_id, text FROM tokg
         |  WHERE len(w) BETWEEN 20 AND 100000
         |    AND len(list_filter(w, x ->
         |          x IN ('the','a','of','and','to','in','is')))*1.0/len(w)
         |        >= 0.01
         |    AND (length(text) - length(regexp_replace(text,
         |          '[^A-Za-z0-9\\s]', '', 'g')))*1.0/length(text) <= 0.3
         |    AND greatest(
         |          len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))),
         |          len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))),
         |          len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))) > 0
         |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
         |        >= len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un')))
         |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
         |        >= len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))
         |), ${minhashGateCtes("gated")},
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.8
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), losers AS (
         |  SELECT src AS doc_id FROM reach GROUP BY src
         |  HAVING src <> LEAST(src, MIN(dst))
         |)
         |SELECT doc_id FROM gated
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "q104_ohlc_bars" ->
      """SELECT user_id,
        |  CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bar_start,
        |  arg_min(value, ts) AS open, MAX(value) AS high,
        |  MIN(value) AS low, arg_max(value, ts) AS close,
        |  COUNT(1) AS n, ROUND(AVG(value), 6) AS mean
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bar_start""".stripMargin,

    "q103_window_rewrites" ->
      """SELECT event_id, user_id,
        |  CAST(COUNT(DISTINCT event_type) OVER w AS BIGINT) AS n_distinct,
        |  ROUND(MEDIAN(value) OVER w, 6) AS rolling_median
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q111_asof_nearest" ->
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |), b AS (
        |  SELECT e.event_id, e.user_id, e.ts, r.upd_ts AS bts, r.rate AS brate
        |  FROM events e
        |  ASOF LEFT JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |), f AS (
        |  SELECT e.event_id, r.upd_ts AS fts, r.rate AS frate
        |  FROM events e
        |  ASOF LEFT JOIN rates r ON e.user_id = r.user_id AND r.upd_ts >= e.ts
        |)
        |SELECT b.event_id, b.user_id,
        |  CASE WHEN bts IS NOT NULL AND fts IS NOT NULL THEN
        |         CASE WHEN (ts - bts) <= (fts - ts) THEN brate ELSE frate END
        |       WHEN bts IS NOT NULL THEN brate ELSE frate END AS rate
        |FROM b JOIN f USING (event_id)
        |ORDER BY event_id""".stripMargin,

    "q112_hybrid_rrf" -> HybridRrfOracleSql,

    // identical oracle: the persisted-index round-trip (q159) must
    // change NOTHING about the ranking
    "q159_hybrid_persisted" -> HybridRrfOracleSql,

    // the null-coalesced srck mirrors interleaveBySource's internal
    // key ('0' for NULL, '1'||source otherwise) so the oracle encodes
    // the same NULL-source contract the spec tests: NULL-source rows
    // survive the join and sort first
    "q113_interleave" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IS NULL THEN '0' ELSE '1'||source END AS srck,
        |    CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS hk
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, source, srck,
        |    ROW_NUMBER() OVER (PARTITION BY srck ORDER BY hk, doc_id) AS rn
        |  FROM h
        |), reg AS (
        |  SELECT srck,
        |    ROW_NUMBER() OVER (ORDER BY srck) - 1 AS sidx,
        |    COUNT(1) OVER () AS k
        |  FROM (SELECT DISTINCT
        |          CASE WHEN source IS NULL THEN '0' ELSE '1'||source END AS srck
        |        FROM documents)
        |)
        |SELECT doc_id, s.source, CAST(rn AS BIGINT) AS rn,
        |       CAST((rn - 1) * k + sidx AS BIGINT) AS pos
        |FROM s JOIN reg USING (srck)
        |ORDER BY pos""".stripMargin,

    "q114_leakage_safe_split" ->
      s"""WITH RECURSIVE $MinhashGateCtes,
         |pairs AS (
         |  SELECT doc_a, doc_b FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach GROUP BY src
         |), g AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN comp c USING (doc_id)
         |)
         |SELECT doc_id, group_id,
         |  CASE WHEN b < 1000 THEN 'val'
         |       WHEN b < 2000 THEN 'test' ELSE 'train' END AS split
         |FROM (SELECT doc_id, group_id,
         |        CAST(('0x'||substr(md5('v1:'||CAST(group_id AS VARCHAR)),1,8))
         |          AS BIGINT) % 10000 AS b
         |      FROM g)
         |ORDER BY doc_id""".stripMargin,

    "q115_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), sh AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w)-4),
         |    i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS shingles
         |  FROM toks WHERE len(w) >= 5
         |), ex AS (
         |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
         |), own AS (
         |  SELECT s, MIN(doc_id) AS first_doc FROM ex GROUP BY 1
         |)
         |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |        * 1.0 / MAX(n), 6) AS novelty
         |FROM ex JOIN own USING (s)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q116_pit_features" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), f AS (
        |  SELECT event_id, user_id, event_type,
        |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER w
        |      AS n_clicks_24h,
        |    SUM(CASE WHEN event_type = 'click' THEN value END) OVER w AS s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |               RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, user_id,
        |       CAST(n_clicks_24h AS BIGINT) AS n_clicks_24h,
        |       ROUND(COALESCE(s, 0), 6) AS sum_clicks_24h
        |FROM f WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q117_skew_salted" ->
      """SELECT l_returnflag, COUNT(1) AS n,
        |       ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q118_winsorize" ->
      """WITH c AS (
        |  SELECT event_type,
        |         ROUND(quantile_cont(value, 0.05), 6) AS lo,
        |         ROUND(quantile_cont(value, 0.95), 6) AS hi
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_type, COUNT(1) AS n,
        |  ROUND(SUM(LEAST(GREATEST(value, lo), hi)), 6) AS sum_w,
        |  ROUND(AVG(LEAST(GREATEST(value, lo), hi)), 6) AS mean_w
        |FROM events e JOIN c USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q119_pmi" ->
      s"""WITH d AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM documents
         |), ts AS (
         |  SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM d
         |), toks AS (
         |  SELECT doc_id, i AS pos, w[i] AS token FROM ts
         |), off AS (
         |  SELECT doc_id, pos, token, unnest(generate_series(1, 2)) AS o
         |  FROM toks
         |), p0 AS (
         |  SELECT LEAST(a.token, b.token) AS tok_a,
         |         GREATEST(a.token, b.token) AS tok_b
         |  FROM off a JOIN toks b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + a.o
         |), pc AS (
         |  SELECT tok_a, tok_b, COUNT(1) AS n_ab FROM p0 GROUP BY 1, 2
         |), tc AS (
         |  SELECT token, COUNT(1) AS n FROM toks GROUP BY 1
         |), tt AS (SELECT COUNT(1) AS t FROM toks),
         |pt AS (SELECT SUM(n_ab) AS p FROM pc),
         |scored AS (
         |  SELECT tok_a, tok_b, n_ab,
         |    ROUND(ln((n_ab * 1.0 / pt.p)
         |          / ((na.n * 1.0 / tt.t) * (nb.n * 1.0 / tt.t))), 6) AS pmi
         |  FROM pc
         |  JOIN tc na ON na.token = pc.tok_a
         |  JOIN tc nb ON nb.token = pc.tok_b
         |  CROSS JOIN tt CROSS JOIN pt
         |  WHERE n_ab >= 5
         |)
         |SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab, pmi,
         |  CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, tok_a, tok_b)
         |       AS BIGINT) AS rank
         |FROM scored QUALIFY rank <= 50 ORDER BY rank""".stripMargin,

    "q120_training_prep" ->
      s"""WITH RECURSIVE dedup AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1
         |), tokg AS (
         |  SELECT doc_id, text,
         |         regexp_split_to_array(trim(text), '\\s+') AS w
         |  FROM dedup
         |), gated AS (
         |  SELECT doc_id, text FROM tokg
         |  WHERE len(w) BETWEEN 20 AND 100000
         |    AND len(list_filter(w, x ->
         |          x IN ('the','a','of','and','to','in','is')))*1.0/len(w)
         |        >= 0.01
         |    AND (length(text) - length(regexp_replace(text,
         |          '[^A-Za-z0-9\\s]', '', 'g')))*1.0/length(text) <= 0.3
         |    AND greatest(
         |          len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))),
         |          len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))),
         |          len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))) > 0
         |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
         |        >= len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un')))
         |    AND len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is')))
         |        >= len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des')))
         |), ${minhashGateCtes("gated")},
         |pairs05 AS (
         |  SELECT doc_a, doc_b, inter*1.0/(na+nb-inter) AS j FROM verified
         |  WHERE inter*1.0/(na+nb-inter) >= 0.5
         |), edges08 AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs05 WHERE j >= 0.8
         |  UNION SELECT doc_b, doc_a FROM pairs05 WHERE j >= 0.8
         |), reach08(src, dst) AS (
         |  SELECT src, dst FROM edges08
         |  UNION
         |  SELECT r.src, e.dst FROM reach08 r JOIN edges08 e ON r.dst = e.src
         |), losers AS (
         |  SELECT src AS doc_id FROM reach08 GROUP BY src
         |  HAVING src <> LEAST(src, MIN(dst))
         |), cleaned AS (
         |  SELECT doc_id FROM gated
         |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |), sp AS (
         |  SELECT doc_a, doc_b FROM pairs05
         |  WHERE doc_a IN (SELECT doc_id FROM cleaned)
         |    AND doc_b IN (SELECT doc_id FROM cleaned)
         |), edges05 AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM sp
         |  UNION SELECT doc_b, doc_a FROM sp
         |), reach05(src, dst) AS (
         |  SELECT src, dst FROM edges05
         |  UNION
         |  SELECT r.src, e.dst FROM reach05 r JOIN edges05 e ON r.dst = e.src
         |), comp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM reach05 GROUP BY src
         |), sg AS (
         |  SELECT c.doc_id, COALESCE(p.component, c.doc_id) AS group_id
         |  FROM cleaned c LEFT JOIN comp p USING (doc_id)
         |), spl AS (
         |  SELECT doc_id, group_id,
         |    CASE WHEN b < 1000 THEN 'val' WHEN b < 2000 THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM (SELECT doc_id, group_id,
         |          CAST(('0x'||substr(md5('v1:'||CAST(group_id AS VARCHAR)),1,8))
         |            AS BIGINT) % 10000 AS b
         |        FROM sg)
         |), wt AS (
         |  SELECT s.doc_id, s.group_id, s.split,
         |         CAST((length(t.m) - length(replace(t.m, chr(31), ''))) / 2
         |           AS BIGINT) AS n_tokens
         |  FROM spl s JOIN (SELECT doc_id, $BpeApplySql AS m FROM tokg) t
         |    USING (doc_id)
         |), c2 AS (
         |  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY split
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM wt
         |)
         |SELECT doc_id, group_id, split, n_tokens,
         |       CAST(off // 4096 AS BIGINT) AS shard
         |FROM c2 ORDER BY doc_id""".stripMargin,

    "q121_pretokenize" ->
      """WITH p AS (
        |  SELECT doc_id, regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')
        |    AS pieces
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces,
        |       md5(array_to_string(pieces, chr(1))) AS piece_hash
        |FROM p ORDER BY doc_id""".stripMargin,

    "q122_decayed_sum" ->
      """WITH c AS (SELECT user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT MAX(epoch(ts)) AS tref FROM c)
        |SELECT user_id, COUNT(1) AS n,
        |  ROUND(SUM(value * POWER(0.5,
        |        (r.tref - epoch(ts)) / 604800.0)), 6) AS decayed
        |FROM c CROSS JOIN r
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q123_ks_drift" ->
      """WITH f AS (
        |  SELECT n_chars AS v, source AS g FROM documents
        |  WHERE source IN ('src0', 'src1')
        |), c AS (
        |  SELECT v,
        |    SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
        |  FROM f GROUP BY 1
        |), cum AS (
        |  SELECT v,
        |    ROUND(ABS(SUM(ca) OVER (ORDER BY v) * 1.0 / SUM(ca) OVER ()
        |            - SUM(cb) OVER (ORDER BY v) * 1.0 / SUM(cb) OVER ()),
        |          9) AS d
        |  FROM c
        |)
        |SELECT ROUND(d, 6) AS ks, v AS ks_at
        |FROM cum ORDER BY d DESC, v LIMIT 1""".stripMargin,

    "q124_categorical_drift" ->
      """WITH f AS (
        |  SELECT event_type AS c,
        |    CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS g
        |  FROM events
        |), k AS (
        |  SELECT c,
        |    SUM(CASE WHEN g = 'even' THEN 1 ELSE 0 END) AS oa,
        |    SUM(CASE WHEN g = 'odd' THEN 1 ELSE 0 END) AS ob
        |  FROM f GROUP BY 1
        |), t AS (
        |  SELECT c, oa, ob,
        |    SUM(oa) OVER () AS na, SUM(ob) OVER () AS nb,
        |    COUNT(1) OVER () AS nk
        |  FROM k
        |), s AS (
        |  SELECT
        |    POWER(oa - na * (oa + ob) * 1.0 / (na + nb), 2)
        |      / (na * (oa + ob) * 1.0 / (na + nb))
        |    + POWER(ob - nb * (oa + ob) * 1.0 / (na + nb), 2)
        |      / (nb * (oa + ob) * 1.0 / (na + nb)) AS chi,
        |    ((oa + 0.5) / (na + 0.5 * nk) - (ob + 0.5) / (nb + 0.5 * nk))
        |      * ln(((oa + 0.5) / (na + 0.5 * nk))
        |           / ((ob + 0.5) / (nb + 0.5 * nk))) AS psi,
        |    nk
        |  FROM t
        |)
        |SELECT ROUND(SUM(chi), 6) AS chi2,
        |       CAST(MAX(nk) - 1 AS BIGINT) AS dof,
        |       ROUND(SUM(psi), 6) AS psi
        |FROM s""".stripMargin,

    // Same planted markup, same RE2-safe strip chain, DuckDB's
    // nfc_normalize vs the NormalizeUnicode expression. chr(8203)/
    // chr(65279)/chr(769) = ZWSP / BOM / combining acute.
    "q125_strip_markup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 3 = 0 THEN
        |        '<html><head><style>p { color: red; }</style><script type="text/javascript">var x = 1 < 2;</script></head><body class="main"><!-- boilerplate --><p>'
        |        || text ||
        |        '</p><br/>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&nbsp;end'
        |        || chr(8203) || chr(65279) || '</body></html>'
        |      WHEN doc_id % 3 = 1 THEN
        |        text || ' cafe' || chr(769) || ' re' || chr(769) || 'sume' || chr(769)
        |      ELSE text
        |    END AS t
        |  FROM documents
        |), stripped AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |        '(?s)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |        '(?s)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '</?[A-Za-z][^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
        |    '\s+', ' ', 'g')) AS s
        |  FROM planted
        |)
        |SELECT doc_id, md5(nfc_normalize(s)) AS clean_hash,
        |  CAST(length(nfc_normalize(s)) AS BIGINT) AS clean_len
        |FROM stripped ORDER BY doc_id""".stripMargin,

    "q126_bpe_encode" ->
      s"""WITH enc AS (
         |  SELECT doc_id, $BpeApplySql AS m FROM documents
         |)
         |SELECT doc_id,
         |  CAST((length(m) - length(replace(m, chr(31), ''))) / 2
         |    AS BIGINT) AS n_tokens,
         |  md5(replace(replace(m, chr(31)||chr(31), ' '), chr(31), ''))
         |    AS pieces_hash
         |FROM enc ORDER BY doc_id""".stripMargin,

    "q127_dup_spans" ->
      s"""WITH $DupSpanCtes
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start + 1 AS span_tokens
         |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    "q128_span_strip" ->
      s"""WITH $DupSpanCtes, tokp AS (
         |  SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM tok
         |), kept AS (
         |  SELECT tp.doc_id, tp.pos, tp.w[tp.pos+1] AS tok FROM tokp tp
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = tp.doc_id
         |      AND tp.pos BETWEEN s.span_start AND s.span_end)
         |), clean AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT d.doc_id, COALESCE(c.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN clean c USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q129_pq_topk" ->
      """WITH ex AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), sub AS (
        |  SELECT vec_id, s AS sub, list_slice(v, s*8+1, s*8+8) AS sv
        |  FROM (SELECT vec_id, v, unnest(range(0, 8)) AS s FROM ex)
        |), seeds AS (
        |  SELECT id, row_number() OVER (ORDER BY h, id) - 1 AS cent_id
        |  FROM (
        |    SELECT vec_id AS id,
        |      CAST(('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8)) AS BIGINT) AS h
        |    FROM (SELECT DISTINCT vec_id FROM embeddings)
        |    ORDER BY h, vec_id LIMIT 16)
        |), cents AS (
        |  SELECT s.sub, d.cent_id, s.sv AS cv,
        |    list_dot_product(s.sv, s.sv) AS sc
        |  FROM sub s JOIN seeds d ON s.vec_id = d.id
        |), asg AS (
        |  SELECT vec_id, sub, code FROM (
        |    SELECT s.vec_id, s.sub, c.cent_id AS code,
        |      row_number() OVER (PARTITION BY s.vec_id, s.sub
        |        ORDER BY round(list_dot_product(s.sv, s.sv)
        |          - 2*list_dot_product(s.sv, c.cv) + c.sc, 9), c.cent_id) AS rn
        |    FROM sub s JOIN cents c ON c.sub = s.sub)
        |  WHERE rn = 1
        |), qlut AS (
        |  SELECT q.vec_id AS query_id, c.sub, c.cent_id,
        |    round(list_dot_product(q.sv, q.sv)
        |      - 2*list_dot_product(q.sv, c.cv) + c.sc, 9) AS d
        |  FROM sub q JOIN cents c ON c.sub = q.sub WHERE q.vec_id < 10
        |), adist AS (
        |  SELECT l.query_id, a.vec_id AS target_id, round(SUM(l.d), 6) AS adist
        |  FROM asg a JOIN qlut l ON l.sub = a.sub AND l.cent_id = a.code
        |  WHERE l.query_id <> a.vec_id
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, target_id, adist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY adist, target_id) AS rnk
        |  FROM adist
        |)
        |SELECT query_id, target_id, adist, CAST(rnk AS BIGINT) AS rank
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin,

    "q130_pii_full" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 5 = 0 THEN text || ' ssn 219-09-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' end'
        |      WHEN doc_id % 5 = 1 THEN 'card 4111 1111 1111 '
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |        || ' or 4012888888881881 ' || text
        |      WHEN doc_id % 5 = 2 THEN 'call (555) 867-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |        || ' or 555-867-1234 ' || text
        |      WHEN doc_id % 5 = 3 THEN text || ' mail user'
        |        || CAST(doc_id AS VARCHAR) || '@mail.example.com from 10.1.'
        |        || CAST(doc_id % 250 AS VARCHAR) || '.42'
        |      ELSE text
        |    END AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))
        |    AS n_ssn,
        |  len(regexp_extract_all(t,
        |    '\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b|\b[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}\b|\b[0-9]{16}\b'))
        |    AS n_card,
        |  len(regexp_extract_all(t, '\(\d{3}\) ?\d{3}-\d{4}|\b\d{3}-\d{3}-\d{4}\b'))
        |    AS n_us_phone,
        |  len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  md5(
        |    regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\b|\b[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}\b|\b[0-9]{16}\b', '[CARD]', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
        |      '\+[0-9]{1,3}(-[0-9]{2,4}){2,4}', '[PHONE]', 'g'),
        |      '\(\d{3}\) ?\d{3}-\d{4}|\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'))
        |    AS redacted_hash
        |FROM planted ORDER BY doc_id""".stripMargin,

    "q131_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.Example-'
        |        || CAST(doc_id % 20 AS VARCHAR) || '.COM:443/Docs/'
        |        || CAST(doc_id AS VARCHAR) || '?utm_source=rss&id='
        |        || CAST(doc_id % 7 AS VARCHAR) || '&utm_medium=email&page=2#frag'
        |      WHEN doc_id % 4 = 1 THEN 'http://news.site'
        |        || CAST(doc_id % 9 AS VARCHAR) || '.org:8080/a/'
        |        || CAST(doc_id % 5 AS VARCHAR)
        |      WHEN doc_id % 4 = 2 THEN 'https://cdn.media'
        |        || CAST(doc_id % 5 AS VARCHAR) || '.net/img'
        |        || CAST(doc_id AS VARCHAR) || '.jpg?gclid=abc123'
        |      ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
        |    END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)', 1), '') AS port,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '') AS path,
        |    COALESCE(regexp_extract(url, '\?([^#]*)', 1), '') AS q
        |  FROM u
        |), cleaned AS (
        |  -- array_to_string of an EMPTY list is NULL in DuckDB
        |  SELECT *, COALESCE(array_to_string(list_filter(string_split(q, '&'),
        |    p -> p <> '' AND NOT regexp_matches(p,
        |      '^(utm_[A-Za-z0-9_]*|gclid|fbclid)=')), '&'), '') AS cq
        |  FROM parts
        |)
        |SELECT doc_id,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |    ELSE scheme || '://' || host
        |      || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |           OR (scheme = 'https' AND port = '443')
        |         THEN '' ELSE ':' || port END
        |      || CASE WHEN path = '' THEN '/' ELSE path END
        |      || CASE WHEN cq = '' THEN '' ELSE '?' || cq END
        |  END AS canon_url,
        |  host,
        |  regexp_extract(host, '([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$', 1) AS domain
        |FROM cleaned ORDER BY doc_id""".stripMargin,

    "q132_dsir_weights" ->
      """WITH dt AS (
        |  SELECT doc_id, tok, COUNT(1) AS cnt FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2
        |), raw AS (
        |  SELECT tok, SUM(cnt) AS cr FROM dt GROUP BY 1
        |), tgt AS (
        |  SELECT tok, COUNT(1) AS ct FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |    FROM documents WHERE lang = 'en')
        |  WHERE tok <> '' GROUP BY 1
        |), sc AS (
        |  SELECT (SELECT SUM(cr) FROM raw) AS nr,
        |    (SELECT COUNT(1) FROM raw) AS v,
        |    (SELECT COALESCE(SUM(ct), 0) FROM tgt) AS nt
        |), ratio AS (
        |  SELECT r.tok,
        |    ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / (sc.nt + sc.v))
        |      - ln(CAST(r.cr + 1 AS DOUBLE) / (sc.nr + sc.v)) AS lr
        |  FROM raw r LEFT JOIN tgt t USING (tok), sc
        |), pd AS (
        |  SELECT d.doc_id, SUM(d.cnt) AS n_tokens,
        |    ROUND(SUM(d.cnt * ratio.lr), 6) AS log_weight
        |  FROM dt d JOIN ratio USING (tok) GROUP BY 1
        |)
        |SELECT doc.doc_id,
        |  CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  COALESCE(pd.log_weight, 0.0) AS log_weight
        |FROM documents doc LEFT JOIN pd USING (doc_id)
        |ORDER BY doc.doc_id""".stripMargin,

    "q133_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 3
        |      THEN 'no url ' || CAST(doc_id AS VARCHAR)
        |      ELSE 'HTTPS://Site' || CAST(doc_id % 10 AS VARCHAR)
        |        || '.COM/page/' || CAST(doc_id % 50 AS VARCHAR)
        |        || '?utm_campaign=c' || CAST(doc_id AS VARCHAR)
        |        || '#s' || CAST(doc_id % 3 AS VARCHAR)
        |    END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |      AS scheme,
        |    lower(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)', 1), '') AS port,
        |    COALESCE(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '') AS path,
        |    COALESCE(regexp_extract(url, '\?([^#]*)', 1), '') AS q
        |  FROM u
        |), cleaned AS (
        |  SELECT *, COALESCE(array_to_string(list_filter(string_split(q, '&'),
        |    p -> p <> '' AND NOT regexp_matches(p,
        |      '^(utm_[A-Za-z0-9_]*|gclid|fbclid)=')), '&'), '') AS cq
        |  FROM parts
        |), canon AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = '' OR host = '' THEN NULL
        |      ELSE scheme || '://' || host
        |        || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |             OR (scheme = 'https' AND port = '443')
        |           THEN '' ELSE ':' || port END
        |        || CASE WHEN path = '' THEN '/' ELSE path END
        |        || CASE WHEN cq = '' THEN '' ELSE '?' || cq END
        |    END AS canon_url
        |  FROM cleaned
        |)
        |SELECT MIN(doc_id) AS doc_id, canon_url,
        |  CAST(COUNT(1) AS BIGINT) AS n_dups
        |FROM canon WHERE canon_url IS NOT NULL GROUP BY canon_url
        |UNION ALL
        |SELECT doc_id, canon_url, 1 AS n_dups
        |FROM canon WHERE canon_url IS NULL
        |ORDER BY doc_id""".stripMargin,

    "q134_mixture_sample" ->
      """WITH cnt AS (
        |  SELECT source, CAST(COUNT(1) AS DOUBLE) AS n FROM documents
        |  WHERE source IN ('src1', 'src2', 'src3') GROUP BY source
        |), tgt AS (
        |  SELECT * FROM (VALUES ('src1', 0.5), ('src2', 0.3),
        |    ('src3', 0.2)) AS t(source, tshare)
        |), j AS (
        |  SELECT c.source, c.n, t.tshare FROM cnt c JOIN tgt t USING (source)
        |), m AS (
        |  SELECT MIN(n / tshare) AS m FROM j
        |), rates AS (
        |  SELECT source, LEAST(1.0, ROUND(tshare * m.m / n, 9)) AS keep_rate
        |  FROM j, m
        |)
        |SELECT d.doc_id, d.source, r.keep_rate
        |FROM documents d JOIN rates r USING (source)
        |WHERE CAST(('0x'||substr(md5('v1:'||CAST(doc_id AS VARCHAR)),1,8))
        |    AS BIGINT) % 1000000
        |  < CAST(FLOOR(keep_rate * 1000000) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,

    "q135_line_filter" ->
      """WITH planted AS (
        |  SELECT doc_id, text || '.' || chr(10)
        |    || 'short line' || chr(10)
        |    || 'This line is long enough to keep.' || chr(10)
        |    || 'Lorem Ipsum dolor sit amet.' || chr(10)
        |    || 'if (x) { return y; }' || chr(10)
        |    || 'Is this kept? Yes it is!' AS t
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, COALESCE(array_to_string(list_filter(
        |    string_split(t, chr(10)), l ->
        |      len(regexp_split_to_array(trim(l), '\s+')) >= 3
        |      AND regexp_matches(trim(l), '[.!?]$')
        |      AND NOT contains(trim(l), '{')
        |      AND NOT contains(trim(l), '}')
        |      AND NOT contains(lower(trim(l)), 'lorem ipsum')
        |      AND NOT contains(lower(trim(l)), 'cookie policy')
        |      AND NOT contains(lower(trim(l)), 'terms of use')
        |    ), chr(10)), '') AS clean
        |  FROM planted
        |)
        |SELECT doc_id, md5(clean) AS clean_hash,
        |  CAST(length(clean) AS BIGINT) AS clean_len
        |FROM f ORDER BY doc_id""".stripMargin,

    "q136_proto_prune" ->
      s"""WITH $IvfAssignCtes, ad AS (
        |  SELECT target_id, cent_id, dist FROM (
        |    SELECT vec_id AS target_id, cent_id, dist,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |                         ORDER BY dist, cent_id) AS rn
        |    FROM cdist) WHERE rn = 1
        |), rnk AS (
        |  SELECT target_id, cent_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY cent_id
        |                       ORDER BY dist, target_id) AS rn,
        |    COUNT(1) OVER (PARTITION BY cent_id) AS n
        |  FROM ad
        |)
        |SELECT target_id AS vec_id, cent_id, dist AS cdist,
        |  CAST(rn - FLOOR(n * 0.25) AS BIGINT) AS rn
        |FROM rnk WHERE rn > FLOOR(n * 0.25)
        |ORDER BY vec_id""".stripMargin,

    "q137_hard_negatives" ->
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, ANY_VALUE(label) AS label, sqrt(SUM(v*v)) AS nrm
        |  FROM ex GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
        |    SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx
        |   AND a.vec_id < 8 AND b.vec_id <> a.vec_id
        |   AND b.label IS DISTINCT FROM a.label
        |  GROUP BY 1, 2
        |), cos AS (
        |  SELECT anchor_id, neg_id, nb.label AS neg_label,
        |    ROUND(dot/(na.nrm*nb.nrm), 6) AS cosine
        |  FROM dots JOIN norms na ON na.vec_id = anchor_id
        |            JOIN norms nb ON nb.vec_id = neg_id
        |), ranked AS (
        |  SELECT anchor_id, neg_id, neg_label, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY anchor_id
        |                       ORDER BY cosine DESC, neg_id) AS rank
        |  FROM cos
        |)
        |SELECT anchor_id, neg_id, neg_label, cosine,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,

    "q138_random_projection" ->
      """WITH sg AS (
        |  SELECT j, i,
        |    CASE WHEN CAST(('0x'||substr(md5('rp1:'||j||':'||i),1,8))
        |              AS BIGINT) % 2 = 0
        |         THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM generate_series(0, 15) AS t(j),
        |       generate_series(0, 63) AS u(i)
        |), ex AS (
        |  SELECT vec_id, CAST(embedding[i+1] AS DOUBLE) AS v, i
        |  FROM embeddings, generate_series(0, 63) AS t(i)
        |)
        |SELECT vec_id, CAST(j AS BIGINT) AS dim_idx,
        |  ROUND(SUM(v * sgn) / sqrt(16.0), 6) AS proj
        |FROM ex JOIN sg USING (i)
        |GROUP BY 1, 2 ORDER BY vec_id, dim_idx""".stripMargin,

    "q139_mmr_rerank" ->
      s"""WITH ex AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS v, i AS idx
        |  FROM embeddings, generate_series(1, 64) AS t(i)
        |), norms AS MATERIALIZED (
        |  SELECT vec_id, sqrt(SUM(v*v)) AS nrm FROM ex GROUP BY 1
        |), qdots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS target_id,
        |    SUM(a.v*b.v) AS dot
        |  FROM ex a JOIN ex b ON a.idx = b.idx
        |   AND a.vec_id < 3 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2
        |), pool AS MATERIALIZED (
        |  SELECT query_id, target_id, rel FROM (
        |    SELECT query_id, target_id, rel, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY rel DESC, target_id) AS pr
        |    FROM (SELECT query_id, target_id,
        |        ROUND(dot/(na.nrm*nb.nrm), 6) AS rel
        |      FROM qdots JOIN norms na ON na.vec_id = query_id
        |                 JOIN norms nb ON nb.vec_id = target_id))
        |  WHERE pr <= 30
        |), pd AS (
        |  SELECT p1.query_id, p1.target_id AS a, p2.target_id AS b,
        |    SUM(ea.v*eb.v) AS dot
        |  FROM pool p1 JOIN pool p2 ON p1.query_id = p2.query_id
        |    AND p1.target_id <> p2.target_id
        |  JOIN ex ea ON ea.vec_id = p1.target_id
        |  JOIN ex eb ON eb.vec_id = p2.target_id AND eb.idx = ea.idx
        |  GROUP BY 1, 2, 3
        |), sims AS MATERIALIZED (
        |  SELECT query_id, a, b, ROUND(dot/(na.nrm*nb.nrm), 6) AS sim
        |  FROM pd JOIN norms na ON na.vec_id = a
        |           JOIN norms nb ON nb.vec_id = b
        |), acc1 AS MATERIALIZED (
        |  SELECT query_id, target_id, 1 AS sel_rank, mmr FROM (
        |    SELECT query_id, target_id, mmr, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY mmr DESC, target_id) AS rn
        |    FROM (SELECT query_id, target_id,
        |      ROUND($MmrLam*rel, 8) AS mmr FROM pool))
        |  WHERE rn = 1
        |), ${mmrStepCtes(8, MmrLam)}
        |SELECT query_id, target_id, CAST(sel_rank AS BIGINT) AS sel_rank,
        |  mmr
        |FROM acc8 ORDER BY query_id, sel_rank""".stripMargin,

    "q140_fuzzy_join" ->
      s"""WITH rsrc AS (
        |  SELECT doc_id + 100000 AS doc_id,
        |    CASE WHEN doc_id % 5 = 1
        |         THEN text || ' graft variant marker tokens'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 < 2
        |), ${minhashSideCtes("l", "documents")},
        |${minhashSideCtes("r", "rsrc")},
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
        |  FROM bandsl a JOIN bandsr b
        |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
        |), verified AS (
        |  SELECT c.left_id, c.right_id, COUNT(1) AS inter,
        |         MAX(ea.n) AS na, MAX(eb.n) AS nb
        |  FROM cand c
        |  JOIN exl ea ON ea.doc_id = c.left_id
        |  JOIN exr eb ON eb.doc_id = c.right_id AND eb.s = ea.s
        |  GROUP BY 1, 2
        |)
        |SELECT left_id, right_id,
        |  ROUND(inter*1.0/(na+nb-inter), 6) AS jaccard
        |FROM verified WHERE inter*1.0/(na+nb-inter) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    "q141_silhouette" ->
      s"""WITH $IvfAssignCtes, rnk AS (
        |  SELECT vec_id, cent_id, dist,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |                       ORDER BY dist, cent_id) AS rn
        |  FROM cdist
        |), ab AS (
        |  SELECT a.vec_id, a.cent_id,
        |    CASE WHEN b.dist = 0 THEN 0.0
        |         ELSE ROUND((sqrt(b.dist) - sqrt(a.dist)) / sqrt(b.dist), 6)
        |    END AS s
        |  FROM rnk a JOIN rnk b
        |    ON b.vec_id = a.vec_id AND a.rn = 1 AND b.rn = 2
        |), agg AS (
        |  SELECT cent_id, COUNT(1) AS n,
        |    SUM(CAST(ROUND(s*1000000, 0) AS BIGINT)) AS sm
        |  FROM ab GROUP BY 1
        |)
        |SELECT cent_id, CAST(n AS BIGINT) AS n,
        |  SIGN(sm) * FLOOR((10*ABS(sm) + 5*n) * 1.0 / (10*n)) / 1000000.0
        |    AS mean_silhouette
        |FROM agg ORDER BY cent_id""".stripMargin,

    "q142_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, i AS pos, w[i] AS tok FROM (
        |    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
        |    FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(text), '\s+') AS w
        |      FROM documents))
        |  WHERE w[i] IN ('stream', 'table', 'hash')
        |)
        |SELECT s.doc_id, CAST(COUNT(1) AS BIGINT) AS n_matches,
        |  CAST(MIN(s.pos) AS BIGINT) AS first_pos
        |FROM toks s
        |JOIN toks t1 ON t1.doc_id = s.doc_id AND t1.pos = s.pos + 1
        |  AND t1.tok = 'table'
        |JOIN toks t2 ON t2.doc_id = s.doc_id AND t2.pos = s.pos + 2
        |  AND t2.tok = 'hash'
        |WHERE s.tok = 'stream'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical computation to q52's oracle: the gate proves the
    // rule-rewritten plain-SQL join returns the same rows
    "q143_rule_range_join" ->
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS w_start,
        |         epoch_us(ts) + 7200000000 AS w_end
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT w.win_id, e.event_id
        |FROM events e JOIN wins w
        |  ON e.user_id = w.user_id AND epoch_us(e.ts) >= w.w_start
        | AND epoch_us(e.ts) <= w.w_end
        |ORDER BY 1, 2""".stripMargin,

    // identical computation to q53's oracle: the overlap rewrite must
    // return the same pairs as the explicit bucketed operator
    "q144_rule_interval_overlap" ->
      """WITH wins AS (
        |  SELECT user_id, event_id AS win_id, epoch_us(ts) AS s,
        |         epoch_us(ts) + 72000000000 AS e
        |  FROM (SELECT user_id, ts, event_id,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT a.win_id AS win_a, b.win_id AS win_b
        |FROM wins a JOIN wins b
        |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
        | AND a.win_id < b.win_id
        |ORDER BY 1, 2""".stripMargin,

    "q145_ranking_metrics" ->
      """WITH q(query_id, term) AS (
        |  VALUES (1, 'spark'), (2, 'hash'), (3, 'window')
        |), tf AS (
        |  SELECT q.query_id, d.doc_id, COUNT(1) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |        FROM documents) d
        |  JOIN q ON d.tok = q.term
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT query_id, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY tf DESC, doc_id) AS rank
        |  FROM tf QUALIFY rank <= 20
        |), rels AS (
        |  SELECT query_id, doc_id, CAST(LEAST(tf, 3) AS DOUBLE) AS rel
        |  FROM tf
        |), ideal AS (
        |  SELECT query_id, COUNT(1) AS n_rel,
        |    SUM(CASE WHEN irank <= 10
        |        THEN (POW(2.0, rel) - 1) / log2(irank + 1.0) ELSE 0 END)
        |      AS idcg
        |  FROM (SELECT query_id, doc_id, rel,
        |          ROW_NUMBER() OVER (PARTITION BY query_id
        |                             ORDER BY rel DESC, doc_id) AS irank
        |        FROM rels)
        |  GROUP BY 1
        |), scored AS (
        |  SELECT r.query_id,
        |    COUNT(CASE WHEN s.rel IS NOT NULL THEN 1 END) AS n_hit,
        |    SUM(CASE WHEN s.rel IS NOT NULL
        |        THEN (POW(2.0, s.rel) - 1) / log2(r.rank + 1.0)
        |        ELSE 0 END) AS dcg,
        |    MIN(CASE WHEN s.rel IS NOT NULL THEN r.rank END) AS first
        |  FROM ranked r LEFT JOIN rels s
        |    ON s.query_id = r.query_id AND s.doc_id = r.doc_id
        |  WHERE r.rank <= 10
        |  GROUP BY 1
        |)
        |, qids AS (
        |  SELECT DISTINCT query_id FROM ranked
        |  UNION
        |  SELECT DISTINCT query_id FROM rels
        |)
        |SELECT CAST(q.query_id AS BIGINT) AS query_id,
        |  COALESCE(i.n_rel, 0) AS n_rel,
        |  CAST(COALESCE(s.n_hit, 0) AS BIGINT) AS n_hit,
        |  ROUND(COALESCE(s.n_hit, 0) * 1.0 / i.n_rel, 6) AS recall,
        |  ROUND(COALESCE(s.n_hit, 0) / 10.0, 6) AS precision,
        |  ROUND(COALESCE(1.0 / s.first, 0), 6) AS mrr,
        |  ROUND(COALESCE(s.dcg, 0) / i.idcg, 6) AS ndcg
        |FROM qids q LEFT JOIN scored s USING (query_id)
        |  LEFT JOIN ideal i USING (query_id)
        |ORDER BY 1""".stripMargin,

    "q147_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // mirrors sessionizeClosed at MILLISECOND precision: order and gap
    // on epoch-ms (the Event carrier truncates), sessions via
    // gaps-and-islands, closed = all but each user's last session PLUS
    // the last one when the watermark (global max event-time ms)
    // passed its gap horizon
    "q148_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    CAST(FLOOR(epoch_us(ts) / 1000) AS BIGINT) AS ms
        |  FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, ms,
        |    CASE WHEN ms - lag(ms) OVER w > 1800000
        |         OR lag(ms) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
        |), g AS (
        |  SELECT user_id, value, ms,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY ms, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
        |    CAST(COUNT(1) AS BIGINT) AS n_events,
        |    ROUND(SUM(value), 4) AS sum_value
        |  FROM g GROUP BY 1, 2
        |)
        |SELECT user_id, make_timestamp(start_ms * 1000) AS session_start,
        |  make_timestamp(end_ms * 1000) AS session_end, n_events, sum_value
        |FROM sess
        |WHERE sid < (SELECT MAX(s2.sid) FROM sess s2
        |             WHERE s2.user_id = sess.user_id)
        |   OR end_ms + 1800000 < (SELECT MAX(ms) FROM e)
        |ORDER BY user_id, session_start""".stripMargin,

    // mirrors session_window at µs precision: a new session when the
    // gap to the previous event is >= 30 min (an event exactly at the
    // previous window's end starts a NEW window); end = last + gap;
    // append emits sessions the ms-granular watermark closed
    "q149_stream_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000
        |         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), g AS (
        |  SELECT user_id, value, us,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, MIN(us) AS start_us,
        |    MAX(us) + 1800000000 AS end_us,
        |    CAST(COUNT(1) AS BIGINT) AS n_events,
        |    ROUND(SUM(value), 4) AS sum_value
        |  FROM g GROUP BY user_id, sid
        |)
        |SELECT user_id, make_timestamp(start_us) AS session_start,
        |  make_timestamp(end_us) AS session_end, n_events, sum_value
        |FROM sess
        |WHERE end_us <= (SELECT FLOOR(MAX(us) / 1000) * 1000 FROM e)
        |ORDER BY user_id, session_start""".stripMargin,

    "q150_session_window_batch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000
        |         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), g AS (
        |  SELECT user_id, value, us,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |)
        |SELECT user_id, make_timestamp(MIN(us)) AS session_start,
        |  make_timestamp(MAX(us) + 1800000000) AS session_end,
        |  CAST(COUNT(1) AS BIGINT) AS n_events,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // lang_pred CTE mirrors q19's langId oracle exactly
    "q146_label_agreement" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
         |), s AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS en_hits,
         |    len(list_filter(w, x -> x IN ('el','la','de','que','y','en','un'))) AS es_hits,
         |    len(list_filter(w, x -> x IN ('le','la','de','et','un','les','des'))) AS fr_hits
         |  FROM t
         |), labels AS (
         |  SELECT lang AS a,
         |    CASE WHEN greatest(en_hits, es_hits, fr_hits) = 0 THEN 'unk'
         |         WHEN en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
         |         WHEN es_hits >= fr_hits THEN 'es' ELSE 'fr' END AS b
         |  FROM s
         |), agg AS (
         |  SELECT COUNT(1) AS n,
         |    SUM(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END) * 1.0
         |      / COUNT(1) AS po
         |  FROM labels
         |), ma AS (
         |  SELECT a AS lab, COUNT(1) * 1.0 AS ca FROM labels GROUP BY 1
         |), mb AS (
         |  SELECT b AS lab, COUNT(1) * 1.0 AS cb FROM labels GROUP BY 1
         |), chance AS (
         |  SELECT SUM(ca * cb) AS num FROM ma JOIN mb USING (lab)
         |)
         |SELECT n, ROUND(po, 6) AS po,
         |  ROUND(num / (n * 1.0 * n), 6) AS pe,
         |  ROUND((po - num / (n * 1.0 * n))
         |        / (1 - num / (n * 1.0 * n)), 6) AS kappa
         |FROM agg CROSS JOIN chance""".stripMargin,

    // q151: the hash values below are FROZEN outputs of the
    // deterministic fixture pipeline (pure-integer pixels → JDK PNG
    // encode/decode → area-average resample → dHash64 — bit-stable by
    // construction); the oracle replays the ≤4-bit near-dup pairing by
    // brute force over them, so a drift in ANY stage of the Spark-side
    // decode→hash→band pipeline breaks the gate.
    "q151_multimodal_neardup" ->
      """WITH h(media_id, phash) AS (
        |  VALUES
        |    (0, CAST(2170523769162956733 AS BIGINT)),
        |    (1, CAST(4339351779891472359 AS BIGINT)),
        |    (2, CAST(-4939491224833902285 AS BIGINT)),
        |    (3, CAST(3921872058454533225 AS BIGINT)),
        |    (4, CAST(-6248086194791755115 AS BIGINT)),
        |    (5, CAST(5584447344285246382 AS BIGINT)),
        |    (6, CAST(4103218227461962867 AS BIGINT)),
        |    (7, CAST(-3545233626446849607 AS BIGINT)),
        |    (8, CAST(-2748440734620834708 AS BIGINT)),
        |    (9, CAST(5950844645780640342 AS BIGINT)),
        |    (10, CAST(6476606854997602689 AS BIGINT)),
        |    (11, CAST(-1761122469427569543 AS BIGINT)),
        |    (12, CAST(-3703802333178927412 AS BIGINT)),
        |    (13, CAST(-2614781743216075850 AS BIGINT)),
        |    (14, CAST(-5933163569153947054 AS BIGINT)),
        |    (15, CAST(5602336912791369812 AS BIGINT)),
        |    (100, CAST(2170523769196511165 AS BIGINT)),
        |    (101, CAST(4339351779891472359 AS BIGINT)),
        |    (102, CAST(-4939491224833902285 AS BIGINT)),
        |    (103, CAST(3921872058454533225 AS BIGINT)),
        |    (104, CAST(-6248086194724646251 AS BIGINT)),
        |    (105, CAST(5584447344285246382 AS BIGINT)),
        |    (200, CAST(3921872058454533225 AS BIGINT))
        |), p AS (
        |  SELECT a.media_id AS ma, b.media_id AS mb
        |  FROM h a JOIN h b ON a.media_id < b.media_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 4
        |), c AS (
        |  SELECT media_id, COUNT(1) AS n_dups FROM (
        |    SELECT ma AS media_id FROM p
        |    UNION ALL SELECT mb AS media_id FROM p)
        |  GROUP BY 1
        |)
        |SELECT CAST(h.media_id AS BIGINT) AS media_id, h.phash,
        |  COALESCE(c.n_dups, 0) AS n_dups
        |FROM h LEFT JOIN c USING (media_id)
        |ORDER BY 1""".stripMargin,

    "q152_skew_salted_join" ->
      """WITH dim(flag, weight) AS (VALUES ('A', 2), ('N', 3), ('R', 5))
        |SELECT l.l_returnflag AS flag, COUNT(1) AS n,
        |  SUM(l.l_quantity * d.weight) AS weighted
        |FROM lineitem l JOIN dim d ON l.l_returnflag = d.flag
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q153/q154: IDENTICAL oracles to q147/q149 — the restart must be
    // invisible in the result, which is the whole point of the gate.
    "q153_stream_dedup_restart" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "q154_session_restart" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        |), b AS (
        |  SELECT user_id, event_id, value, us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000
        |         OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), g AS (
        |  SELECT user_id, value, us,
        |    SUM(brk) OVER (PARTITION BY user_id
        |                   ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b
        |), sess AS (
        |  SELECT user_id, MIN(us) AS start_us,
        |    MAX(us) + 1800000000 AS end_us,
        |    CAST(COUNT(1) AS BIGINT) AS n_events,
        |    ROUND(SUM(value), 4) AS sum_value
        |  FROM g GROUP BY user_id, sid
        |)
        |SELECT user_id, make_timestamp(start_us) AS session_start,
        |  make_timestamp(end_us) AS session_end, n_events, sum_value
        |FROM sess
        |WHERE end_us <= (SELECT FLOOR(MAX(us) / 1000) * 1000 FROM e)
        |ORDER BY user_id, session_start""".stripMargin,

    "q155_holiday_calendar" ->
      s"""WITH cal AS (
         |  SELECT * FROM read_csv('/root/repo/fixtures/market_calendar_2024.csv',
         |                         header = true)
         |), daily AS ($dailyReturnsSql)
         |SELECT fund_id, rtype, strftime(mdate, '%Y-%W') AS year_week,
         |       ROUND(EXP(SUM(LN(1 + r))) - 1, 6) AS weekly_return
         |FROM daily JOIN cal ON daily.mdate = cal."date"
         |WHERE cal.is_working_day
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // Same shared minhash CTE chain as q15/q67 (independent md5-keyed
    // implementation); only the final scoring differs — containment
    // per direction instead of Jaccard, thresholded on the ROUNDED
    // value exactly like the Spark side.
    "q156_containment" ->
      s"""WITH $MinhashGateCtes
         |SELECT doc_a, doc_b,
         |  ROUND(inter * 1.0 / na, 6) AS contain_a,
         |  ROUND(inter * 1.0 / nb, 6) AS contain_b
         |FROM verified
         |WHERE ROUND(inter * 1.0 / na, 6) >= 0.8
         |   OR ROUND(inter * 1.0 / nb, 6) >= 0.8
         |ORDER BY 1, 2""".stripMargin,

    "q157_snapshot_diff" ->
      """WITH nw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 37 <> 0
        |  UNION ALL
        |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM documents o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id
        |ORDER BY 1""".stripMargin,

    // Same nw derivation as q157; delta = its added ∪ changed rows,
    // then the q140 bipartite minhash machinery against the standing
    // corpus.
    // identical oracle: the composed fuzzyJoin path (q158) and the
    // persisted-index query path (q171) must produce the SAME pairs —
    // the index round-trip loses nothing
    "q158_incremental_neardup" -> IncrementalNearDupOracleSql,
    "q171_incremental_via_index" -> IncrementalNearDupOracleSql,

    "q160_stream_enrich" ->
      """WITH dim(event_type, category) AS (
        |  VALUES ('click', 'engagement'), ('view', 'engagement'),
        |         ('purchase', 'revenue')
        |)
        |SELECT e.event_id, e.user_id, e.event_type, d.category, e.value
        |FROM events e LEFT JOIN dim d USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    "q161_stream_join" ->
      """SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id,
        |       r.value AS r_value
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'signup' AND r.event_type = 'purchase'
        | AND epoch_us(r.ts) >= epoch_us(l.ts)
        | AND epoch_us(r.ts) <= epoch_us(l.ts) + 7200000000
        |ORDER BY 1, 2""".stripMargin,

    "q162_winnow_fingerprint" ->
      s"""WITH $WinnowCtes
         |SELECT doc_id, pos, fp FROM wfp ORDER BY doc_id, pos""".stripMargin,

    "q163_winnow_neardup" ->
      s"""WITH $WinnowCtes,
         |fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |FROM fps a JOIN fps b USING (fp) JOIN rare USING (fp)
         |WHERE a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 15 ORDER BY 1, 2""".stripMargin,

    "q164_record_linkage" ->
      s"""WITH $LinkCtes
         |SELECT id_a, id_b, dist FROM llink ORDER BY 1, 2""".stripMargin,

    "q165_entity_resolution" ->
      s"""WITH RECURSIVE $LinkCtes,
         |ledge AS (
         |  SELECT id_a AS src, id_b AS dst FROM llink
         |  UNION SELECT id_b, id_a FROM llink
         |), lreach(src, dst) AS (
         |  SELECT src, dst FROM ledge
         |  UNION
         |  SELECT r.src, e.dst FROM lreach r JOIN ledge e ON r.dst = e.src
         |), lcomp AS (
         |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |  FROM lreach GROUP BY src
         |), lall AS (
         |  SELECT r.doc_id, COALESCE(c.component, r.doc_id) AS entity_id
         |  FROM lrec r LEFT JOIN lcomp c USING (doc_id)
         |)
         |SELECT doc_id, entity_id,
         |  COUNT(*) OVER (PARTITION BY entity_id) AS n_members
         |FROM lall ORDER BY doc_id""".stripMargin,

    // the DIRECT (unfiltered) posting-join containment — no prefix
    // filtering — so agreement proves the Spark side's pigeonhole
    // candidate generation is containment-complete
    "q166_containment_join" ->
      """WITH exc AS (
        |  SELECT doc_id + 20000000 AS doc_id, substr(text, 40, 160) AS text
        |  FROM documents
        |  WHERE doc_id % 17 = 0 AND length(substr(text, 40, 160)) >= 40
        |), etoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM exc
        |), esh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM etoks
        |), eex AS (
        |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM esh
        |), ctoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), csh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM ctoks
        |), cex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM csh
        |), joined AS (
        |  SELECT e.doc_id AS small_id, c.doc_id AS corpus_id,
        |         COUNT(1) AS inter, MAX(e.n) AS na
        |  FROM eex e JOIN cex c ON c.s = e.s
        |  GROUP BY 1, 2
        |)
        |SELECT small_id, corpus_id,
        |  ROUND(inter * 1.0 / na, 6) AS containment
        |FROM joined
        |WHERE ROUND(inter * 1.0 / na, 6) >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    // two full clean chains (epoch 0 = even ids, epoch 1 = odd ids)
    // + cross-batch exact hash anti-join + bipartite LSH near-dup of
    // the novel docs against epoch-0 SURVIVORS — the SQL mirror of
    // CorpusIngest's per-epoch semantics across the restart
    "q167_ingest_restart" ->
      s"""WITH RECURSIVE b1i AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
         |), b2i AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0
         |), ${cleanChainCtes("c1", "b1i")},
         |${cleanChainCtes("c2", "b2i")},
         |novelx AS (
         |  SELECT doc_id, text FROM cleanc2
         |  WHERE md5(text) NOT IN (SELECT md5(text) FROM cleanc1)
         |), candx AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bandsc1 a JOIN bandsc2 b
         |    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
         |  WHERE a.doc_id IN (SELECT doc_id FROM cleanc1)
         |    AND b.doc_id IN (SELECT doc_id FROM novelx)
         |), dropx AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM (
         |    SELECT c.doc_a, c.doc_b
         |    FROM candx c
         |    JOIN exc1 ea ON ea.doc_id = c.doc_a
         |    JOIN exc2 eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
         |    GROUP BY 1, 2
         |    HAVING COUNT(1)*1.0/(MAX(ea.n)+MAX(eb.n)-COUNT(1)) >= 0.8)
         |)
         |SELECT doc_id FROM cleanc1
         |UNION ALL
         |SELECT doc_id FROM novelx
         |WHERE doc_id NOT IN (SELECT doc_id FROM dropx)
         |ORDER BY doc_id""".stripMargin,

    "q168_winnow_spans" ->
      s"""WITH $WinnowCtes,
         |fps AS (SELECT DISTINCT doc_id, fp FROM wfp),
         |rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20),
         |wpairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fps a JOIN fps b USING (fp) JOIN rare USING (fp)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 15
         |), marks AS (
         |  SELECT p.doc_a, p.doc_b, a.pos - b.pos AS a_offset,
         |         a.pos AS pos_a
         |  FROM wpairs p
         |  JOIN wfp a ON a.doc_id = p.doc_a
         |  JOIN rare r ON r.fp = a.fp
         |  JOIN wfp b ON b.doc_id = p.doc_b AND b.fp = a.fp
         |), brks AS (
         |  SELECT *, CASE WHEN pos_a - LAG(pos_a) OVER (
         |      PARTITION BY doc_a, doc_b, a_offset ORDER BY pos_a) > 50
         |    THEN 1 ELSE 0 END AS brk
         |  FROM marks
         |), runs AS (
         |  SELECT *, SUM(brk) OVER (
         |      PARTITION BY doc_a, doc_b, a_offset ORDER BY pos_a
         |      ROWS UNBOUNDED PRECEDING) AS run
         |  FROM brks
         |)
         |SELECT doc_a, doc_b, a_offset,
         |  MIN(pos_a) AS a_start, MAX(pos_a) + 7 AS a_end,
         |  COUNT(1) AS n_marks
         |FROM runs
         |GROUP BY doc_a, doc_b, a_offset, run
         |HAVING COUNT(1) >= 2
         |ORDER BY 1, 2, 3, 4""".stripMargin,

    // level-1 blocks (cap 8) pass through; over-cap rows re-block
    // under the doubled 16-char key ('P:'/'S:' tags, colliding with
    // neither level-1 namespace); still-hot level-2 blocks drop
    "q169_linkage_subblocked" ->
      """WITH lrec AS (
        |  SELECT doc_id, lower(substr(text, 1, 64)) AS name FROM documents
        |  WHERE length(text) >= 16
        |), lblk AS (
        |  SELECT doc_id, name, 'p:' || substr(name, 1, 8) AS blk FROM lrec
        |  UNION ALL
        |  SELECT doc_id, name,
        |    's:' || substr(name, greatest(length(name)-7, 1)) AS blk
        |  FROM lrec
        |), lcnt AS (
        |  SELECT doc_id, name, blk,
        |    count(*) OVER (PARTITION BY blk) AS bn
        |  FROM lblk
        |), lok1 AS (
        |  SELECT doc_id, name, blk FROM lcnt WHERE bn <= 8
        |), lsub AS (
        |  SELECT doc_id, name,
        |    CASE WHEN blk LIKE 'p:%' THEN 'P:' || substr(name, 1, 16)
        |         ELSE 'S:' || substr(name, greatest(length(name)-15, 1))
        |    END AS blk
        |  FROM lcnt WHERE bn > 8
        |), lok2 AS (
        |  SELECT doc_id, name, blk FROM (
        |    SELECT doc_id, name, blk,
        |      count(*) OVER (PARTITION BY blk) AS bn2
        |    FROM lsub
        |  ) WHERE bn2 <= 8
        |), lcap AS (
        |  SELECT doc_id, name, blk FROM lok1
        |  UNION ALL
        |  SELECT doc_id, name, blk FROM lok2
        |), lcand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM lcap a JOIN lcap b USING (blk)
        |  WHERE a.doc_id < b.doc_id
        |)
        |SELECT c.id_a, c.id_b,
        |  CAST(levenshtein(ra.name, rb.name) AS BIGINT) AS dist
        |FROM lcand c JOIN lrec ra ON ra.doc_id = c.id_a
        |             JOIN lrec rb ON rb.doc_id = c.id_b
        |WHERE levenshtein(ra.name, rb.name) <= 16
        |ORDER BY 1, 2""".stripMargin,

    // the single-window rank reference: agreement proves the
    // distributed rank (range partition + per-partition offsets) and
    // the rank-bucket candidate join are exact
    "q170_sorted_neighborhood" ->
      """WITH srec AS (
        |  SELECT doc_id, lower(substr(text, 1, 64)) AS name FROM documents
        |  WHERE text IS NOT NULL
        |), srk AS (
        |  SELECT doc_id, name,
        |    ROW_NUMBER() OVER (ORDER BY name, doc_id) AS rk
        |  FROM srec
        |)
        |SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
        |       GREATEST(a.doc_id, b.doc_id) AS id_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM srk a JOIN srk b ON b.rk > a.rk AND b.rk <= a.rk + 10
        |WHERE levenshtein(a.name, b.name) <= 16
        |ORDER BY 1, 2""".stripMargin,

    // the robust-rule recurrence, decomposed for SQL tractability: a
    // selection can only persist across windows sharing its hash, so
    // within each maximal RUN of equal-min-hash windows the selections
    // are the jump sequence p -> rightmost-min-position(window p+1)
    // from the run's first window, and every run boundary re-selects
    // fresh (the previous selection's hash differs by construction).
    // The recursion therefore only steps through tie runs — depth =
    // longest tie run, not document length (a window-by-window replay
    // was measured 50x slower). Same h*P-i packed keys as q162.
    "q172_winnow_robust" ->
      """WITH RECURSIVE wk AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, length(text)-7),
        |      i -> CAST(('0x'||substr(md5(substr(text,i,8)),1,8)) AS BIGINT)
        |           * 1000000 - i) AS keys
        |  FROM documents WHERE length(text) >= 11
        |), wm AS (
        |  SELECT doc_id, list_transform(generate_series(1, len(keys)-3),
        |    s -> list_min(keys[s:s+3])) AS wmins
        |  FROM wk
        |), fw0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(wmins)),
        |    s -> {'s': s, 'm': wmins[s]})) AS u
        |  FROM wm
        |), fw AS (
        |  SELECT doc_id, u.s AS s, u.m AS m,
        |    (u.m + ((-u.m)%1000000+1000000)%1000000)//1000000 AS h,
        |    ((-u.m)%1000000+1000000)%1000000 AS p
        |  FROM fw0
        |), chg AS (
        |  SELECT doc_id, s, m, h, p,
        |    CASE WHEN LAG(h) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
        |           OR h <> LAG(h) OVER (PARTITION BY doc_id ORDER BY s)
        |      THEN 1 ELSE 0 END AS is_start
        |  FROM fw
        |), runs AS (
        |  SELECT doc_id, s, m, p, is_start,
        |    SUM(is_start) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS rid
        |  FROM chg
        |), rend AS (
        |  SELECT doc_id, s, m, p, is_start,
        |    MAX(s) OVER (PARTITION BY doc_id, rid) AS re
        |  FROM runs
        |), jump(doc_id, m, p, re) AS (
        |  SELECT doc_id, m, p, re FROM rend WHERE is_start = 1
        |  UNION ALL
        |  SELECT j.doc_id, f.m, f.p, j.re
        |  FROM jump j JOIN rend f ON f.doc_id = j.doc_id AND f.s = j.p + 1
        |  WHERE j.p + 1 <= j.re
        |)
        |SELECT doc_id,
        |  CAST(((-m)%1000000+1000000)%1000000 AS BIGINT) AS pos,
        |  CAST((m + ((-m)%1000000+1000000)%1000000) // 1000000
        |    AS BIGINT) AS fp
        |FROM (SELECT DISTINCT doc_id, m FROM jump)
        |ORDER BY doc_id, pos""".stripMargin,

    // the capped path mirrored exactly: per-shingle corpus df, the
    // rare-first pigeonhole rank (ties on the shingle string), the
    // df cap on prefix shingles, then full-intersection verify
    "q173_containment_capped" ->
      """WITH exc AS (
        |  SELECT doc_id + 20000000 AS doc_id, substr(text, 40, 160) AS text
        |  FROM documents
        |  WHERE doc_id % 17 = 0 AND length(substr(text, 40, 160)) >= 40
        |), etoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM exc
        |), esh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM etoks
        |), eex AS (
        |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM esh
        |), ctoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), csh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(w)-2),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM ctoks
        |), cex AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM csh
        |), cdf AS (
        |  SELECT s, count(*) AS cdf FROM cex GROUP BY 1
        |), pre AS (
        |  SELECT small_id, s FROM (
        |    SELECT e.doc_id AS small_id, e.s, e.n,
        |      COALESCE(c.cdf, 0) AS cdf,
        |      ROW_NUMBER() OVER (PARTITION BY e.doc_id
        |        ORDER BY COALESCE(c.cdf, 0), e.s) AS rk
        |    FROM eex e LEFT JOIN cdf c USING (s))
        |  WHERE rk <= n - CEIL(0.8 * n) + 1 AND cdf <= 2
        |), candx AS (
        |  SELECT DISTINCT p.small_id, c.doc_id AS corpus_id
        |  FROM pre p JOIN cex c USING (s)
        |), joined AS (
        |  SELECT x.small_id, x.corpus_id, COUNT(1) AS inter, MAX(e.n) AS na
        |  FROM candx x
        |  JOIN eex e ON e.doc_id = x.small_id
        |  JOIN cex c ON c.doc_id = x.corpus_id AND c.s = e.s
        |  GROUP BY 1, 2
        |)
        |SELECT small_id, corpus_id,
        |  ROUND(inter * 1.0 / na, 6) AS containment
        |FROM joined
        |WHERE ROUND(inter * 1.0 / na, 6) >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    // same blocked candidates (LinkCtes) + the arithmetic mirror of
    // the three-field Fellegi-Sunter weight; classification on the
    // ROUNDED weight, as on the Spark side
    "q174_fellegi_sunter" ->
      s"""WITH $LinkCtes,
         |fs AS (
         |  SELECT l.id_a, l.id_b,
         |    ROUND(
         |      (CASE WHEN l.dist <= 4 THEN LOG2(0.9/0.05)
         |            ELSE LOG2(0.1/0.95) END) +
         |      (CASE WHEN da.source = db.source THEN LOG2(0.7/0.05)
         |            ELSE LOG2(0.3/0.95) END) +
         |      (CASE WHEN FLOOR(da.n_chars/100.0) = FLOOR(db.n_chars/100.0)
         |            THEN LOG2(0.8/0.1) ELSE LOG2(0.2/0.9) END), 6) AS weight
         |  FROM llink l
         |  JOIN documents da ON da.doc_id = l.id_a
         |  JOIN documents db ON db.doc_id = l.id_b
         |)
         |SELECT id_a, id_b, weight,
         |  CASE WHEN weight >= 4.0 THEN 'match'
         |       WHEN weight <= 0.0 THEN 'non_match'
         |       ELSE 'possible' END AS decision
         |FROM fs ORDER BY 1, 2""".stripMargin,

    "q176_fellegi_sunter_em" -> FsEmOracleSql,

    // two suffixed winnow chains (delta side, corpus side) + the
    // cross-side df cap + shared-count threshold
    "q175_winnow_cross" ->
      s"""WITH nw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 37 <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 53 = 0
         |), delta AS (
         |  SELECT n.doc_id, n.text
         |  FROM nw n LEFT JOIN documents o ON o.doc_id = n.doc_id
         |  WHERE o.doc_id IS NULL OR o.text <> n.text
         |), ${winnowCtes("delta", "l")},
         |${winnowCtes("documents", "r")},
         |lfx AS (SELECT DISTINCT doc_id, fp FROM wfpl),
         |rfx AS (SELECT DISTINCT doc_id, fp FROM wfpr),
         |rarex AS (
         |  SELECT fp FROM (
         |    SELECT fp FROM lfx UNION ALL SELECT fp FROM rfx)
         |  GROUP BY fp HAVING count(*) <= 20
         |)
         |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
         |  count(*) AS n_shared
         |FROM lfx l JOIN rarex USING (fp) JOIN rfx r USING (fp)
         |GROUP BY 1, 2 HAVING count(*) >= 15
         |ORDER BY 1, 2""".stripMargin,

    // keep-first line dedup: first occurrence = min (doc_id, line_no),
    // encoded as doc_id*1e6+ln (line counts are far below 1e6); lines
    // under 15 chars exempt. Dual unnest aligns line with its ordinal.
    "q177_line_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    substr(text, 1, 80) || chr(10) ||
        |    'All rights reserved. Copyright Example Corp.' || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'Subscribe to our newsletter today for updates!' || chr(10)
        |      ELSE '' END ||
        |    substr(text, 30, 90) || chr(10) || 'End.' AS t
        |  FROM documents
        |), arr AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS a FROM planted
        |), lines AS (
        |  SELECT doc_id, unnest(a) AS line,
        |         unnest(range(1, len(a) + 1)) AS ln FROM arr
        |), firsts AS (
        |  SELECT line, MIN(doc_id * 1000000 + ln) AS first_at
        |  FROM lines WHERE length(line) >= 15 GROUP BY line
        |), kept AS (
        |  SELECT l.doc_id, l.ln, l.line
        |  FROM lines l LEFT JOIN firsts f ON l.line = f.line
        |  WHERE length(l.line) < 15 OR l.doc_id * 1000000 + l.ln = f.first_at
        |), rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY ln) AS clean,
        |         COUNT(1) AS n_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT a.doc_id, md5(COALESCE(r.clean, '')) AS clean_hash,
        |  CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(len(a.a) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM arr a LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,

    // the incremental path must be indistinguishable from a full
    // recompute over base ∪ delta
    "q178_incremental_agg" ->
      """SELECT o_custkey, COUNT(o_totalprice) AS n,
        |  ROUND(SUM(o_totalprice), 4) AS total,
        |  ROUND(MIN(o_totalprice), 4) AS lo,
        |  ROUND(MAX(o_totalprice), 4) AS hi,
        |  ROUND(SUM(o_totalprice), 4) / COUNT(o_totalprice) AS mean
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // the sketch-side claims are Spark-computed booleans; the oracle
    // pins the exact counts and demands both claims hold everywhere
    "q179_incremental_distinct" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS merged_equals_oneshot,
        |  TRUE AS est_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the streaming-maintained state must be indistinguishable from
    // the batch aggregate over the full event set
    "q180_stream_maintained_agg" ->
      """SELECT event_type, COUNT(value) AS n,
        |  ROUND(SUM(value), 4) AS total,
        |  ROUND(MIN(value), 4) AS lo,
        |  ROUND(MAX(value), 4) AS hi,
        |  ROUND(SUM(value), 4) / COUNT(value) AS mean
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // independent SQL rebuild of the KMV sketches AND the estimator
    // arithmetic ((k-1)*2^48/h_k, rho*est(K)) — estimates must match
    // the Spark side bit-for-bit because both derive from the same
    // portable md5 hash order and the same double-op shapes
    "q181_kmv_sketch" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x'||substr(md5('kmv:'||CAST(user_id AS VARCHAR)),1,12))
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL
        |), rk AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
        |  FROM h
        |), sk AS (
        |  SELECT event_type, list(h ORDER BY h) AS kmv
        |  FROM rk WHERE r <= 64 GROUP BY event_type
        |), pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.kmv AS ka, b.kmv AS kb,
        |    list_sort(list_distinct(a.kmv || b.kmv))[1:64] AS ku
        |  FROM sk a JOIN sk b ON a.event_type < b.event_type
        |), est AS (
        |  SELECT type_a, type_b,
        |    CASE WHEN len(ka) < 64 THEN CAST(len(ka) AS DOUBLE)
        |      ELSE CAST(63 AS DOUBLE) * 281474976710656.0
        |           / CAST(ka[64] AS DOUBLE) END AS est_a,
        |    CASE WHEN len(kb) < 64 THEN CAST(len(kb) AS DOUBLE)
        |      ELSE CAST(63 AS DOUBLE) * 281474976710656.0
        |           / CAST(kb[64] AS DOUBLE) END AS est_b,
        |    CASE WHEN len(ku) < 64 THEN CAST(len(ku) AS DOUBLE)
        |      ELSE CAST(63 AS DOUBLE) * 281474976710656.0
        |           / CAST(ku[64] AS DOUBLE) END AS est_union,
        |    CAST(len(list_intersect(list_intersect(ku, ka), kb)) AS DOUBLE)
        |      / CAST(len(ku) AS DOUBLE) AS rho
        |  FROM pairs
        |), ex AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(1) AS n_inter_exact
        |  FROM (SELECT DISTINCT event_type, user_id FROM events) a
        |  JOIN (SELECT DISTINCT event_type, user_id FROM events) b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT e.type_a, e.type_b, e.est_a, e.est_b, e.est_union,
        |  e.rho * e.est_union AS est_inter, x.n_inter_exact
        |FROM est e JOIN ex x USING (type_a, type_b)
        |ORDER BY e.type_a, e.type_b""".stripMargin,

    // independent rebuild of the deterministic bottom-256 sample (by
    // portable md5 hash of the order key) and the lower-quantile rule
    // over the FULL table — must equal the incrementally-maintained
    // state's view exactly; the one-shot-equality claim is pinned TRUE
    "q182_incremental_quantiles" ->
      """WITH h AS (
        |  SELECT o_orderpriority AS key, o_orderkey AS rid,
        |    o_totalprice AS v,
        |    CAST(('0x'||substr(md5('mq:'||CAST(o_orderkey AS VARCHAR)),1,12))
        |      AS BIGINT) AS h
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |), rk AS (
        |  SELECT key, v,
        |    row_number() OVER (PARTITION BY key ORDER BY h, rid) AS r
        |  FROM h
        |), samp AS (
        |  SELECT key, list(v ORDER BY v) AS vs, COUNT(1) AS n
        |  FROM rk WHERE r <= 256 GROUP BY key
        |)
        |SELECT key AS o_orderpriority, n AS n_sample,
        |  vs[CAST(floor((n-1)*0.5) AS BIGINT)+1] AS p50,
        |  vs[CAST(floor((n-1)*0.9) AS BIGINT)+1] AS p90,
        |  vs[CAST(floor((n-1)*0.99) AS BIGINT)+1] AS p99,
        |  TRUE AS merged_equals_oneshot
        |FROM samp ORDER BY o_orderpriority""".stripMargin,

    // the matched set and its phrase-list order must agree with the
    // one-pass automaton
    "q183_blocklist" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_filter(['scan slow','slow fast table','agg row scan',
        |      'table part','spark','zebra quantum fox'],
        |      p -> contains(text, p)) AS hits
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_matched,
        |  COALESCE(array_to_string(hits, ','), '') AS matched,
        |  len(hits) > 0 AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,

    // the sketch-side claims are Spark-computed booleans; the oracle
    // pins the exact counts and demands both claims hold everywhere
    "q184_stream_distinct" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS stream_equals_oneshot,
        |  TRUE AS est_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the bloom pre-filter must be invisible in the result: plain
    // semi-join semantics
    "q185_bloom_semijoin" ->
      """SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND year(o_orderdate) = 1995)
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // the union view of the evolved batches, reconstructed from the
    // source table: even docs are v1 (no lang/n_chars), odd are v2
    "q186_schema_evolution" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
        |  md5(text) AS text_hash,
        |  doc_id % 2 AS batch
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every expectation's violation count recomputed independently;
    // report rows sort by rule name
    "q187_expectations" ->
      """WITH n AS (SELECT COUNT(1) AS n_rows FROM orders)
        |SELECT rule, n_violations, n_rows, n_violations = 0 AS pass
        |FROM (
        |  SELECT 'not_null(o_custkey)' AS rule,
        |    (SELECT COUNT(1) FROM orders WHERE o_custkey IS NULL)
        |      AS n_violations, n_rows FROM n
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice,0.0,400000.0)',
        |    (SELECT COUNT(1) FROM orders WHERE o_totalprice IS NOT NULL
        |       AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'matches_regex(o_orderpriority)',
        |    (SELECT COUNT(1) FROM orders WHERE o_orderpriority IS NOT NULL
        |       AND NOT regexp_matches(o_orderpriority, '^[1-5]-')),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'one_of(o_orderstatus)',
        |    (SELECT COUNT(1) FROM orders WHERE o_orderstatus IS NOT NULL
        |       AND o_orderstatus NOT IN ('O', 'F')),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM (
        |       SELECT COUNT(1) AS c FROM orders GROUP BY o_orderkey
        |       HAVING COUNT(1) > 1)),
        |    n_rows FROM n
        |  UNION ALL
        |  SELECT 'ref_integrity(o_custkey)',
        |    (SELECT COUNT(1) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |       SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |    n_rows FROM n
        |)
        |ORDER BY rule""".stripMargin,

    // association counts and ln-PMI recomputed independently
    "q188_cooccurrence" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id AS g, event_type AS item FROM events
        |), n AS (
        |  SELECT COUNT(DISTINCT g) AS n_baskets FROM b
        |), m AS (
        |  SELECT item, COUNT(1) AS n_item FROM b GROUP BY item
        |), p AS (
        |  SELECT x.item AS item_a, y.item AS item_b, COUNT(1) AS n_ab
        |  FROM b x JOIN b y ON x.g = y.g AND x.item < y.item
        |  GROUP BY 1, 2
        |)
        |SELECT p.item_a, p.item_b, p.n_ab,
        |  ma.n_item AS n_a, mb.n_item AS n_b, n.n_baskets,
        |  ROUND(ln((CAST(p.n_ab AS DOUBLE) * CAST(n.n_baskets AS DOUBLE))
        |    / (CAST(ma.n_item AS DOUBLE) * CAST(mb.n_item AS DOUBLE))), 6)
        |    AS pmi
        |FROM p
        |JOIN m ma ON ma.item = p.item_a
        |JOIN m mb ON mb.item = p.item_b
        |CROSS JOIN n
        |ORDER BY p.item_a, p.item_b""".stripMargin,

    // every argmax assignment replayed from the same portable scores;
    // ties (impossible at 48 bits in practice) break to the LARGER
    // shard id on both sides
    "q189_rendezvous_shard" ->
      """WITH s5 AS (
        |  SELECT doc_id, s FROM (
        |    SELECT d.doc_id, u.s, row_number() OVER (
        |      PARTITION BY d.doc_id
        |      ORDER BY CAST(('0x'||substr(md5(
        |        'shard:'||u.s||':'||CAST(d.doc_id AS VARCHAR)),1,12))
        |        AS BIGINT) DESC, u.s DESC) AS r
        |    FROM documents d, (SELECT unnest(range(5)) AS s) u)
        |  WHERE r = 1
        |), s6 AS (
        |  SELECT doc_id, s FROM (
        |    SELECT d.doc_id, u.s, row_number() OVER (
        |      PARTITION BY d.doc_id
        |      ORDER BY CAST(('0x'||substr(md5(
        |        'shard:'||u.s||':'||CAST(d.doc_id AS VARCHAR)),1,12))
        |        AS BIGINT) DESC, u.s DESC) AS r
        |    FROM documents d, (SELECT unnest(range(6)) AS s) u)
        |  WHERE r = 1
        |)
        |SELECT d.doc_id, s5.s AS shard5, s6.s AS shard6,
        |  s5.s != s6.s AS moved
        |FROM documents d
        |JOIN s5 ON s5.doc_id = d.doc_id
        |JOIN s6 ON s6.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // from-scratch rebuild of the deterministic bottom-256 sample and
    // the lower-quantile rule over the full event set — the stream-
    // maintained state must be indistinguishable
    "q190_stream_quantiles" ->
      """WITH h AS (
        |  SELECT event_type AS key, event_id AS rid, value AS v,
        |    CAST(('0x'||substr(md5('mq:'||CAST(event_id AS VARCHAR)),1,12))
        |      AS BIGINT) AS h
        |  FROM events WHERE value IS NOT NULL
        |), rk AS (
        |  SELECT key, v,
        |    row_number() OVER (PARTITION BY key ORDER BY h, rid) AS r
        |  FROM h
        |), samp AS (
        |  SELECT key, list(v ORDER BY v) AS vs, COUNT(1) AS n
        |  FROM rk WHERE r <= 256 GROUP BY key
        |)
        |SELECT key AS event_type, n AS n_sample,
        |  vs[CAST(floor((n-1)*0.5) AS BIGINT)+1] AS p50,
        |  vs[CAST(floor((n-1)*0.9) AS BIGINT)+1] AS p90,
        |  vs[CAST(floor((n-1)*0.99) AS BIGINT)+1] AS p99
        |FROM samp ORDER BY event_type""".stripMargin,

    // exhaustive ≤3-hop path enumeration (recursive CTE) — the
    // frontier Bellman-Ford must reproduce every hop-bounded minimum
    "q191_sssp_bounded" ->
      """WITH RECURSIVE e AS (
        |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
        |         CAST(COUNT(1) AS DOUBLE) AS w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2
        |), walk(node, d, hops) AS (
        |  SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), 0
        |  UNION
        |  SELECT e.dst, wk.d + e.w, wk.hops + 1
        |  FROM walk wk JOIN e ON e.src = wk.node
        |  WHERE wk.hops < 3
        |)
        |SELECT node, MIN(d) AS d FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    // the compacted files must aggregate exactly like the source
    "q192_compaction" ->
      """SELECT source, COUNT(1) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(CAST(('0x'||substr(md5(text),1,8)) AS BIGINT))
        |    AS BIGINT) AS content_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // q31's oracle verbatim — the native physical operator must be
    // indistinguishable from the composed form
    "q193_asof_native" ->
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |ORDER BY e.event_id""".stripMargin,

    // Welch t and dof recomputed from DuckDB's own aggregates; the
    // same deterministic parity assignment on both sides
    "q194_ab_welch" ->
      """WITH per AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    COUNT(1) AS n, AVG(value) AS m, VAR_SAMP(value) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), a AS (SELECT event_type, n AS n_a, m AS m_a, v AS v_a
        |         FROM per WHERE variant = 'A'),
        |b AS (SELECT event_type, n AS n_b, m AS m_b, v AS v_b
        |      FROM per WHERE variant = 'B')
        |SELECT a.event_type, n_a, n_b,
        |  ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
        |  ROUND((m_a - m_b) / sqrt(v_a/n_a + v_b/n_b), 6) AS t,
        |  ROUND(((v_a/n_a + v_b/n_b) * (v_a/n_a + v_b/n_b)) /
        |    ((v_a/n_a) * (v_a/n_a) / (n_a - 1)
        |      + (v_b/n_b) * (v_b/n_b) / (n_b - 1)), 6) AS dof,
        |  abs(ROUND((m_a - m_b) / sqrt(v_a/n_a + v_b/n_b), 6)) > 1.96
        |    AS significant
        |FROM a JOIN b USING (event_type)
        |ORDER BY a.event_type""".stripMargin,

    // the identical Morton mask cascade in DuckDB arithmetic (hex
    // masks as decimals — this DuckDB has no hex literals); both
    // dimensions ride one cascade via a 2-row-per-event union
    "q195_zorder_key" ->
      """WITH base AS (
        |  SELECT event_id, user_id % 1024 AS a, event_id % 1024 AS b
        |  FROM events
        |), s AS (
        |  SELECT event_id, 0 AS w, CAST(a AS BIGINT) & 4294967295 AS v
        |  FROM base
        |  UNION ALL
        |  SELECT event_id, 1 AS w, CAST(b AS BIGINT) & 4294967295 AS v
        |  FROM base
        |), c1 AS (SELECT event_id, w,
        |    (v | (v << 16)) & 281470681808895 AS v FROM s),
        |c2 AS (SELECT event_id, w,
        |    (v | (v << 8)) & 71777214294589695 AS v FROM c1),
        |c3 AS (SELECT event_id, w,
        |    (v | (v << 4)) & 1085102592571150095 AS v FROM c2),
        |c4 AS (SELECT event_id, w,
        |    (v | (v << 2)) & 3689348814741910323 AS v FROM c3),
        |c5 AS (SELECT event_id, w,
        |    (v | (v << 1)) & 6148914691236517205 AS v FROM c4)
        |SELECT event_id,
        |  CAST(MAX(CASE WHEN w = 0 THEN v END)
        |    | (MAX(CASE WHEN w = 1 THEN v END) << 1) AS BIGINT) AS zkey
        |FROM c5 GROUP BY event_id ORDER BY event_id""".stripMargin,

    // one global ROW_NUMBER over the portable md5 key — the exact
    // order the two-phase block formulation must reproduce
    "q196_epoch_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id, shuffle_key,
        |  CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1
        |    AS BIGINT) AS pos,
        |  CAST((ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1) // 1000
        |    AS BIGINT) AS batch
        |FROM k ORDER BY doc_id""".stripMargin,

    "q197_k_anonymity" ->
      """SELECT lang, source, n_chars // 200 AS len_bucket,
        |  CAST(COUNT(1) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT n_chars % 10) AS BIGINT) AS l_div,
        |  COUNT(1) >= 5 AS k_anonymous,
        |  COUNT(DISTINCT n_chars % 10) >= 3 AS l_diverse
        |FROM documents GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // theta recomputed from DuckDB's own pooled covar/var moments
    "q198_cuped" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    AVG(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
        |        THEN value END) AS pre,
        |    AVG(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
        |        THEN value END) AS post
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), per2 AS (
        |  SELECT * FROM per WHERE pre IS NOT NULL AND post IS NOT NULL
        |), st AS (
        |  SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
        |    AVG(pre) AS pre_mean
        |  FROM per2
        |), adj AS (
        |  SELECT variant, post, post - theta * (pre - pre_mean) AS adj
        |  FROM per2, st
        |)
        |SELECT variant, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND(AVG(post), 6) AS mean_raw,
        |  ROUND(AVG(adj), 6) AS mean_adj,
        |  ROUND(1 - var_samp(adj) / var_samp(post), 6) AS var_reduction
        |FROM adj GROUP BY variant ORDER BY variant""".stripMargin,

    "q199_srm" ->
      """WITH per AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_b
        |  FROM events GROUP BY 1
        |), e AS (
        |  SELECT event_type, n_a, n_b,
        |    CAST(n_a + n_b AS DOUBLE) / 2 AS ex
        |  FROM per
        |)
        |SELECT event_type, n_a, n_b,
        |  ROUND((n_a - ex) * (n_a - ex) / ex
        |    + (n_b - ex) * (n_b - ex) / ex, 6) AS chi2,
        |  ROUND((n_a - ex) * (n_a - ex) / ex
        |    + (n_b - ex) * (n_b - ex) / ex, 6) > 3.841459 AS srm
        |FROM e ORDER BY event_type""".stripMargin,

    // q31's oracle verbatim — broadcast + binary-search formulation
    // must be indistinguishable from the composed and native forms
    "q200_asof_broadcast" ->
      """WITH rates AS (
        |  SELECT user_id, ts AS upd_ts, value AS rate
        |  FROM (SELECT user_id, ts, value,
        |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                             ORDER BY ts, event_id) AS rn
        |        FROM events) WHERE rn = 1
        |)
        |SELECT e.event_id, e.user_id, r.rate
        |FROM events e
        |ASOF JOIN rates r ON e.user_id = r.user_id AND r.upd_ts <= e.ts
        |ORDER BY e.event_id""".stripMargin,

    "q201_target_encode" ->
      """WITH agg AS (
        |  SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS s,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
        |), g AS (
        |  SELECT CAST(SUM(n_chars) AS DOUBLE) / COUNT(1) AS gmean
        |  FROM documents WHERE n_chars IS NOT NULL
        |)
        |SELECT doc_id, source,
        |  ROUND((s + 10 * gmean) / (n + 10), 6) AS te,
        |  ROUND((s - n_chars + 10 * gmean) / (n - 1 + 10), 6) AS te_loo
        |FROM documents LEFT JOIN agg USING (source), g
        |ORDER BY doc_id""".stripMargin,

    // identical portable hash: first 8 md5 nibbles -> index, 9th
    // nibble high bit -> sign
    "q202_hash_features" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, md5(token) AS hx FROM toks WHERE token <> ''
        |)
        |SELECT doc_id,
        |  CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) % 64 AS idx,
        |  CAST(COUNT(1) AS BIGINT) AS tf,
        |  CAST(SUM(CASE WHEN strpos('01234567', substr(hx, 9, 1)) > 0
        |    THEN 1 ELSE -1 END) AS BIGINT) AS sv
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, idx""".stripMargin,

    // independent algorithm: enumerate EVERY segmentation path by
    // recursive CTE and take the min — vs the Spark side's position
    // DP. Seed vocab replayed identically (top-200 multi-char
    // substrings by (cnt desc, piece) + all single chars).
    "q203_unigram_cost" ->
      """WITH RECURSIVE words AS (
        |  SELECT word, CAST(COUNT(1) AS BIGINT) AS wcnt FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' AND len(word) <= 12 GROUP BY 1
        |), p1 AS (
        |  SELECT word, wcnt, unnest(range(1, len(word) + 1)) AS i FROM words
        |), p2 AS (
        |  SELECT word, wcnt, i,
        |    unnest(range(1, least(4, len(word) - i + 1) + 1)) AS l
        |  FROM p1
        |), subs AS (
        |  SELECT substr(word, i, l) AS piece, SUM(wcnt) AS cnt
        |  FROM p2 GROUP BY 1
        |), multi AS (
        |  SELECT piece, cnt FROM subs WHERE len(piece) >= 2
        |  ORDER BY cnt DESC, piece LIMIT 200
        |), kept AS (
        |  SELECT piece, cnt FROM multi
        |  UNION ALL
        |  SELECT piece, cnt FROM subs WHERE len(piece) = 1
        |), vocab AS (
        |  SELECT piece, -ln(CAST(cnt AS DOUBLE) /
        |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM kept)) AS w
        |  FROM kept
        |), spans AS (
        |  SELECT DISTINCT word, i - 1 AS s, i - 1 + l AS e,
        |    substr(word, i, l) AS piece
        |  FROM p2
        |), edges AS (
        |  SELECT spans.word, s, e, vocab.w FROM spans
        |  JOIN vocab USING (piece)
        |), seg AS (
        |  SELECT word, CAST(0 AS BIGINT) AS pos,
        |    CAST(0.0 AS DOUBLE) AS cost FROM words
        |  UNION ALL
        |  SELECT e.word, e.e AS pos, seg.cost + e.w AS cost
        |  FROM seg JOIN edges e ON e.word = seg.word AND e.s = seg.pos
        |)
        |SELECT w.word, ROUND(MIN(s.cost), 6) AS cost
        |FROM seg s JOIN words w ON s.word = w.word AND s.pos = len(w.word)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q204_calibration" ->
      """WITH s AS (
        |  SELECT
        |    CAST(('0x' || substr(md5('cs:' || CAST(event_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 1000000 AS ks,
        |    CAST(('0x' || substr(md5('cy:' || CAST(event_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) % 1000000 AS ky
        |  FROM events
        |), sy AS (
        |  SELECT CAST(ks AS DOUBLE) / 1000000 AS sc,
        |    CASE WHEN ky < ks THEN 1.0 ELSE 0.0 END AS y
        |  FROM s
        |), per AS (
        |  SELECT CAST(LEAST(FLOOR(sc * 10), 9) AS BIGINT) AS bin,
        |    CAST(COUNT(1) AS BIGINT) AS n, AVG(sc) AS conf, AVG(y) AS acc
        |  FROM sy GROUP BY 1
        |), tot AS (
        |  SELECT SUM(abs(acc - conf) * n) / SUM(n) AS ece FROM per
        |)
        |SELECT bin, n, ROUND(conf, 6) AS conf, ROUND(acc, 6) AS acc,
        |  ROUND(abs(acc - conf), 6) AS gap, ROUND(ece, 6) AS ece
        |FROM per, tot ORDER BY bin""".stripMargin,

    // floor(n * frac) in DOUBLE on both sides (0.1e0 forces IEEE, not
    // DuckDB decimal) so the cut indices agree bit-for-bit
    "q205_exact_split" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      CAST(('0x' || substr(md5('xs1:' || CAST(doc_id AS VARCHAR)),
        |        1, 8)) AS BIGINT), doc_id) AS rn,
        |    COUNT(1) OVER (PARTITION BY source) AS n
        |  FROM documents
        |)
        |SELECT doc_id, source,
        |  CASE WHEN rn <= FLOOR(n * 0.1e0) THEN 'val'
        |       WHEN rn <= FLOOR(n * 0.1e0) + FLOOR(n * 0.2e0) THEN 'test'
        |       ELSE 'train' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,

    "q206_cdc_apply" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, ts, event_id, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // every KN statistic recomputed; discounts/smoothers as 0.75e0 /
    // 0.5e0 (DOUBLE, not DuckDB decimal) and the p formula associated
    // exactly as the Spark expression
    "q207_kneser_ney" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i]))
        |      AS w1,
        |    unnest(list_transform(generate_series(1, len(w)-1), i -> w[i+1]))
        |      AS w2
        |  FROM t WHERE len(w) >= 2
        |), model AS (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bg GROUP BY 1, 2
        |), model2 AS (
        |  SELECT w1, w2, c12,
        |    SUM(c12) OVER (PARTITION BY w1) AS c1,
        |    COUNT(1) OVER (PARTITION BY w1) AS n1fw,
        |    COUNT(1) OVER (PARTITION BY w2) AS n1bw
        |  FROM model
        |), tot AS (
        |  SELECT CAST(COUNT(1) AS DOUBLE) AS t,
        |    CAST(COUNT(DISTINCT w2) AS DOUBLE) AS v
        |  FROM model
        |), scored AS (
        |  SELECT b.doc_id,
        |    ln(greatest(m.c12 - 0.75e0, 0) / m.c1
        |      + (0.75e0 * m.n1fw / m.c1)
        |        * ((m.n1bw + 0.5e0) / (tot.t + (tot.v + 1) * 0.5e0))) AS logp
        |  FROM bg b JOIN model2 m ON m.w1 = b.w1 AND m.w2 = b.w2, tot
        |)
        |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(logp), 6) AS avg_logp,
        |  ROUND(exp(-AVG(logp)), 6) AS ppl
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // independent algorithm: every suffix string materialized and
    // sorted (DENSE_RANK over binary order) vs the Spark side's
    // prefix doubling
    "q208_suffix_ranks" ->
      """WITH s AS (
        |  SELECT doc_id, unnest(range(1, len(text) + 1)) AS pos, text
        |  FROM documents WHERE text IS NOT NULL AND len(text) >= 1
        |), suf AS (
        |  SELECT doc_id, pos, substr(text, pos) AS suf FROM s
        |)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  CAST(DENSE_RANK() OVER (ORDER BY suf) AS BIGINT) AS rank
        |FROM suf ORDER BY doc_id, pos""".stripMargin,

    "q209_mann_whitney" ->
      """WITH base AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    value
        |  FROM events WHERE value IS NOT NULL
        |), rk AS (
        |  SELECT event_type, variant,
        |    RANK() OVER (PARTITION BY event_type ORDER BY value) AS r,
        |    CAST(COUNT(1) OVER (PARTITION BY event_type, value)
        |      AS DOUBLE) AS t
        |  FROM base
        |), per AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS na,
        |    CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS nb,
        |    SUM(CASE WHEN variant = 'A' THEN r + (t - 1) / 2.0e0
        |      ELSE 0 END) AS ra,
        |    SUM(t * t - 1) AS tcorr
        |  FROM rk GROUP BY 1
        |)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  ROUND(ra - na * (na + 1) / 2, 6) AS u_a,
        |  ROUND((ra - na * (na + 1) / 2 - na * nb / 2)
        |    / sqrt(na * nb / 12 * ((na + nb + 1)
        |        - tcorr / ((na + nb) * (na + nb - 1)))), 6) AS z,
        |  abs(ROUND((ra - na * (na + 1) / 2 - na * nb / 2)
        |    / sqrt(na * nb / 12 * ((na + nb + 1)
        |        - tcorr / ((na + nb) * (na + nb - 1)))), 6)) > 1.96
        |    AS significant
        |FROM per ORDER BY event_type""".stripMargin,

    "q210_cusum" ->
      """WITH st AS (
        |  SELECT ROUND(AVG(value), 6) AS k,
        |    ROUND(stddev_samp(value) * 2, 6) AS h
        |  FROM events WHERE value IS NOT NULL
        |), b AS (
        |  SELECT user_id, ts, event_id, st.h,
        |    SUM(value - st.k) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS S
        |  FROM events, st WHERE value IS NOT NULL
        |), c AS (
        |  SELECT user_id, ts, event_id, h,
        |    S - LEAST(MIN(S) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 0) AS s
        |  FROM b
        |), al AS (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM c WHERE s > h
        |)
        |SELECT c.user_id, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND(MAX(s), 6) AS max_cusum,
        |  CAST(SUM(CASE WHEN s > h THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms,
        |  MAX(f.first_alarm_event) AS first_alarm_event
        |FROM c LEFT JOIN (
        |  SELECT user_id, event_id AS first_alarm_event FROM al
        |  WHERE rn = 1) f ON f.user_id = c.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q211_js_divergence" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE source IN ('src1', 'src2')
        |), c AS (
        |  SELECT token,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS oa,
        |    CAST(SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS ob
        |  FROM toks WHERE token <> '' GROUP BY 1
        |), p AS (
        |  SELECT oa / SUM(oa) OVER () AS p, ob / SUM(ob) OVER () AS q
        |  FROM c
        |)
        |SELECT ROUND(SUM(
        |    CASE WHEN p > 0 THEN p / 2 * ln(p / ((p + q) / 2))
        |      ELSE 0 END
        |    + CASE WHEN q > 0 THEN q / 2 * ln(q / ((p + q) / 2))
        |      ELSE 0 END), 6) AS jsd,
        |  CAST(COUNT(1) AS BIGINT) AS n_cats
        |FROM p""".stripMargin,

    "q212_benford" ->
      """WITH d AS (
        |  SELECT TRY_CAST(regexp_extract(CAST(abs(value) AS VARCHAR),
        |    '[1-9]') AS BIGINT) AS digit
        |  FROM events WHERE value IS NOT NULL AND value <> 0
        |), g AS (
        |  SELECT digit, CAST(COUNT(1) AS BIGINT) AS n FROM d
        |  WHERE digit IS NOT NULL GROUP BY 1
        |), t AS (
        |  SELECT digit, n, SUM(n) OVER () AS tot,
        |    log10(1 + 1.0e0 / digit) AS e
        |  FROM g
        |), x AS (
        |  SELECT digit, n, n / CAST(tot AS DOUBLE) AS obs_p, e,
        |    SUM((n - tot * e) * (n - tot * e) / (tot * e)) OVER () AS chi
        |  FROM t
        |)
        |SELECT digit, n, ROUND(obs_p, 6) AS obs_p, ROUND(e, 6) AS exp_p,
        |  ROUND(chi, 6) AS chi2, ROUND(chi, 6) > 15.507313 AS non_benford
        |FROM x ORDER BY digit""".stripMargin,

    "q213_mutual_info" ->
      """WITH j AS (
        |  SELECT event_type AS x,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS y,
        |    CAST(COUNT(1) AS BIGINT) AS nxy
        |  FROM events GROUP BY 1, 2
        |), p AS (
        |  SELECT x, y, nxy, SUM(nxy) OVER () AS N,
        |    SUM(nxy) OVER (PARTITION BY x) AS nx,
        |    SUM(nxy) OVER (PARTITION BY y) AS ny
        |  FROM j
        |)
        |SELECT ROUND(SUM((nxy / CAST(N AS DOUBLE))
        |    * ln((nxy / CAST(N AS DOUBLE))
        |      / ((nx / CAST(N AS DOUBLE)) * (ny / CAST(N AS DOUBLE))))), 6)
        |    AS mi,
        |  CAST(MAX(N) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT x) AS BIGINT) AS n_x,
        |  CAST(COUNT(DISTINCT y) AS BIGINT) AS n_y
        |FROM p""".stripMargin,

    // identical ES key: ln((k mod 1e6 + 0.5)/1e6)/weight rounded 9,
    // ranked per stratum
    "q214_weighted_stratum" ->
      """WITH k AS (
        |  SELECT doc_id, source, n_chars,
        |    ROUND(ln((CAST(('0x' || substr(md5('ws2:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 1000000 + 0.5e0) / 1000000)
        |      / n_chars, 9) AS es_key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |), r AS (
        |  SELECT doc_id, source, n_chars, es_key,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY es_key DESC, doc_id) AS BIGINT) AS rn
        |  FROM k
        |)
        |SELECT doc_id, source, n_chars, es_key, rn
        |FROM r WHERE rn <= 10 ORDER BY source, rn""".stripMargin,

    "q215_gini" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS i
        |  FROM events WHERE value IS NOT NULL AND value >= 0
        |)
        |SELECT event_type, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND((2 * SUM(i * value) - (COUNT(1) + 1) * SUM(value))
        |    / (COUNT(1) * SUM(value)), 6) AS gini
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // q206's oracle verbatim — the incremental state must equal the
    // one-shot changelog apply
    "q216_cdc_maintained" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, ts, event_id, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q217_cdc_stream" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, ts, event_id, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q218_zipf_fit" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, CAST(COUNT(1) AS DOUBLE) AS n FROM toks GROUP BY 1
        |), r AS (
        |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
        |  FROM c ORDER BY n DESC, token LIMIT 500
        |), p AS (
        |  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(n) AS y FROM r
        |), a AS (
        |  SELECT CAST(COUNT(1) AS DOUBLE) AS m, SUM(x * y) AS sxy,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx
        |  FROM p
        |)
        |SELECT CAST(m AS BIGINT) AS n_tokens,
        |  ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m,
        |    6) AS intercept
        |FROM a""".stripMargin,

    "q219_kaplan_meier" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      coalesce(MIN(CASE WHEN event_type = 'purchase'
        |          THEN CAST(ts AS DATE) END),
        |        MAX(CAST(ts AS DATE)))) AS BIGINT) AS duration,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) IS NULL AS censored
        |  FROM events GROUP BY user_id
        |), lf AS (
        |  SELECT duration, CAST(COUNT(1) AS BIGINT) AS alln,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS events
        |  FROM u GROUP BY 1
        |), k AS (
        |  SELECT duration, events,
        |    SUM(alln) OVER (ORDER BY duration
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
        |  FROM lf
        |), s AS (
        |  SELECT duration, n_risk, events,
        |    ROUND(exp(SUM(ln(greatest(
        |        1 - CAST(events AS DOUBLE) / n_risk, 1e-300)))
        |      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 6) AS s
        |  FROM k
        |)
        |SELECT duration, CAST(n_risk AS BIGINT) AS n_risk, events, s
        |FROM s WHERE events > 0 ORDER BY duration""".stripMargin,

    "q220_fuzzy_pairs" ->
      """WITH pairs AS (
        |  SELECT a.p_brand AS brand,
        |    jaro_winkler_similarity(a.p_name, b.p_name) AS jw,
        |    damerau_levenshtein(a.p_name, b.p_name) AS dl
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |)
        |SELECT brand, COUNT(1) AS pairs_scored,
        |  CAST(SUM(CASE WHEN jw >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_close,
        |  MIN(dl) AS min_dl, ROUND(AVG(jw), 6) AS avg_jw
        |FROM pairs GROUP BY brand ORDER BY brand""".stripMargin,

    "q221_roc_auc" ->
      """WITH s AS (
        |  SELECT value AS thr,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1
        |), c AS (
        |  SELECT thr, SUM(p) OVER w AS tp, SUM(n) OVER w AS fp,
        |    SUM(p) OVER () AS tot_p, SUM(n) OVER () AS tot_n
        |  FROM s WINDOW w AS (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
        |), r AS (
        |  SELECT thr, tp, fp, CAST(tp AS DOUBLE) / tot_p AS tpr,
        |    CAST(fp AS DOUBLE) / tot_n AS fpr
        |  FROM c
        |), g AS (
        |  SELECT thr, tp, fp, tpr, fpr,
        |    (fpr - coalesce(lag(fpr) OVER (ORDER BY thr DESC), 0)) *
        |      (tpr + coalesce(lag(tpr) OVER (ORDER BY thr DESC), 0)) / 2
        |      AS trap
        |  FROM r
        |), a AS (
        |  SELECT thr, tp, fp, tpr, fpr,
        |    SUM(trap) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
        |      AS auc
        |  FROM g
        |)
        |SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  ROUND(tpr, 6) AS tpr, ROUND(fpr, 6) AS fpr, ROUND(auc, 6) AS auc
        |FROM a ORDER BY thr DESC""".stripMargin,

    "q222_spearman" ->
      """WITH f AS (
        |  SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), r AS (
        |  SELECT g,
        |    (2.0 * RANK() OVER (PARTITION BY g ORDER BY x)
        |      + COUNT(1) OVER (PARTITION BY g, x) - 1) / 2 AS rx,
        |    (2.0 * RANK() OVER (PARTITION BY g ORDER BY y)
        |      + COUNT(1) OVER (PARTITION BY g, y) - 1) / 2 AS ry
        |  FROM f
        |)
        |SELECT g AS l_returnflag, COUNT(1) AS n,
        |  ROUND(corr(rx, ry), 6) AS rho
        |FROM r GROUP BY g ORDER BY 1""".stripMargin,

    "q223_logrank" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      coalesce(MIN(CASE WHEN event_type = 'purchase'
        |          THEN CAST(ts AS DATE) END),
        |        MAX(CAST(ts AS DATE)))) AS BIGINT) AS duration,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) IS NULL AS censored,
        |    user_id % 2 = 0 AS is_a
        |  FROM events GROUP BY user_id
        |), pd AS (
        |  SELECT duration, CAST(COUNT(1) AS BIGINT) AS alln,
        |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS all_a,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d,
        |    CAST(SUM(CASE WHEN NOT censored AND is_a THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_a
        |  FROM u GROUP BY 1
        |), k AS (
        |  SELECT duration, d, d_a,
        |    CAST(SUM(alln) OVER w AS DOUBLE) AS n,
        |    CAST(SUM(all_a) OVER w AS DOUBLE) AS n_a
        |  FROM pd WINDOW w AS (ORDER BY duration
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |), agg AS (
        |  SELECT ROUND(CAST(SUM(d_a) AS DOUBLE), 6) AS o_a,
        |    ROUND(SUM(d * n_a / n), 6) AS e_a,
        |    ROUND(SUM(CASE WHEN n > 1 THEN d * (n_a / n) * (1 - n_a / n)
        |      * (n - d) / (n - 1) ELSE 0 END), 6) AS v
        |  FROM k WHERE d > 0
        |)
        |SELECT o_a, e_a, v,
        |  ROUND((o_a - e_a) * (o_a - e_a) / v, 6) AS chi2,
        |  (ROUND((o_a - e_a) * (o_a - e_a) / v, 6) > 3.841459)
        |    AS significant
        |FROM agg""".stripMargin,

    "q224_chi2" ->
      """WITH joint AS (
        |  SELECT lang AS x, source AS y, CAST(COUNT(1) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2
        |), mx AS (
        |  SELECT x, CAST(SUM(o) AS BIGINT) AS nx FROM joint GROUP BY 1
        |), my AS (
        |  SELECT y, CAST(SUM(o) AS BIGINT) AS ny FROM joint GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS nn FROM joint
        |), cells AS (
        |  SELECT mx.x, my.y, tot.nn,
        |    CAST(mx.nx AS DOUBLE) * my.ny / tot.nn AS e,
        |    coalesce(joint.o, 0) - CAST(mx.nx AS DOUBLE) * my.ny / tot.nn
        |      AS dd
        |  FROM mx CROSS JOIN my CROSS JOIN tot
        |  LEFT JOIN joint ON joint.x = mx.x AND joint.y = my.y
        |)
        |SELECT MAX(nn) AS n,
        |  (COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS dof,
        |  ROUND(SUM(dd * dd / e), 6) AS chi2,
        |  ROUND(SQRT(SUM(dd * dd / e) / (MAX(nn) *
        |    LEAST(COUNT(DISTINCT x) - 1, COUNT(DISTINCT y) - 1))), 6)
        |    AS cramers_v
        |FROM cells""".stripMargin,

    "q225_zonemap_prune" ->
      """SELECT event_type, COUNT(1) AS n,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM events WHERE user_id BETWEEN 2 AND 9
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q226_mv_rewrite" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 4) AS sum_price,
        |  COUNT(1) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q227_star_join" ->
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,

    "q228_heaps_fit" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, unnest(toks) AS token,
        |    unnest(range(1, len(toks) + 1)) AS pos
        |  FROM d
        |), g AS (
        |  SELECT token, ROW_NUMBER() OVER (ORDER BY doc_id, pos) AS gpos
        |  FROM tk
        |), fp AS (
        |  SELECT token, MIN(gpos) AS first_pos FROM g GROUP BY 1
        |), nn AS (
        |  SELECT COUNT(1) AS n FROM g
        |), cps AS (
        |  SELECT CAST(pow(2, i) AS BIGINT) AS n_tok
        |  FROM generate_series(6, 40) t(i)
        |  WHERE CAST(pow(2, i) AS BIGINT) < (SELECT n FROM nn)
        |  UNION ALL SELECT n FROM nn
        |), vc AS (
        |  SELECT c.n_tok, CAST(COUNT(1) AS BIGINT) AS v
        |  FROM cps c JOIN fp ON fp.first_pos <= c.n_tok GROUP BY 1
        |), p AS (
        |  SELECT ln(CAST(n_tok AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
        |  FROM vc
        |), a AS (
        |  SELECT CAST(COUNT(1) AS DOUBLE) AS m, SUM(x * y) AS sxy,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx
        |  FROM p
        |)
        |SELECT CAST(m AS BIGINT) AS n_points,
        |  ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m,
        |    6) AS intercept
        |FROM a""".stripMargin,

    "q229_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), mu AS (
        |  SELECT g, AVG(x) AS mu FROM daily GROUP BY 1
        |), st AS (
        |  SELECT daily.g, MAX(mu) AS mu, SUM((x - mu) * (x - mu)) AS ss
        |  FROM daily JOIN mu USING (g) GROUP BY 1
        |), lags AS (
        |  SELECT unnest(range(1, 8)) AS lag
        |), pairs AS (
        |  SELECT a.g, l.lag, a.x AS xa, b.x AS xb
        |  FROM daily a CROSS JOIN lags l
        |  JOIN daily b ON b.g = a.g AND b.d = a.d + CAST(l.lag AS INTEGER)
        |)
        |SELECT p.g AS event_type, CAST(p.lag AS INTEGER) AS lag,
        |  COUNT(1) AS n_pairs,
        |  ROUND(CASE WHEN MAX(ss) > 0
        |    THEN SUM((xa - mu) * (xb - mu)) / MAX(ss) END, 6) AS acf
        |FROM pairs p JOIN st ON st.g = p.g
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q230_entropy_rate" ->
      """WITH s AS (
        |  SELECT event_type AS f,
        |    LEAD(event_type) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events
        |), c AS (
        |  SELECT f, t, CAST(COUNT(1) AS DOUBLE) AS n FROM s
        |  WHERE t IS NOT NULL GROUP BY 1, 2
        |), w AS (
        |  SELECT f, t, n, SUM(n) OVER (PARTITION BY f) AS nf,
        |    SUM(n) OVER () AS tot
        |  FROM c
        |)
        |SELECT ROUND(-SUM((nf / tot) * (n / nf) * ln(n / nf)), 6) AS h_rate,
        |  CAST(MAX(tot) AS BIGINT) AS n_transitions,
        |  CAST(COUNT(DISTINCT f) AS BIGINT) AS n_states
        |FROM w""".stripMargin,

    "q231_returned_topn" ->
      """SELECT c_custkey, c_name, n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q232_merge_upsert" ->
      """WITH t AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
        |s AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |m AS (
        |  SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
        |    CASE WHEN t.o_orderkey IS NOT NULL
        |        AND s.o_orderkey IS NOT NULL THEN 'upd'
        |      WHEN t.o_orderkey IS NOT NULL THEN 'keep'
        |      ELSE 'ins' END AS src,
        |    t.o_orderstatus AS t_st, s.o_orderstatus AS s_st,
        |    t.o_totalprice AS t_tp, s.o_totalprice AS s_tp
        |  FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        |)
        |SELECT o_orderkey,
        |  CASE WHEN src = 'ins' THEN s_st ELSE t_st END AS o_orderstatus,
        |  ROUND(CASE src WHEN 'upd' THEN ROUND(s_tp * 1.05, 4)
        |    WHEN 'keep' THEN t_tp ELSE s_tp END, 4) AS o_totalprice
        |FROM m
        |WHERE NOT (src = 'upd' AND s_st = 'F')
        |ORDER BY o_orderkey""".stripMargin,

    "q233_central_moments" ->
      """WITH mu AS (
        |  SELECT l_returnflag AS g, AVG(l_extendedprice) AS mu
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
        |), c AS (
        |  SELECT g, mu, l_extendedprice - mu AS d
        |  FROM lineitem JOIN mu ON l_returnflag = g
        |  WHERE l_extendedprice IS NOT NULL
        |), a AS (
        |  SELECT g, CAST(COUNT(1) AS BIGINT) AS n, MAX(mu) AS mean,
        |    SUM(d * d) / COUNT(1) AS m2,
        |    SUM(d * d * d) / COUNT(1) AS m3,
        |    SUM(d * d * d * d) / COUNT(1) AS m4
        |  FROM c GROUP BY 1
        |)
        |SELECT g AS l_returnflag, n, ROUND(mean, 6) AS mean,
        |  ROUND(m2, 6) AS variance,
        |  ROUND(CASE WHEN m2 > 0 THEN m3 / pow(m2, 1.5) END, 6) AS skewness,
        |  ROUND(CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 END, 6) AS kurtosis
        |FROM a ORDER BY 1""".stripMargin,

    "q234_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, ts AS s_ts, ts + INTERVAL 30 MINUTE AS e_ts
        |  FROM events
        |), x AS (
        |  SELECT user_id, s_ts, e_ts,
        |    MAX(e_ts) OVER (PARTITION BY user_id ORDER BY s_ts, e_ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |), y AS (
        |  SELECT user_id, s_ts, e_ts,
        |    CASE WHEN pmax IS NULL OR s_ts > pmax THEN 1 ELSE 0 END AS brk
        |  FROM x
        |), z AS (
        |  SELECT user_id, s_ts, e_ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY s_ts, e_ts
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM y
        |)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |  MIN(s_ts) AS start, MAX(e_ts) AS "end",
        |  COUNT(1) AS n_merged
        |FROM z GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q235_weighted_median" ->
      """WITH c AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v, l_quantity AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |), x AS (
        |  SELECT g, v,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS tot,
        |    COUNT(1) OVER (PARTITION BY g) AS nn
        |  FROM c
        |)
        |SELECT g AS l_returnflag, CAST(MAX(nn) AS BIGINT) AS n,
        |  MIN(v) AS w_median
        |FROM x WHERE cum * 2 >= tot GROUP BY 1 ORDER BY 1""".stripMargin,

    "q236_zonemap_append" ->
      """SELECT event_type, COUNT(1) AS n,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM events WHERE user_id BETWEEN 2 AND 9
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q237_seasonal_z" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), f AS (
        |  SELECT g, isodow(d) - 1 AS dow, AVG(x) AS dow_avg
        |  FROM daily GROUP BY 1, 2
        |), o AS (
        |  SELECT g, AVG(x) AS all_avg FROM daily GROUP BY 1
        |), adj AS (
        |  SELECT daily.g, d, x,
        |    CAST(ROUND(x / (dow_avg / all_avg) * 1e6, 0) AS BIGINT) AS am
        |  FROM daily JOIN f ON f.g = daily.g AND f.dow = isodow(d) - 1
        |  JOIN o ON o.g = daily.g
        |), st AS (
        |  SELECT g, SUM(am) AS s,
        |    SUM(CAST(am AS HUGEINT) * CAST(am AS HUGEINT)) AS ss,
        |    CAST(COUNT(1) AS BIGINT) AS n
        |  FROM adj GROUP BY 1
        |), ms AS (
        |  SELECT g, CAST(s AS DOUBLE) / n AS mu,
        |    SQRT(GREATEST((CAST(ss AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1),
        |      0.0)) AS sd
        |  FROM st
        |)
        |SELECT adj.g AS event_type, d, CAST(x AS BIGINT) AS n,
        |  ROUND(CASE WHEN sd > 0 THEN (am - mu) / sd END, 6) AS z,
        |  coalesce(abs((am - mu) / sd) > 2, false) AS anomaly
        |FROM adj JOIN ms ON ms.g = adj.g
        |ORDER BY 1, 2""".stripMargin,

    "q238_degree_dist" ->
      """WITH deg AS (
        |  SELECT l_suppkey,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS degree
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1
        |)
        |SELECT degree, COUNT(1) AS n_suppliers
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,

    "q239_km_greenwood" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      coalesce(MIN(CASE WHEN event_type = 'purchase'
        |          THEN CAST(ts AS DATE) END),
        |        MAX(CAST(ts AS DATE)))) AS BIGINT) AS duration,
        |    MIN(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ts AS DATE) END) IS NULL AS censored
        |  FROM events GROUP BY user_id
        |), lf AS (
        |  SELECT duration, CAST(COUNT(1) AS BIGINT) AS alln,
        |    CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT)
        |      AS events
        |  FROM u GROUP BY 1
        |), k AS (
        |  SELECT duration, events,
        |    SUM(alln) OVER (ORDER BY duration
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_risk
        |  FROM lf
        |), s AS (
        |  SELECT duration, n_risk, events,
        |    exp(SUM(ln(greatest(
        |        1 - CAST(events AS DOUBLE) / n_risk, 1e-300)))
        |      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)) AS sv,
        |    SUM(CASE WHEN events < n_risk THEN
        |        CAST(events AS DOUBLE) / (n_risk * (n_risk - events))
        |      ELSE CAST('nan' AS DOUBLE) END)
        |      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) AS gw
        |  FROM k
        |), c AS (
        |  SELECT duration, n_risk, events, sv,
        |    CASE WHEN NOT isnan(sv * sqrt(gw)) THEN sv * sqrt(gw) END AS se
        |  FROM s WHERE events > 0
        |)
        |SELECT duration, CAST(n_risk AS BIGINT) AS n_risk, events,
        |  ROUND(sv, 6) AS s, ROUND(se, 6) AS se,
        |  ROUND(CASE WHEN se IS NOT NULL
        |    THEN greatest(sv - 1.96 * se, 0) END, 6) AS lo,
        |  ROUND(CASE WHEN se IS NOT NULL
        |    THEN least(sv + 1.96 * se, 1) END, 6) AS hi
        |FROM c ORDER BY duration""".stripMargin,

    "q240_brier" ->
      """WITH f AS (
        |  SELECT least(value / 100, 1.0) AS p,
        |    CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND value >= 0
        |), b AS (
        |  SELECT least(CAST(floor(p * 10) AS BIGINT), 9) AS bin,
        |    CAST(COUNT(1) AS BIGINT) AS nk, AVG(p) AS fk, AVG(y) AS ok,
        |    SUM((p - y) * (p - y)) AS sq
        |  FROM f GROUP BY 1
        |), tot AS (
        |  SELECT SUM(nk * ok) / SUM(nk) AS obar,
        |    CAST(SUM(nk) AS DOUBLE) AS n
        |  FROM b
        |)
        |SELECT CAST(MAX(n) AS BIGINT) AS n,
        |  ROUND(SUM(sq) / MAX(n), 6) AS brier,
        |  ROUND(SUM(nk * (fk - ok) * (fk - ok)) / MAX(n), 6) AS reliability,
        |  ROUND(SUM(nk * (ok - obar) * (ok - obar)) / MAX(n), 6)
        |    AS resolution,
        |  ROUND(MAX(obar) * (1 - MAX(obar)), 6) AS uncertainty
        |FROM b CROSS JOIN tot""".stripMargin,

    // base (90%) ∪ delta (10%) == the whole table, so the maintained
    // view must answer the full-table aggregate
    "q241_mv_incremental" ->
      """SELECT event_type, COUNT(value) AS n,
        |  ROUND(SUM(value), 4) AS total, MIN(value) AS lo,
        |  MAX(value) AS hi, ROUND(AVG(value), 6) AS mean
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the ORC round-trip must preserve every value bit-for-bit, so
    // the oracle aggregates the parquet source directly
    "q242_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(1) AS n,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 4) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q243_kruskal_wallis" ->
      """WITH f AS (
        |  SELECT event_type AS g, 'v' || CAST(user_id % 3 AS VARCHAR)
        |      AS c, value AS v
        |  FROM events WHERE value IS NOT NULL
        |), ranked AS (
        |  SELECT g, c, v,
        |    CAST(COUNT(1) OVER (PARTITION BY g, v) AS DOUBLE) AS t,
        |    RANK() OVER (PARTITION BY g ORDER BY v)
        |      + (CAST(COUNT(1) OVER (PARTITION BY g, v) AS DOUBLE) - 1)
        |        / 2.0 AS ar
        |  FROM f
        |), pc AS (
        |  SELECT g, c, SUM(ar) AS rc, CAST(COUNT(1) AS BIGINT) AS nc
        |  FROM ranked GROUP BY 1, 2
        |), st AS (
        |  SELECT g, CAST(SUM(nc) AS DOUBLE) AS n,
        |    CAST(COUNT(1) AS BIGINT) AS k,
        |    SUM(rc * rc / nc) AS s
        |  FROM pc GROUP BY 1
        |), ties AS (
        |  SELECT g, SUM(t * t - 1) AS tcorr FROM ranked GROUP BY 1
        |)
        |SELECT st.g AS event_type, CAST(n AS BIGINT) AS n, k,
        |  ROUND(12.0 / (n * (n + 1)) * s - 3 * (n + 1), 6) AS h,
        |  ROUND(CASE WHEN 1.0 - tcorr / (n * n * n - n) > 0
        |    THEN (12.0 / (n * (n + 1)) * s - 3 * (n + 1))
        |      / (1.0 - tcorr / (n * n * n - n)) END, 6) AS h_adj
        |FROM st JOIN ties ON ties.g = st.g
        |ORDER BY 1""".stripMargin,

    "q244_readability" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split_regex(trim(text), '\s+'))
        |      AS DOUBLE) AS w,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS DOUBLE) AS sent,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS DOUBLE) AS syl
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(trim(text)) >= 1
        |), f AS (
        |  SELECT least(CAST(floor(w / 20) AS BIGINT), 4) AS band,
        |    CAST(ROUND((206.835 - 1.015 * (w / sent)
        |      - 84.6 * (syl / w)) * 1e6, 0) AS BIGINT) AS fm
        |  FROM d
        |)
        |SELECT band, CAST(COUNT(1) AS BIGINT) AS n_docs,
        |  ROUND(CAST(SUM(fm) AS DOUBLE) / COUNT(1) / 1e6, 6)
        |    AS mean_flesch
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // row-by-row recursive CTE, NOT list_reduce: DuckDB 1.0's
    // list_reduce evaluates struct-typed lambda fields sequentially
    // against an in-place-updated accumulator (field 'b' sees the
    // 'l' already written this step), which silently corrupts any
    // coupled two-state fold
    "q245_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS i
        |  FROM daily
        |), nmax AS (SELECT g, CAST(MAX(i) AS INT) AS t FROM idx GROUP BY 1),
        |rec AS (
        |  SELECT i1.g, 1 AS i, i1.x AS l, i2.x - i1.x AS b
        |  FROM idx i1 JOIN idx i2 ON i2.g = i1.g AND i2.i = 2
        |  WHERE i1.i = 1
        |  UNION ALL
        |  SELECT rec.g, rec.i + 1,
        |    0.5 * nx.x + 0.5 * (rec.l + rec.b),
        |    0.3 * ((0.5 * nx.x + 0.5 * (rec.l + rec.b)) - rec.l)
        |      + 0.7 * rec.b
        |  FROM rec JOIN idx nx ON nx.g = rec.g AND nx.i = rec.i + 1
        |)
        |SELECT rec.g AS event_type, t, ROUND(l, 6) AS level,
        |  ROUND(b, 6) AS trend, ROUND(l + 7 * b, 6) AS forecast
        |FROM rec JOIN nmax ON nmax.g = rec.g
        |WHERE rec.i = t ORDER BY 1""".stripMargin,

    "q246_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 200
        |)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
        |  sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q247_theil" ->
      """WITH pos AS (
        |  SELECT event_type AS g, value AS v FROM events
        |  WHERE value IS NOT NULL AND value > 0
        |), mu AS (
        |  SELECT g, AVG(v) AS m FROM pos GROUP BY 1
        |)
        |SELECT pos.g AS event_type, CAST(COUNT(1) AS BIGINT) AS n,
        |  ROUND(SUM((v / m) * ln(v / m)) / COUNT(1), 6) AS theil_t,
        |  ROUND(SUM(ln(1.0 / (v / m))) / COUNT(1), 6) AS theil_l
        |FROM pos JOIN mu ON mu.g = pos.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q248_heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT w, COUNT(1) AS n FROM w WHERE len(w) >= 1 GROUP BY 1
        |)
        |SELECT w, n,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) AS BIGINT) AS rank
        |FROM c ORDER BY n DESC, w LIMIT 20""".stripMargin,

    "q249_rfm" ->
      """WITH refd AS (
        |  SELECT MAX(CAST(ts AS DATE)) AS a FROM events
        |), u AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', MAX(CAST(ts AS DATE)),
        |      (SELECT a FROM refd)) AS BIGINT) AS recency,
        |    CAST(COUNT(1) AS BIGINT) AS frequency,
        |    ROUND(SUM(value), 4) AS monetary
        |  FROM events GROUP BY 1
        |), cr AS (
        |  SELECT list_transform(quantile_cont(recency,
        |    [0.2,0.4,0.6,0.8]), x -> ROUND(x, 6)) AS c FROM u
        |), cf AS (
        |  SELECT list_transform(quantile_cont(frequency,
        |    [0.2,0.4,0.6,0.8]), x -> ROUND(x, 6)) AS c FROM u
        |), cm AS (
        |  SELECT list_transform(quantile_cont(monetary,
        |    [0.2,0.4,0.6,0.8]), x -> ROUND(x, 6)) AS c FROM u
        |), b AS (
        |  SELECT monetary,
        |    (5 - len(list_filter((SELECT c FROM cr), x -> recency > x)))
        |      * 100
        |    + (len(list_filter((SELECT c FROM cf), x -> frequency > x))
        |      + 1) * 10
        |    + len(list_filter((SELECT c FROM cm), x -> monetary > x))
        |      + 1 AS segment
        |  FROM u
        |)
        |SELECT CAST(segment AS BIGINT) AS segment,
        |  CAST(COUNT(1) AS BIGINT) AS n_users,
        |  ROUND(CAST(SUM(CAST(ROUND(monetary * 1e4, 0) AS BIGINT))
        |    AS DOUBLE) / COUNT(1) / 1e4, 6) AS mean_monetary
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q250_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(1) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2
        |), tr AS (
        |  SELECT g, d, x,
        |    CASE WHEN COUNT(1) OVER w = 7
        |      THEN SUM(x) OVER w / 7.0 END AS trend
        |  FROM daily
        |  WINDOW w AS (PARTITION BY g ORDER BY d
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), dt AS (
        |  SELECT g, d, x, trend,
        |    CAST(ROUND((x - trend) * 1e6, 0) AS BIGINT) AS dm
        |  FROM tr WHERE trend IS NOT NULL
        |), se AS (
        |  SELECT g, isodow(d) - 1 AS dow,
        |    SIGN(SUM(dm)) * FLOOR((10 * ABS(SUM(dm)) + 5 * COUNT(1))
        |      / (10 * COUNT(1))) / 1e6 AS seasonal
        |  FROM dt GROUP BY 1, 2
        |)
        |SELECT dt.g AS event_type, d, CAST(x AS BIGINT) AS n,
        |  ROUND(trend, 6) AS trend, ROUND(seasonal, 6) AS seasonal,
        |  ROUND(x - trend - seasonal, 6) AS residual
        |FROM dt JOIN se ON se.g = dt.g AND se.dow = isodow(d) - 1
        |ORDER BY 1, 2""".stripMargin,

    // v1 committed the even-user half; v2 appended the rest, so the
    // two snapshots are the even-user subset and the whole table
    "q251_timetravel" ->
      """WITH v1 AS (
        |  SELECT CAST(1 AS BIGINT) AS version, event_type,
        |    COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |  FROM events WHERE user_id % 2 = 0 GROUP BY 2
        |), v2 AS (
        |  SELECT CAST(2 AS BIGINT) AS version, event_type,
        |    COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |  FROM events GROUP BY 2
        |)
        |SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |ORDER BY 1, 2""".stripMargin,

    "q252_membership_skip" ->
      """SELECT event_type, COUNT(1) AS n,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM events WHERE user_id = 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q23's session CTE chain, then first-3 paths per session
    "q253_event_paths" ->
      """WITH l AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events
        |), f AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM l
        |), s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM f
        |), r AS (
        |  SELECT user_id, session_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM s
        |), p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 3 GROUP BY 1, 2
        |)
        |SELECT path, COUNT(1) AS n_sessions,
        |  CAST(ROW_NUMBER() OVER (ORDER BY COUNT(1) DESC, path)
        |    AS BIGINT) AS rank
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    "q254_growth_accounting" ->
      """WITH wku AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events
        |), fw AS (
        |  SELECT u, MIN(wk) AS first_wk FROM wku GROUP BY 1
        |), st AS (
        |  SELECT w.wk,
        |    CAST(SUM(CASE WHEN w.wk = fw.first_wk THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN w.wk <> fw.first_wk
        |        AND p.u IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN w.wk <> fw.first_wk
        |        AND p.u IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM wku w JOIN fw ON fw.u = w.u
        |  LEFT JOIN wku p ON p.u = w.u AND p.wk = w.wk - 7
        |  GROUP BY 1
        |), ch AS (
        |  SELECT w.wk + 7 AS wk, COUNT(1) AS n_churned
        |  FROM wku w LEFT JOIN wku n ON n.u = w.u AND n.wk = w.wk + 7
        |  WHERE n.u IS NULL AND w.wk + 7 <= (SELECT MAX(wk) FROM wku)
        |  GROUP BY 1
        |)
        |SELECT coalesce(st.wk, ch.wk) AS wk,
        |  coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM st FULL JOIN ch ON ch.wk = st.wk
        |ORDER BY 1""".stripMargin,

    "q255_cohort_ltv" ->
      """WITH uw AS (
        |  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE)
        |      AS wk, ROUND(SUM(value), 4) AS rev
        |  FROM events GROUP BY 1, 2
        |), fw AS (
        |  SELECT u, MIN(wk) AS cohort_week FROM uw GROUP BY 1
        |), sz AS (
        |  SELECT cohort_week, CAST(COUNT(1) AS BIGINT) AS n_users
        |  FROM fw GROUP BY 1
        |), po AS (
        |  SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, wk) / 7 AS BIGINT)
        |      AS week_offset,
        |    SUM(CAST(ROUND(rev * 1e4, 0) AS BIGINT)) AS rm
        |  FROM uw JOIN fw ON fw.u = uw.u GROUP BY 1, 2
        |), cm AS (
        |  SELECT cohort_week, week_offset,
        |    SUM(rm) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM po
        |)
        |SELECT cm.cohort_week, week_offset, n_users,
        |  ROUND(CAST(cum AS DOUBLE) / n_users / 1e4, 6)
        |    AS cum_rev_per_user
        |FROM cm JOIN sz ON sz.cohort_week = cm.cohort_week
        |ORDER BY 1, 2""".stripMargin,

    "q256_daily_percentiles" ->
      """SELECT event_type, CAST(ts AS DATE) AS d, COUNT(1) AS n,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q257_top_movers" ->
      """WITH wr AS (
        |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    SUM(CAST(ROUND(value * 1e4, 0) AS BIGINT)) AS rm
        |  FROM events GROUP BY 1, 2
        |), lg AS (
        |  SELECT event_type, wk, rm,
        |    LAG(rm) OVER (PARTITION BY event_type ORDER BY wk) AS prev
        |  FROM wr
        |)
        |SELECT event_type, wk,
        |  ROUND(CAST(rm AS DOUBLE) / 1e4, 4) AS revenue,
        |  ROUND(CAST(rm - prev AS DOUBLE) / 1e4, 4) AS delta,
        |  ROUND(CAST(rm - prev AS DOUBLE) / prev, 6) AS pct_change
        |FROM lg WHERE prev IS NOT NULL AND prev > 0
        |ORDER BY abs(ROUND(CAST(rm - prev AS DOUBLE) / prev, 6)) DESC,
        |  event_type, wk
        |LIMIT 10""".stripMargin,

    // The retained (compacted) snapshot must equal the full table;
    // the marker row asserts the pre-horizon read REFUSED and files
    // were physically reclaimed (n = 1 iff both held)
    "q258_retention" ->
      """SELECT CAST(0 AS BIGINT) AS version,
        |  '__prehorizon_refused__' AS event_type,
        |  CAST(1 AS BIGINT) AS n, CAST(0.0 AS DOUBLE) AS sum_value
        |UNION ALL
        |SELECT CAST(4 AS BIGINT) AS version, event_type,
        |  COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 2
        |ORDER BY 1, 2""".stripMargin,

    // the maintained join must be indistinguishable from the
    // from-scratch join of the full tables
    "q259_maintained_join" ->
      """SELECT o_orderpriority, COUNT(1) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
        |    AS DOUBLE) / 100, 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the stream-maintained join equals the one-shot join against
    // the same derived dim (max skips NULLs in both engines)
    "q260_join_stream" ->
      """SELECT e.event_id, e.user_id, ROUND(d.u_max, 4) AS u_max
        |FROM events e
        |JOIN (SELECT user_id, MAX(value) AS u_max
        |      FROM events GROUP BY 1) d
        |  ON e.user_id = d.user_id
        |ORDER BY e.event_id""".stripMargin,

    // the CDC-composed maintained join must equal the from-scratch
    // latest-per-key (tombstones excluded) ⋈ dim over ALL events
    "q261_cdc_join" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), d AS (
        |  SELECT user_id, MAX(value) AS u_max FROM events GROUP BY 1
        |)
        |SELECT r.user_id, r.ts, r.event_id, r.value,
        |  ROUND(d.u_max, 4) AS u_max
        |FROM r JOIN d ON r.user_id = d.user_id
        |WHERE r.rn = 1 AND r.event_type <> 'error'
        |ORDER BY r.user_id""".stripMargin,

    "q262_cdc_join_stream" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), d AS (
        |  SELECT user_id, MAX(value) AS u_max FROM events GROUP BY 1
        |)
        |SELECT r.user_id, r.ts, r.event_id, r.value,
        |  ROUND(d.u_max, 4) AS u_max
        |FROM r JOIN d ON r.user_id = d.user_id
        |WHERE r.rn = 1 AND r.event_type <> 'error'
        |ORDER BY r.user_id""".stripMargin,

    // steady-state reads: the twins' oracles verbatim — standing
    // state must serve exactly the from-scratch result
    "q263_magg_read" ->
      """SELECT o_custkey, COUNT(o_totalprice) AS n,
        |  ROUND(SUM(o_totalprice), 4) AS total,
        |  ROUND(MIN(o_totalprice), 4) AS lo,
        |  ROUND(MAX(o_totalprice), 4) AS hi,
        |  ROUND(SUM(o_totalprice), 4) / COUNT(o_totalprice) AS mean
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q264_mquant_read" ->
      """WITH h AS (
        |  SELECT o_orderpriority AS key, o_orderkey AS rid,
        |    o_totalprice AS v,
        |    CAST(('0x'||substr(md5('mq:'||CAST(o_orderkey AS VARCHAR)),1,12))
        |      AS BIGINT) AS h
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |), rk AS (
        |  SELECT key, v,
        |    row_number() OVER (PARTITION BY key ORDER BY h, rid) AS r
        |  FROM h
        |), samp AS (
        |  SELECT key, list(v ORDER BY v) AS vs, COUNT(1) AS n
        |  FROM rk WHERE r <= 256 GROUP BY key
        |)
        |SELECT key AS o_orderpriority, n AS n_sample,
        |  vs[CAST(floor((n-1)*0.5) AS BIGINT)+1] AS p50,
        |  vs[CAST(floor((n-1)*0.9) AS BIGINT)+1] AS p90,
        |  vs[CAST(floor((n-1)*0.99) AS BIGINT)+1] AS p99
        |FROM samp ORDER BY o_orderpriority""".stripMargin,

    "q265_cdc_read" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, ts, event_id, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q266_mjoin_read" ->
      """SELECT o_orderpriority, COUNT(1) AS n,
        |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
        |    AS DOUBLE) / 100, 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q267_cdc_refresh" ->
      """WITH r AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, ts, event_id, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q268_mdist_read" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_exact,
        |  TRUE AS est_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q269_layout_read" ->
      """SELECT event_type, COUNT(1) AS n,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q270_mv_read" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 4) AS sum_price,
        |  COUNT(1) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q80's oracle verbatim: the persisted edge list must serve
    // exactly the from-scratch PageRank
    "q271_pagerank_read" ->
      s"""WITH e AS (
         |  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         |         CAST(COUNT(1) AS DOUBLE) AS w
         |  FROM lineitem l
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |  GROUP BY 1, 2
         |), ow AS (
         |  SELECT src, SUM(w) AS ow FROM e GROUP BY 1
         |), ew AS (
         |  SELECT e.src, e.dst, e.w, ow.ow FROM e JOIN ow ON ow.src = e.src
         |), nodes AS (
         |  SELECT n_nationkey AS node FROM nation
         |), nn AS (
         |  SELECT CAST(COUNT(1) AS DOUBLE) AS n FROM nodes
         |), r0 AS (
         |  SELECT node, 1.0/nn.n AS pr FROM nodes CROSS JOIN nn
         |), ${pageRankIterCtes(5, 0.85)}
         |SELECT n.n_name, r5.pr
         |FROM r5 JOIN nation n ON n.n_nationkey = r5.node
         |ORDER BY n.n_name""".stripMargin,

    // the same union + per-row formulas in SQL; `+ 0.0` normalizes
    // the IEEE -0.0 a single-distinct-char doc's -SUM(...) produces
    "q272_degenerate_docs" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(90000001 AS BIGINT), ''),
        |    (CAST(90000002 AS BIGINT), '   ' || chr(9) || ' '),
        |    (CAST(90000003 AS BIGINT), NULL),
        |    (CAST(90000004 AS BIGINT), 'x')) AS v(doc_id, text)
        |), ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM aug
        |), hist AS (
        |  SELECT doc_id, c, COUNT(1) AS k FROM ch GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(k) AS DOUBLE) AS n FROM hist GROUP BY 1
        |), ent AS (
        |  SELECT h.doc_id,
        |    ROUND(-SUM((h.k/t.n) * ln(h.k/t.n)) + 0.0, 6) AS entropy
        |  FROM hist h JOIN tot t USING (doc_id) GROUP BY 1
        |)
        |SELECT a.doc_id,
        |  CAST(length(a.text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(regexp_split_to_array(trim(a.text), '\s+'),
        |    w -> len(w) >= 1)) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(regexp_split_to_array(trim(a.text), '\s+')))
        |    AS BIGINT) AS n_entries,
        |  CAST(len(regexp_split_to_array(trim(a.text), '\s+')) AS BIGINT)
        |    AS dl,
        |  CASE WHEN a.text IS NULL THEN NULL
        |       WHEN length(a.text) = 0 THEN 0.0
        |       ELSE e.entropy END AS entropy
        |FROM aug a LEFT JOIN ent e USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,

    // q98's oracle verbatim: the persisted edge list must serve
    // exactly the from-scratch BFS levels
    "q273_bfs_read" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), r AS (
        |  SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS lvl
        |  UNION ALL
        |  SELECT CAST(e.dst AS BIGINT), r.lvl + 1
        |  FROM r JOIN e ON e.src = r.node WHERE r.lvl < 3
        |)
        |SELECT node, MIN(lvl) AS lvl FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // q91's oracle verbatim: the persisted edge list must serve
    // exactly the from-scratch triangle counts
    "q274_triangles_read" ->
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT s_nationkey AS src, c_nationkey AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |), und AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM e0 WHERE src <> dst
        |), tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node, COUNT(1) AS n_triangles FROM (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri
        |) GROUP BY 1 ORDER BY 1""".stripMargin,

    // q238's oracle verbatim: the persisted distinct pair list must
    // serve exactly the from-scratch degree histogram
    "q275_degree_read" ->
      """WITH deg AS (
        |  SELECT l_suppkey,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS degree
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1
        |)
        |SELECT degree, COUNT(1) AS n_suppliers
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** λ for the q139 MMR oracle — binary-exact 0.75 (see
    * [[graft.ops.Similarity.mmrRerank]]'s rounding note), CAST so
    * DuckDB computes `1 - λ` in DOUBLE like the Spark side. */
  private val MmrLam: String = "CAST(0.75 AS DOUBLE)"

  /** One greedy MMR step (score-candidates + accumulate-selection CTE
    * pair) per rank — the oracle mirror of
    * [[graft.ops.Similarity.mmrRerank]]'s loop. */
  private def mmrStepCtes(k: Int, lam: String): String =
    (2 to k).map { i =>
      s"""s$i AS (
         |  SELECT query_id, target_id, mmr FROM (
         |    SELECT query_id, target_id, mmr, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY mmr DESC, target_id) AS rn
         |    FROM (
         |      SELECT c.query_id, c.target_id,
         |        ROUND($lam*c.rel
         |          - (CAST(1 AS DOUBLE) - $lam)*m.msim, 8) AS mmr
         |      FROM pool c
         |      LEFT JOIN acc${i - 1} d ON d.query_id = c.query_id
         |        AND d.target_id = c.target_id
         |      JOIN (SELECT s.query_id, s.a AS target_id,
         |              MAX(s.sim) AS msim
         |            FROM sims s JOIN acc${i - 1} x
         |              ON x.query_id = s.query_id AND x.target_id = s.b
         |            GROUP BY 1, 2) m ON m.query_id = c.query_id
         |        AND m.target_id = c.target_id
         |      WHERE d.target_id IS NULL)) WHERE rn = 1
         |), acc$i AS MATERIALIZED (
         |  SELECT * FROM acc${i - 1} UNION ALL
         |  SELECT query_id, target_id, $i AS sel_rank, mmr FROM s$i
         |)""".stripMargin
    }.mkString(", ")

  /** One PageRank iteration pair (contribution + rank CTE) per step —
    * the oracle mirror of [[graft.ops.Graph.pageRank]]'s loop. */
  private def pageRankIterCtes(iters: Int, damping: Double): String =
    (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node, SUM(r${i - 1}.pr * e.w / e.ow) AS c
         |  FROM ew e JOIN r${i - 1} ON r${i - 1}.node = e.src GROUP BY 1
         |), r$i AS (
         |  SELECT nodes.node,
         |    ROUND((1-$damping)/nn.n + $damping*COALESCE(c$i.c, 0), 9) AS pr
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON c$i.node = nodes.node
         |)""".stripMargin
    }.mkString(", ")
}
