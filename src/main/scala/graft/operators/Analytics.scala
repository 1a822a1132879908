package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NumericFunctions.duckRound
import graft.operators.Lineage._
import graft.sources.Tables

/** Behavioral / sequence analytics over the event stream and order book:
  * range joins, funnel analysis, distribution tiles, ordered path
  * extraction, argmax aggregates. These extend the reference's query
  * surface (reference has only word-count-shaped queries —
  * /root/reference/plugins/wc/wc.go:12-24, plugins/ii/ii.go:12-30) with the
  * operators a production analytics engine layers on the same shuffle
  * substrate.
  *
  * Scale notes per operator are inline; the shared principles:
  *  - windows partition on high-cardinality keys (user_id, customer) so no
  *    single sort dominates;
  *  - chained windows over the SAME partitioning reuse one exchange+sort;
  *  - interval/range joins keep the tiny side broadcast, never the pair
  *    space materialized.
  */
object Analytics {

  /** Interval (range) join: orders priced into irregular, non-computable
    * price tiers via `lo <= p < hi`. The tier table is a handful of rows →
    * `broadcast` makes this a BroadcastNestedLoopJoin, which is THE right
    * plan when one side is tiny: the fact scan streams through codegen'd
    * predicates, no shuffle at all. (For big-big range joins the play is
    * binning both sides to convert to equi-join — see the bin variant in
    * [[Relational.valueHistogram]].) */
  def rangeJoinTiers(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tiers = Seq(
      ("T1_budget", 0.0, 50000.0),
      ("T2_mid", 50000.0, 150000.0),
      ("T3_high", 150000.0, 300000.0),
      ("T4_premium", 300000.0, 450000.0),
      ("T5_whale", 450000.0, 1e9)
    ).toDF("tier", "lo", "hi")
    Tables.orders(spark, sfDir)
      .join(broadcast(tiers),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_orders"),
           duckRound(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("tier")
  }

  /** Funnel analysis: how many users progress view → click (after the first
    * view) → purchase (after that click). Stage timestamps are chained
    * conditional-min WINDOW aggregates over the same user partitioning —
    * Catalyst plans ONE exchange+sort and evaluates the three window frames
    * in sequence on it, so the events table shuffles exactly once however
    * many stages the funnel has (vs the naive per-stage self-join, which
    * shuffles per stage). Microsecond integer timestamps end-to-end — no
    * float drift in the differential check. */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val staged = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1", min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" && col("us") > col("t1"), col("us"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" && col("us") > col("t2"), col("us"))).over(w))
    staged.groupBy("user_id")
      .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
      .agg(count(col("t1")).as("n_view"),
           count(col("t2")).as("n_view_click"),
           count(col("t3")).as("n_view_click_purchase"))
  }

  /** Distribution tiles: quartile buckets of order value WITHIN each order
    * priority class (`ntile` over a partitioned window). Partitioning by
    * priority keeps the sort distributed; a GLOBAL ntile would be a total
    * order — at 100 TB that becomes approx_percentile cut points (mergeable
    * sketch) applied as filters, not a single-partition sort. */
  def ntileSpend(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .withColumn("quartile", ntile(4).over(w).cast("bigint"))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n_orders"),
           duckRound(min("o_totalprice"), 2).as("min_price"),
           duckRound(max("o_totalprice"), 2).as("max_price"),
           duckRound(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("o_orderpriority", "quartile")
  }

  /** Ordered event-type path per user (first 10 events by time): the
    * sequence feature a behavioral model trains on. collect_list gives NO
    * ordering guarantee after a shuffle, so the sort is done INSIDE the
    * group: collect structs keyed by (ts, event_id), `array_sort`, then
    * project the types — deterministic on any partitioning. The row_number
    * prefilter caps the per-user state the aggregate carries. */
  def userPaths(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(byUser))
      .filter(col("rn") <= k)
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type")))).as("evs"))
      .select(col("user_id"),
              concat_ws(",", transform(col("evs"), e => e("event_type"))).as("path"),
              size(col("evs")).cast("bigint").as("n_path_events"))
      .orderBy("user_id")
  }

  /** Argmax aggregate: the top-balance supplier per nation via `max_by`
    * with a composite (balance, key) ordering struct — ties broken by
    * supplier key, so the answer is deterministic. max_by is a regular
    * mergeable aggregate (partial argmax per partition, merge keeps the
    * larger) — one combiner-friendly shuffle, no window sort at all. */
  def topSupplierPerNation(spark: SparkSession, sfDir: String): DataFrame =
    Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(expr("max_by(s_name, struct(s_acctbal, s_suppkey))").as("top_supplier"),
           duckRound(max("s_acctbal"), 2).as("top_acctbal"),
           count(lit(1)).as("n_suppliers"))
      .orderBy("n_name")

  /** Inter-order gap statistics per customer: `lag` over the per-customer
    * order timeline → mean/max gap in hours. The window and the subsequent
    * aggregate share the customer partitioning (one exchange). Gaps are
    * integer microsecond diffs; only the final mean divides, rounded at the
    * output edge. */
  def orderGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      // o_orderdate is TIMESTAMP_NTZ on disk (no UTC adjustment flag);
      // cast under the session's UTC zone before epoch arithmetic
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_orderdate"),
              col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("o_orderdate")) - unix_micros(col("prev")))
      .groupBy("o_custkey")
      .agg(count(col("gap_us")).as("n_gaps"),
           // average the INTEGER micros (order-independent below 2^53),
           // divide once at the edge — bit-identical on any partitioning
           duckRound(avg(col("gap_us")) / lit(3600000000.0), 4).as("avg_gap_hours"),
           duckRound(max(col("gap_us")).cast("double") / lit(3600000000.0), 4).as("max_gap_hours"))
      .filter(col("n_gaps") > 0)
      .orderBy("o_custkey")
  }

  /** Fixed-bin HISTOGRAM quantiles over `l_extendedprice` — the sketch
    * that replaces `percentile` at scale: exact percentiles need the
    * column sorted (a global shuffle of every row), while this is two
    * map-side-combined aggregates whose shuffled state is ≤ `bins` rows
    * regardless of corpus size. Error is bounded by the bin width
    * ((max−min)/bins — ~0.1% of the range at 1024 bins), which is the
    * standard monitoring/tuning trade.
    *
    * Every step is INTEGER-exact so the sketch differentially checks
    * against DuckDB: prices quantized to cents (2-decimal data, so the
    * float round is unambiguous), bin ids and quantile targets computed in
    * integer division, the estimate emitted as the bin's midpoint cents.
    * The 1-row bounds frame joins in via broadcast — no driver collect.
    * Output: `(q, est_price)` for q ∈ {50, 90, 95, 99}. */
  def quantileSketch(spark: SparkSession, sfDir: String,
                     bins: Int = 1024, qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    import spark.implicits._
    val cents = Tables.lineitem(spark, sfDir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val bounds = cents.agg(min("cents").as("mn"), max("cents").as("mx"),
                           count(lit(1)).as("n"))
    val binned = cents.crossJoin(broadcast(bounds))
      .select(expr(s"(cents - mn) * $bins div (mx - mn + 1)").as("bin"),
              col("mn"), col("mx"), col("n"))
      .groupBy("bin", "mn", "mx", "n").agg(count(lit(1)).as("cnt"))
    // ≤ bins rows from here on: the global-order window is over the sketch,
    // not the data
    val withCum = binned.withColumn("cum",
      sum("cnt").over(Window.orderBy("bin")))
    withCum.join(broadcast(qs.toDF("q")),
        col("cum") >= expr("(q * n + 99) div 100"))
      .groupBy("q").agg(min("bin").as("bin"),
                        first("mn").as("mn"), first("mx").as("mx"))
      .select(col("q"),
        (expr(s"mn + (2 * bin + 1) * (mx - mn + 1) div ${2L * bins}")
          .cast("double") / 100.0).as("est_price"))
      .orderBy("q")
  }

  /** QUANTILE-SKETCH ACCURACY instrument — the recall-style gauge the
    * sketch cube lacked (ann/ivf/pq/text_recall measure the similarity
    * family's approximations; nothing measured the histogram sketch's):
    * per quantile, the sketch's bin-midpoint estimate next to the EXACT
    * order statistic, the signed error, and the THEOREM bound — the
    * rank-r element provably lies in the first bin whose cumulative count
    * reaches r, and the midpoint of a bin is within one bin's value span
    * of anything in it, so `|est − exact| ≤ (range div bins) + 1` is a
    * guarantee, not an observation; `within_bound` gates it row by row.
    *
    * The exact side is NOT a global sort: the sketch's own cumulative
    * table names the one bin holding rank r, the data joins against that
    * ~|qs|-row broadcast target set (everything outside the target bins
    * dies at the join), and the order statistic is selected within
    * ~n/bins surviving rows per quantile — the sketch pays for its own
    * verification (two scans + a bin-local sort, never an n·log n global
    * order). The DuckDB oracle deliberately RUNS the textbook full-sort
    * order statistic, differentially proving the bin-pruned selection
    * (the waiting_suppliers discipline). Integer cents end to end. */
  def quantileRecall(spark: SparkSession, sfDir: String,
                     bins: Int = 1024, qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    import spark.implicits._
    val cents = Tables.lineitem(spark, sfDir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val bounds = cents.agg(min("cents").as("mn"), max("cents").as("mx"),
                           count(lit(1)).as("n"))
    val binned = cents.crossJoin(broadcast(bounds))
      .select(col("cents"), expr(s"(cents - mn) * $bins div (mx - mn + 1)").as("bin"))
    val withCum = binned.groupBy("bin").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(Window.orderBy("bin")))
    // target bin + in-bin offset per quantile: ≤ bins sketch rows ever
    // touch this arithmetic
    val targets = withCum.crossJoin(broadcast(bounds))
      .crossJoin(broadcast(qs.map(_.toLong).toDF("q")))
      .withColumn("r", expr("(q * n + 99) div 100"))
      .filter(col("cum") >= col("r"))
      .groupBy("q", "r").agg(min_by(struct(col("bin"), col("cum"), col("cnt")),
                                    col("bin")).as("t"))
      .select(col("q"), col("r"), col("t.bin").as("bin"),
              (col("t.cum") - col("t.cnt")).as("cum_before"))
    // exact order statistic, bin-locally: rows outside target bins never
    // pass the broadcast join
    val exact = binned.join(broadcast(targets), Seq("bin"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q").orderBy(col("cents").asc)))
      .filter(col("rk") === col("r") - col("cum_before"))
      .select(col("q"), col("bin"), col("cents").as("exact_cents"))
    exact.crossJoin(broadcast(bounds))
      .select(col("q"), col("exact_cents"),
        expr(s"mn + (2 * bin + 1) * (mx - mn + 1) div ${2L * bins}").as("est_cents"),
        expr(s"(mx - mn + 1) div $bins + 1").as("bound_cents"))
      .select(col("q"), col("exact_cents"), col("est_cents"),
        (col("est_cents") - col("exact_cents")).as("err_cents"),
        col("bound_cents"),
        (abs(col("est_cents") - col("exact_cents")) <= col("bound_cents"))
          .cast("bigint").as("within_bound"))
      .orderBy("q")
  }

  /** MERGEABLE-QUANTILE ROLLUP — completes the sketch cube next to
    * [[graft.operators.Relational.sketchRollup]] (that one merges KMV
    * distinct states; this one merges equi-width HISTOGRAM states, the
    * [[quantileSketch]] state): per-(event_type) cell, one dense
    * `bins`-long count array is built via `graft_hist_state`, and the
    * `__all__` rollup is merged FROM THE PERSISTED STATE ROWS ALONE via
    * `graft_hist_merge` — the merged state never sees a raw event, yet
    * (provably, and spec-gated bit-for-bit — integer bins make the
    * merged ≡ direct-over-union claim exact, not approximate) equals the
    * state a direct pass over everything would build. Quantiles then read
    * off each state with the [[quantileSketch]] arithmetic: integer
    * cents, integer bin ids on a GLOBAL grid (states merge only if every
    * cell bins on the same bounds), integer quantile targets, bin-midpoint
    * estimates.
    *
    * 100 TB: level 1 is [[quantileSketch]]'s contract (fixed `bins`-long
    * partial buffers in the one shuffle — map-side combined); level 2's
    * input is |cells| state rows — metadata-sized regardless of corpus,
    * which is the point: persist the cells once, answer any coarser
    * quantile rollup without rescanning. The read-out windows partition
    * over ≤|cells|·bins sketch rows, never data mass. */
  def quantileRollup(spark: SparkSession, sfDir: String,
                     bins: Int = 1024, qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    import spark.implicits._
    val cents = Tables.events(spark, sfDir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val bounds = cents.agg(min("cents").as("mn"), max("cents").as("mx"))
    val binned = cents.crossJoin(broadcast(bounds))
      .select(col("event_type"), expr(s"(cents - mn) * $bins div (mx - mn + 1)").as("bin"))
    // level 1: one persisted-shape histogram state per cell
    val perType = binned.groupBy("event_type")
      .agg(call_function("graft_hist_state", col("bin"), lit(bins)).as("hist"))
    // level 2: the rollup merges the stored states, never the raw rows
    val merged = perType
      .agg(call_function("graft_hist_merge", col("hist"), lit(bins)).as("hist"))
      .select(lit("__all__").as("scope"), col("hist"))
    val states = perType.select(col("event_type").as("scope"), col("hist"))
      .union(merged)
    // quantile read-out over sketch rows (≤ |scopes|·bins — metadata-sized)
    val sparse = states
      .select(col("scope"), posexplode(col("hist")).as(Seq("bin", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("n", sum("cnt").over(Window.partitionBy("scope")))
      .withColumn("cum", sum("cnt").over(Window.partitionBy("scope").orderBy("bin")))
    sparse.join(broadcast(qs.toDF("q")), col("cum") >= expr("(q * n + 99) div 100"))
      .groupBy("scope", "q").agg(min("bin").as("bin"))
      .crossJoin(broadcast(bounds))
      .select(col("scope"), col("q"),
        (expr(s"mn + (2 * bin + 1) * (mx - mn + 1) div ${2L * bins}")
          .cast("double") / 100.0).as("est_value"))
      .orderBy("scope", "q")
  }

  // ------------------------------------------------------------------
  // KLL-style rank-error-bounded mergeable quantiles (round 12)
  // ------------------------------------------------------------------

  /** Max stratification level — survivors at level 48 are a 2⁻⁴⁸ sample;
    * no driver-scale corpus reaches it. */
  private val KllMaxLevel = 48

  /** Per-row stratum: the TRAILING-ZERO count of the row's shared 64-bit
    * digest, computed as Σⱼ [h mod 2ʲ = 0] — 48 codegen'd integer
    * compares, no float log, identical arithmetic in DuckDB. A row sits
    * in stratum j with probability 2⁻ʲ, and the strata are NESTED
    * (tz ≥ j+1 ⇒ tz ≥ j) — which is the whole design: "compaction" from
    * level j to j+1 keeps exactly the rows whose digest carries one more
    * zero bit, a decision precomputed per row by content, never by
    * arrival order. */
  private def kllStratum(h: Column): Column =
    (1 to KllMaxLevel)
      .map(j => when(h % lit(1L << j) === 0L, 1L).otherwise(0L))
      .reduce(_ + _)

  /** `(scope, cents, tz)` stratified rows from `(scope, rkey, cents)` —
    * the scan-side pass every KLL query starts with (one digest + 48
    * compares per row, zero shuffle). */
  private[graft] def kllRows(rows: DataFrame): DataFrame =
    rows.select(col("scope"), col("cents"),
      kllStratum(call_function("graft_hash64", col("rkey"))).as("tz"))

  /** Per-scope stratum histogram `(scope, tz, c)` — the ≤49-row-per-scope
    * MERGEABLE STATE (histograms of disjoint shards add elementwise, like
    * every cube member's state). */
  private[graft] def kllHist(stratified: DataFrame): DataFrame =
    stratified.groupBy("scope", "tz").agg(count(lit(1)).as("c"))

  /** Per-scope sketch level from a stratum histogram: the smallest j with
    * `|{rows : tz ≥ j}| ≤ k`. Also carries the scope's total row count
    * `n` (= survivors at j = 0). Missing (scope, j) combinations densify
    * to 0 via the range left-join (the [[graft.operators.Relational
    * .medianRowEstimate]] discipline), so an empty scope reads level 0,
    * not NULL. Everything here is over ≤49·|scopes| metadata rows. */
  private[graft] def kllLevel(spark: SparkSession, hist0: DataFrame,
                              k: Int): DataFrame = {
    val js = spark.range(KllMaxLevel + 1).select(col("id").as("j"))
    // Lazy cut of the ≤49·|scopes|-row state (r16, guide §1.2): the plan
    // references it four times (scope list + range join, each under both
    // cnts consumers), and when hist0 is the
    // batch-side aggregate each reference re-ran the FULL stratification
    // scan it summarizes — the sketch state is metadata-sized by
    // contract, so materializing it once is exactly what "persist the
    // cells, answer rollups without rescanning" promises.
    val histM = hist0.cutLineageLazily()
    // aliased column names, not plan aliases: the histogram may be a
    // materialized sink TABLE (the streaming twin), where a same-name
    // self-join trips attribute resolution
    val hist = histM.select(col("scope").as("hscope"), col("tz"), col("c"))
    val scopes = histM.select(col("scope")).distinct()
    // broadcast EXPLICITLY (r16, guide §3.1): the state is ≤49·|scopes|
    // rows BY CONTRACT, but the checkpoint above hides that from the
    // planner's estimates (a LogicalRDD blocks column-pruned size
    // estimation) and the range join would demote to sort-merge
    val cnts = scopes.crossJoin(js)
      .join(broadcast(hist), col("hscope") === col("scope") && col("tz") >= col("j"), "left")
      .groupBy("scope", "j")
      .agg(coalesce(sum("c"), lit(0L)).as("cnt"))
    val ns = cnts.filter(col("j") === 0L)
      .select(col("scope").as("nscope"), col("cnt").as("n"))
    cnts.filter(col("cnt") <= k)
      .groupBy("scope")
      .agg(min("j").as("lvl"))
      .join(ns, col("scope") === col("nscope"))
      .select(col("scope"), col("lvl"), col("n"))
  }

  /** Survivors of each scope at its level: `tz ≥ lvl`, each representing
    * `2^lvl` original rows. NESTING makes this the merge rule too — a
    * shard's survivors at a lower level re-filter to the merged level
    * with no information loss, so merged-from-state ≡ direct bit for bit
    * (spec-gated). */
  private[graft] def kllSurvivors(stratified: DataFrame,
                                  levels: DataFrame): DataFrame =
    // broadcast EXPLICITLY (r16, guide §3.1): levels is |scopes| rows by
    // construction at ANY corpus size — shuffling the full stratified
    // stream by scope (hot scopes included) to meet it would be the wrong
    // plan at every scale, and kllLevel's checkpoint hides the size
    // estimate that used to make the planner broadcast it on its own
    stratified.join(broadcast(levels), Seq("scope"))
      .filter(col("tz") >= col("lvl"))
      .select(col("scope"), col("cents"), col("tz"), col("lvl"), col("n"))

  /** Quantile read-out over survivor rows: per scope, survivors sort by
    * value (a window over ≤k·|scopes| SKETCH rows — metadata, never data
    * mass); target rank r = ⌈q·n/100⌉ maps to survivor index
    * ⌈r / 2^lvl⌉ clamped to [1, m]. Integer end to end. */
  private[graft] def kllReadout(spark: SparkSession, survivors: DataFrame,
                                qs: Seq[Int]): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy("scope").orderBy(col("cents").asc)
    val indexed = survivors.withColumn("i", row_number().over(w).cast("bigint"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy("scope")))
    indexed.join(broadcast(qs.map(_.toLong).toDF("q")),
        // i == clamp(ceil(r / w), 1, m) with r = (q·n+99) div 100,
        // w = 2^lvl — evaluated as a join predicate over sketch rows
        col("i") === least(col("m"), greatest(lit(1L),
          expr("((q * n + 99) div 100 + shiftleft(cast(1 as bigint), cast(lvl as int)) - 1) " +
               "div shiftleft(cast(1 as bigint), cast(lvl as int))"))))
      .select(col("scope"), col("q"), col("cents").as("est_cents"),
              col("lvl"), col("m").as("n_kept"))
  }

  /** KLL-STYLE QUANTILE SKETCH over `l_extendedprice` — the RANK-error
    * companion to [[quantileSketch]]'s VALUE-error histogram: the
    * histogram's `(max−min) div bins` bound degrades without limit on a
    * heavy tail (one fat-finger price widens every bin), while this
    * sketch's error is a pure function of n and the kept-row budget k —
    * the range never appears.
    *
    * Mechanism (the deterministic derandomization of KLL's coin-flip
    * compactor): every row draws a 64-bit digest from the SHARED
    * engine/oracle hash; its trailing-zero count is its stratum; the
    * sketch keeps the rows of the shallowest stratum j whose population
    * fits the budget (`≤ k`), each standing for 2ʲ rows. Survivor
    * selection is digest-ordered and per-row — no RNG, no arrival-order
    * state, so the identical sketch falls out on any partitioning, any
    * shard split, and in DuckDB (hash-gated). Rank read-out: the i-th
    * smallest survivor estimates rank i·2ʲ; the q-quantile is the
    * survivor nearest ⌈r/2ʲ⌉. Whp rank error is O(√(n·2ʲ)) ≈ n/√k —
    * measured and 8σ-gated by [[kllRecall]]; n ≤ k degenerates to the
    * EXACT order statistic (level 0 keeps everything).
    *
    * 100 TB: one scan-side stratification (digest + 48 compares,
    * codegen), one ≤49-row-per-scope histogram aggregate (map-side
    * combined), survivors filter scan-side against a broadcast level —
    * the only full-width shuffle is the ≤k-row survivor sort, which is
    * metadata. State (histogram + survivors) is mergeable by
    * construction: histograms add; survivors re-filter to the merged
    * level (nesting) — [[AnalyticsSpec]] gates merged ≡ direct
    * bit-for-bit, the cube-member contract. */
  /** The lineitem price rows in KLL shape — row key = (orderkey,
    * linenumber, cents): the synthetic data duplicates some
    * (orderkey, linenumber) pairs, and truly identical rows sharing a
    * digest merely survive together (one item at doubled weight — a
    * variance nudge, never a correctness issue: both engines hash the
    * same key). */
  private def kllLineitemRows(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(lit("all").as("scope"),
        concat_ws(":", col("l_orderkey"), col("l_linenumber"),
                  round(col("l_extendedprice") * 100).cast("long")).as("rkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))

  /** The sketch estimates in integer cents — shared by the public query
    * (which renders dollars) and [[kllRecall]] (which must not round-trip
    * cents through a double). */
  private def kllLineitemEstimates(spark: SparkSession, sfDir: String,
                                   k: Int, qs: Seq[Int]): DataFrame = {
    val strat = kllRows(kllLineitemRows(spark, sfDir))
    val lvl = kllLevel(spark, kllHist(strat), k)
    kllReadout(spark, kllSurvivors(strat, lvl), qs)
  }

  def quantileSketchKll(spark: SparkSession, sfDir: String,
                        k: Int = 1024,
                        qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame =
    kllLineitemEstimates(spark, sfDir, k, qs)
      .select(col("q"),
              (col("est_cents").cast("double") / 100.0).as("est_price"),
              col("lvl"), col("n_kept"))
      .orderBy("q")

  /** KLL ROLLUP — the fifth member of the mergeable sketch cube (KMV
    * distinct, histogram quantiles, CMS heavy hitters, HLL, now
    * rank-bounded quantiles): per-event-type KLL states over
    * `events.value`, plus an `__all__` cell built FROM THE PER-CELL STATE
    * ALONE — the summed stratum histograms pick the merged level, and the
    * per-cell survivors re-filter to it (nesting: a row surviving at a
    * cell's level and lying in a deep-enough stratum survives at any
    * higher merged level — no raw row is ever re-read). Unlike the
    * histogram member, cells need NO shared global grid: each cell picks
    * its own level and merge still reconstructs exactly — the property
    * that makes this the sketch to ship when shards can't coordinate
    * bounds up front. */
  def kllRollup(spark: SparkSession, sfDir: String,
                k: Int = 1024, qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type").as("scope"),
        col("event_id").cast("string").as("rkey"),
        round(col("value") * 100).cast("long").as("cents"))
    val strat = kllRows(rows)
    // Both state frames are referenced twice (cells + __all__ merge), and
    // each un-truncated reference re-ran the stratification scan — the
    // sketch state is metadata-sized, so one materialization each is the
    // contract's own "persist the cells once" (r16, guide §1.2/§5).
    val hist = kllHist(strat).cutLineageLazily()
    val lvlCells = kllLevel(spark, hist, k)
    val survCells = kllSurvivors(strat, lvlCells).cutLineageLazily()
    // ---- the __all__ cell: STATE-ONLY merge ----
    val histAll = hist.groupBy("tz").agg(sum("c").as("c"))
      .select(lit("__all__").as("scope"), col("tz"), col("c"))
    val lvlAll = kllLevel(spark, histAll, k)
    // survivors re-filtered from the per-cell SURVIVOR state (never the
    // raw stratified rows): lvl_all ≥ every cell level, so nesting
    // guarantees nothing is missing
    val survAll = survCells
      .select(lit("__all__").as("scope"), col("cents"), col("tz"))
      .join(broadcast(lvlAll), Seq("scope"))
      .filter(col("tz") >= col("lvl"))
      .select(col("scope"), col("cents"), col("tz"), col("lvl"), col("n"))
    kllReadout(spark, survCells.unionByName(survAll), qs)
      .select(col("scope"), col("q"),
              (col("est_cents").cast("double") / 100.0).as("est_value"),
              col("lvl"), col("n_kept"))
      .orderBy("scope", "q")
  }

  /** KLL RECALL — the instrument row promised next to [[quantileRecall]]
    * (which gates the histogram member's VALUE bound): per quantile, the
    * sketch's estimate, the exact RANK INTERVAL that value occupies
    * (`[lo, hi]` = [count(< est)+1, count(≤ est)] — duplicates make rank
    * an interval, not a point), the rank error as distance from target r
    * to that interval, and the declared 8σ sampling bound
    * `8·⌊√(n·2^lvl)⌋ + 2^lvl` — range-free, the property the histogram
    * bound lacks; `within_bound` gates it row by row. The exact side is
    * two conditional counts against a ≤|qs|-row broadcast of estimates —
    * one extra scan, never a global sort; the DuckDB oracle RUNS the
    * textbook full-sort order statistic on the same counts. */
  def kllRecall(spark: SparkSession, sfDir: String,
                k: Int = 1024, qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    val cents = Tables.lineitem(spark, sfDir)
      .select(round(col("l_extendedprice") * 100).cast("long").as("c"))
    val ests = kllLineitemEstimates(spark, sfDir, k, qs)
      .select(col("q"), col("est_cents"), col("lvl"))
    val ranks = cents.crossJoin(broadcast(ests))
      .groupBy("q", "est_cents", "lvl")
      .agg(count(lit(1)).as("n"),
           (sum((col("c") < col("est_cents")).cast("long")) + 1L).as("lo"),
           sum((col("c") <= col("est_cents")).cast("long")).as("hi"))
    ranks
      .withColumn("r", expr("(q * n + 99) div 100"))
      .withColumn("rank_err",
        greatest(lit(0L), col("lo") - col("r"), col("r") - col("hi")))
      .withColumn("bound_rank",
        expr("8 * cast(floor(sqrt(cast(n as double) * " +
             "cast(shiftleft(cast(1 as bigint), cast(lvl as int)) as double))) as bigint) " +
             "+ shiftleft(cast(1 as bigint), cast(lvl as int))"))
      .select(col("q"), col("r"), col("est_cents"), col("lo"), col("hi"),
              col("rank_err"), col("bound_rank"),
              (col("rank_err") <= col("bound_rank")).cast("bigint").as("within_bound"))
      .orderBy("q")
  }

  /** KLL-BOUNDED WINSORIZATION (`winsorize_kll`) — [[winsorizeStats]]
    * with the band bounds read from the per-type KLL sketches instead of
    * the equi-width histogram: this is exactly the regime the KLL member
    * was built for ([[quantileSketchKll]]'s doc — the histogram's
    * `range div bins` value error is unbounded on a heavy tail, and
    * winsorization's whole job is heavy tails). A KLL bound is an ACTUAL
    * SAMPLE VALUE whose rank sits within the range-free O(n/√k) bound of
    * the target percentile — one fat-finger outlier widens every
    * histogram bin but displaces a rank by exactly 1. Same output shape
    * as the histogram form, so the two winsorizations read side by side.
    *
    * 100 TB: two scans like the histogram form — the stratification scan
    * (histogram partial-agg + ≤k survivors per scope) and the clamp scan
    * with the \|types\|-row bound table broadcast; the per-scope survivor
    * sort is over sketch rows, never data mass. */
  def winsorizeKll(spark: SparkSession, sfDir: String,
                   k: Int = 1024): DataFrame = {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type").as("scope"),
        col("event_id").cast("string").as("rkey"),
        round(col("value") * 100).cast("long").as("cents"))
    val strat = kllRows(rows)
    val lvl = kllLevel(spark, kllHist(strat), k)
    val bounds = kllReadout(spark, kllSurvivors(strat, lvl), Seq(1, 99))
      .groupBy("scope").agg(
        max(when(col("q") === 1L, col("est_cents"))).as("lo_cents"),
        max(when(col("q") === 99L, col("est_cents"))).as("hi_cents"))
    rows.select(col("scope"), col("cents"))
      .join(broadcast(bounds), Seq("scope"))
      .groupBy("scope")
      .agg(count(lit(1)).as("n_events"),
        sum((col("cents") < col("lo_cents")).cast("long")).as("n_clamped_lo"),
        sum((col("cents") > col("hi_cents")).cast("long")).as("n_clamped_hi"),
        min("lo_cents").as("lo_cents"), min("hi_cents").as("hi_cents"),
        sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("winsorized_cents"))
      .select(col("scope").as("event_type"), col("n_events"),
        col("n_clamped_lo"), col("n_clamped_hi"),
        col("lo_cents"), col("hi_cents"), col("winsorized_cents"))
      .orderBy("event_type")
  }

  /** WINSORIZATION report — the robust-scaling pass a feature pipeline
    * runs before training on a heavy-tailed metric: per event type, clamp
    * values to the [p01, p99] band so a single fat-finger amount cannot
    * dominate a mean or a gradient ([[outlierEvents]] FLAGS 3σ rows; this
    * produces the clamped STATISTICS — the other standard treatment).
    * The band bounds come from the per-type equi-width histogram (the
    * [[quantileSketch]] arithmetic per scope): winsorization needs a
    * robust cut, not an exact order statistic, and the sketch gives it
    * from metadata-sized state — the read-out is integer bin midpoints,
    * so every clamp decision and the clamped sum are exact longs both
    * engines agree on (a percentile_cont bound would interpolate floats).
    *
    * 100 TB: two scans, no sort of data mass — the per-(type, bin) grid
    * partial-aggs off the first scan, both bounds read off ≤|types|·bins
    * sketch rows (windows over metadata), and the clamp pass rides the
    * second scan with the |types|-row bound table broadcast; output is
    * |types| rows. */
  def winsorizeStats(spark: SparkSession, sfDir: String, bins: Int = 1024,
                     loQ: Int = 1, hiQ: Int = 99): DataFrame = {
    val cents = Tables.events(spark, sfDir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
    val bounds = cents.agg(min("cents").as("mn"), max("cents").as("mx"))
    val binned = cents.crossJoin(broadcast(bounds))
      .select(col("event_type"), col("cents"),
              expr(s"(cents - mn) * $bins div (mx - mn + 1)").as("bin"))
    val hist = binned.groupBy("event_type", "bin").agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("event_type").orderBy("bin")))
    def boundAt(q: Int, name: String) = hist
      .filter(col("cum") >= expr(s"($q * n + 99) div 100"))
      .groupBy("event_type").agg(min("bin").as("bin"))
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
              expr(s"mn + (2 * bin + 1) * (mx - mn + 1) div ${2L * bins}").as(name))
    val lims = boundAt(loQ, "lo_cents").join(boundAt(hiQ, "hi_cents"), "event_type")
    binned.join(broadcast(lims), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum((col("cents") < col("lo_cents")).cast("bigint")).as("n_clamped_lo"),
           sum((col("cents") > col("hi_cents")).cast("bigint")).as("n_clamped_hi"),
           min("lo_cents").as("lo_cents"),
           min("hi_cents").as("hi_cents"),
           sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
             .as("winsorized_cents"))
      .orderBy("event_type")
  }

  /** Declared HLL precision (p → m = 2^p registers), shared with the SQL
    * oracle: m = 256 registers = 2 KB of state per cell for ~6.5%
    * (1.04/√m) standard error — the space/error point production
    * distinct-count pipelines actually ship (KMV at the same state size
    * is ~13%). */
  private[graft] val HllP = 8

  /** The HLL estimate read-out from the two integer summaries, ONE
    * arithmetic definition replayed token-for-token in the SQL oracle
    * (left-associated ops so both engines fold the same IEEE sequence):
    * `harm_s` = Σ 2^(54−min(M_j,54)) — the harmonic denominator as an
    * EXACT integer (dyadic terms rescaled by 2^54 so cross-partition sum
    * order cannot move a bit; registers past 54 truncate identically on
    * both engines by the shared `least`) — and `n_zero` = empty-register
    * count for the small-range linear-counting branch (Flajolet et al.'s
    * E ≤ 2.5m correction; the one `ln` call is the repo's accepted
    * single-libm-call-then-round float risk, the zipf_slope class). */
  private def hllEstimate(nZero: Column, harmS: Column): Column = {
    val m = (1 << HllP).toDouble
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m)) * lit(m) * lit(m) *
      lit(18014398509481984.0) / harmS.cast("double") // 2^54, exact double
    when(raw <= lit(2.5 * m) && nZero > 0L,
         lit(m) * log(lit(m) / nZero.cast("double")))
      .otherwise(raw)
  }

  /** MERGEABLE HYPERLOGLOG ROLLUP — the fourth member of the sketch cube
    * ([[graft.operators.Relational.sketchRollup]] KMV distinct,
    * [[quantileRollup]] histogram quantiles,
    * [[graft.operators.Relational.freqRollup]] CMS frequency; this one is
    * the REGISTER distinct sketch, max-merge): per event type one
    * 256-register `graft_hll_state` is built from the raw stream, and the
    * `__all__` rollup merges THE PERSISTED STATE ROWS ALONE via
    * `graft_hll_merge` — element-wise max, so (unlike the additive
    * histogram) states over even OVERLAPPING row sets merge into exactly
    * the direct-pass state, bit for bit (idempotence is what makes HLL
    * the production union sketch: re-ingested shards cannot double-count).
    * Output per scope: the two INTEGER register summaries (`n_zero`,
    * `harm_s` — the register table itself hash-gated through them) and
    * the standard estimate with small-range linear counting.
    *
    * 100 TB: level 1 partial-aggs one 2 KB buffer per (cell, map
    * partition) — map-side combined, never raw rows in the shuffle;
    * level 2's input is |cells| state rows, metadata-sized at any corpus.
    * The whole register table replays integer-exactly in DuckDB
    * (md5 % 2⁶³ hash, `h % m` bucket, bit-length rank — the
    * perplexity_score bits discipline), so the approximate sketch is
    * exactly checked (the graft_kmv philosophy). */
  def hllRollup(spark: SparkSession, sfDir: String): DataFrame =
    hllReadout(Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
      .groupBy("event_type")
      .agg(call_function("graft_hll_state", col("uid"), lit(HllP)).as("hll")))

  /** The rollup + estimate read-out over already-materialized per-type
    * HLL register states — shared with the streaming twin, whose state
    * store maintains exactly these `(event_type, hll)` rows (register max
    * is associative, commutative AND idempotent, so the streamed states
    * are bit-identical to the batch ones under any micro-batch split or
    * replay). */
  private[graft] def hllReadout(perType: DataFrame): DataFrame = {
    val merged = perType
      .agg(call_function("graft_hll_merge", col("hll"), lit(HllP)).as("hll"))
      .select(lit("__all__").as("scope"), col("hll"))
    perType.select(col("event_type").as("scope"), col("hll"))
      .union(merged)
      .select(col("scope"),
        expr("aggregate(hll, 0L, (a, x) -> a + IF(x = 0L, 1L, 0L))").as("n_zero"),
        expr("aggregate(hll, 0L, (a, x) -> a + shiftleft(1L, CAST(54 - least(x, 54L) AS INT)))")
          .as("harm_s"))
      .select(col("scope"), col("n_zero"), col("harm_s"),
              duckRound(hllEstimate(col("n_zero"), col("harm_s")), 4).as("est_users"))
      .orderBy("scope")
  }

  /** DATA-QUALITY CONSTRAINT AUDIT (the Deequ/Great-Expectations shape) —
    * the validation suite every warehouse runs on an ingest batch BEFORE
    * the batch touches production tables: key uniqueness, referential
    * integrity, domain membership, range sanity, completeness — each as a
    * (constraint, violations, status) row, so the gate is a table the
    * orchestrator reads, not a log line. The fixture order book is clean,
    * so — the scrub_pii discipline — the audited "ingest batch" is the
    * order book plus a deterministic corrupted shard (every orderkey
    * divisible by 1000 re-ingested with its key KEPT (duplicate), custkey
    * negated-minus-one (orphan), status 'X' (domain), price negated
    * (range), date nulled (completeness)), so every constraint catches a
    * known, oracle-replayable violation set and 'fail' paths are
    * exercised, not assumed.
    *
    * 100 TB: ONE pass over the batch evaluates ALL constraints in a
    * single hash-aggregate (count, two-phase distinct on the key,
    * conditional sums) — referential integrity rides the same pass as a
    * scan-side broadcast LEFT-join mark, not a second anti-join read of
    * the fact side; `stack` unpivots the 1-row result. A validator that
    * re-scans per constraint costs |constraints|× the batch. */
  def constraintAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val corrupted = orders
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey"),
        (-col("o_custkey") - 1).as("o_custkey"),
        lit("X").as("o_orderstatus"),
        (-col("o_totalprice")).as("o_totalprice"),
        lit(null).cast(orders.schema("o_orderdate").dataType).as("o_orderdate"),
        col("o_orderpriority"))
    val ingest = orders.select("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .unionByName(corrupted)
    // referential integrity folds into the SAME single aggregate: the
    // broadcast LEFT join marks each row's dimension hit scan-side, so
    // all five constraints evaluate in one pass over the batch (an anti
    // join would be a second read of the fact side)
    val a = ingest
      .join(broadcast(Tables.customer(spark, sfDir)
          .select(col("c_custkey"), lit(1).as("cust_ok"))),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct("o_orderkey").as("uk"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)).as("bad_status"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("bad_price"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_date"),
        sum(when(col("cust_ok").isNull, 1L).otherwise(0L)).as("orphans"))
    a.select(col("n_rows"), expr(
        """stack(5,
          |'complete_orderdate', null_date,
          |'domain_orderstatus', bad_status,
          |'range_totalprice_positive', bad_price,
          |'ri_custkey_in_customer', orphans,
          |'unique_orderkey', n_rows - uk) as (check_name, violations)""".stripMargin))
      .select(col("check_name"), col("violations").cast("bigint").as("violations"),
        col("n_rows"),
        when(col("violations") === 0, lit("pass")).otherwise(lit("fail")).as("status"))
      .orderBy("check_name")
  }

  /** TABLE PROFILE (the "dataset card" pass) — per-column null count,
    * KMV distinct ESTIMATE, and min/max, for every column in ONE scan:
    * all per-column aggregates evaluate in a single hash-aggregate row
    * (no shuffle per column, no column-at-a-time re-scans — at 100 TB a
    * profiler that scans per column costs |columns|× the table), then
    * `stack` unpivots the 1-row result into the per-column report.
    * Distinct counts use `graft_kmv` (fixed ≤k state per column — exact
    * below k, estimator above, hash-replayable in SQL); the float `value`
    * column is profiled as integer cents (the repo-wide money convention)
    * so min/max/hash cross the engines without float-format divergence. */
  def profileTable(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    import graft.functions.NumericFunctions.duckRound
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"), col("props"))
    val cols = ev.columns.toSeq
    val aggs = cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      call_function("graft_kmv", col(c).cast("string"), lit(k)).as(s"${c}__kmv"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = ev.agg(aggs.head, aggs.tail: _*)
      .select(cols.flatMap { c => Seq(
        col(s"${c}__nulls"), duckRound(col(s"${c}__kmv"), 4).as(s"${c}__est"),
        col(s"${c}__min"), col(s"${c}__max"))
      }: _*)
    val stackArgs = cols
      .map(c => s"'$c', ${c}__nulls, ${c}__est, ${c}__min, ${c}__max")
      .mkString(", ")
    one.selectExpr(s"stack(${cols.length}, $stackArgs) AS " +
        "(column_name, n_nulls, est_distinct, min_s, max_s)")
      .orderBy("column_name")
  }

  /** TRAILING-WINDOW FEATURE BACKFILL — the feature-store pattern: for
    * every event, its user's activity over the PRECEDING hour (count,
    * cents sum) as a point-in-time-correct feature — the training-serving
    * skew killer is computing these with a leak (future rows) or a
    * re-scan per event; the RANGE-frame window computes all of them in
    * ONE shuffle on user_id + one in-partition sort, each row's frame
    * sliding over its neighbors. Frame arithmetic is integer µs with an
    * explicit inclusive `[t−3600s+1µs, t]` convention stated on both
    * sides (range-frame boundary semantics are where engines silently
    * disagree). Output rolls up per event type: burst events (trailing
    * count ≥ 5), the max trailing count, and the total trailing cents
    * mass — exact integers. */
  def rollingFeatures(spark: SparkSession, sfDir: String,
                      windowUs: Long = 3600L * 1000000L): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-(windowUs - 1), 0)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("us"),
              round(col("value") * 100).cast("long").as("cents"))
      .withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_cents", sum("cents").over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("trail_n") >= 5, 1L).otherwise(0L)).as("n_bursty"),
           max("trail_n").as("max_trail_n"),
           sum("trail_cents").as("sum_trail_cents"))
      .orderBy("event_type")
  }

  /** 3-SIGMA OUTLIER DETECTION — the data-cleaning pass every training
    * pipeline runs before trusting a numeric column: per-group (event
    * type) mean/variance from ONE partial-aggregated pass, then each row
    * tested scan-side against its group's threshold via a BROADCAST of
    * the per-group stats (a handful of rows) — the fact table is scanned
    * twice and SHUFFLED never, which is the 100 TB shape (a window over
    * the whole table would shuffle everything to sort it).
    *
    * Integer-exact despite the variance: the test
    * `|v − s/n| > 3σ  ⟺  (n·v − s)² > 9·(n·q − s²)` clears denominators
    * (s = Σv, q = Σv² in cents), so both sides are exact integers —
    * evaluated in decimal(38,0) because the squared left side overflows
    * int64 already at 100k rows (DuckDB's comparison runs in int128);
    * no float epsilon, boundary rows decided identically on both sides. */
  def outlierEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("v"))
    val d = col("v").cast("decimal(38,0)")
    val stats = ev.groupBy("event_type").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(d).as("s"), sum(d * d).as("q"))
    val dev = col("n") * col("v") - col("s")
    ev.join(broadcast(stats), Seq("event_type"))
      .filter(dev * dev > lit(9) * (col("n") * col("q") - col("s") * col("s")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_outliers"),
           sum("v").as("sum_outlier_cents"),
           max("v").as("max_outlier_cents"))
      .orderBy("event_type")
  }

  /** COHORT RETENTION — the acquisition-quality matrix every growth/usage
    * dashboard is built on: customers cohorted by the QUARTER of their
    * first order, each cohort's surviving actives counted at every
    * quarter offset since. The scale discipline is shrink-before-join:
    * the order book first collapses to DISTINCT (customer, quarter)
    * activity rows (one row per active customer-quarter, however many
    * orders), cohorts derive from a min over that same small set, and
    * the activity×cohort join keys on customer — so every shuffle after
    * the first moves activity rows, never orders. Quarter arithmetic is
    * an integer index (year·4 + quarter−1) end-to-end: offsets are exact
    * subtractions, and the differential check has no date-diff convention
    * to disagree on. Output: `(cohort, q_offset, n_active)` — `n_active`
    * at offset 0 is the cohort's size. */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val activity = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1).as("qidx"))
      .distinct()
    val cohorts = activity.groupBy("o_custkey").agg(min("qidx").as("cq"))
    activity.join(cohorts, Seq("o_custkey"))
      .groupBy(concat(expr("cq div 4"), lit("-Q"), expr("cq % 4 + 1")).as("cohort"),
               (col("qidx") - col("cq")).as("q_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "q_offset")
  }

  /** USER LIFECYCLE table — per user: activity span, event count, distinct
    * active days, and a new/active/churned verdict against the corpus
    * horizon (first event within the trailing week → `new`; last event
    * more than a week stale → `churned`; else `active`) — the segmentation
    * every retention/engagement dashboard starts from, and the batch
    * ground truth a streaming lifecycle tracker would be gated against.
    *
    * Determinism: all span arithmetic is integer µs against the corpus
    * max (one broadcast row); day counts are distinct integer day indexes;
    * the verdict is pure integer comparison — no floats anywhere.
    *
    * 100 TB: one user-keyed partial-agg'd pass (min/max/count +
    * count_distinct over day indexes — the only expand, bounded by days
    * per user); the horizon is a 1-row broadcast; no windows. */
  def userLifecycle(spark: SparkSession, sfDir: String,
                    horizonDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val horizon = ev.agg(max("us").as("max_us"))
    val dayUs = 86400000000L
    ev.groupBy("user_id")
      .agg(min("us").as("first_us"), max("us").as("last_us"),
           count(lit(1)).as("n_events"),
           countDistinct(expr(s"us div ${dayUs}L")).as("active_days"))
      .crossJoin(broadcast(horizon))
      .select(col("user_id"), col("first_us"), col("last_us"),
        col("n_events"), col("active_days"),
        when(col("first_us") > col("max_us") - lit(horizonDays * dayUs), lit("new"))
          .when(col("last_us") < col("max_us") - lit(horizonDays * dayUs), lit("churned"))
          .otherwise(lit("active")).as("status"))
      .orderBy("user_id")
  }

  /** LEADERBOARD MOVEMENT — nations ranked by quarterly revenue, with each
    * quarter's rank DELTA against the previous quarter: the
    * rank-of-aggregate + lag-of-rank composition every "movers and
    * shakers" report is (who rose, who fell, by how much) — a window
    * shape ([[windowRank]] ranks within a group; this CHAINS a second
    * window over the first's output) the suite didn't yet exercise.
    *
    * 100 TB: the revenue aggregate partial-aggs the fact scan down to the
    * |nations|×|quarters| matrix first — both windows (rank within
    * quarter, lag within nation) run over that metadata-sized table,
    * never over fact rows. Revenue is cents-integer before ranking, so
    * rank ties cannot be float-order-dependent; tie-break on name pins
    * total order. First-quarter rows have no predecessor → delta NULL
    * (emitted as 0 with a `is_first` flag, keeping the column scalar). */
  def revenueRankDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
            col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1)
          .cast("bigint").as("qidx"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
    val byQuarter = Window.partitionBy("qidx")
      .orderBy(col("rev_cents").desc, col("n_name").asc)
    val byNation = Window.partitionBy("n_name").orderBy(col("qidx").asc)
    rev
      .withColumn("rnk", row_number().over(byQuarter).cast("bigint"))
      .withColumn("prev_rnk", lag(col("rnk"), 1).over(byNation))
      .select(col("qidx"), col("n_name"), col("rev_cents"), col("rnk"),
        coalesce(col("prev_rnk") - col("rnk"), lit(0L)).as("rank_delta"),
        col("prev_rnk").isNull.cast("int").cast("bigint").as("is_first"))
      .orderBy("qidx", "rnk")
  }

  /** MARKET-BASKET AFFINITY — association mining over the order book:
    * part pairs that co-occur in the same order more often than chance,
    * ranked by LIFT = P(a,b) / (P(a)·P(b)) with a minimum-support floor
    * (the classic Apriori 2-itemset pass — recommendation candidates,
    * substitution detection, catalog layout). The [[Ranking.cocitation]]
    * discipline on baskets: pair generation self-joins the (order, part)
    * list ON THE ORDER, so fan-out is bounded by basket SIZE — a
    * retail-bounded constant (TPC-H orders hold ≤7 lines) — never by item
    * popularity, the hub-skewed direction; the support floor collapses the
    * pair set BEFORE any statistics join touches it.
    *
    * 100 TB: one distinct pass, one order-keyed pair join (basket-bounded),
    * partial-agg'd supports, per-item counts joined after the support
    * collapse, the 1-row order total broadcast, top-k as
    * TakeOrderedAndProject. Lift is one double expression per surviving
    * pair, rounded at 4 dp. */
  def basketAffinity(spark: SparkSession, sfDir: String,
                     minSupport: Int = 3, k: Int = 50): DataFrame = {
    // the distinct basket pass feeds FOUR references (item counts, order
    // total, both pair-join sides) — truncate once or the scan+distinct
    // shuffle runs four times (r16, guide §1.2)
    val baskets = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .cutLineageLazily()
    val itemCnt = baskets.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    val totals = baskets.agg(countDistinct("l_orderkey").as("n_orders"))
    val pairs = baskets.as("a").join(baskets.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(itemCnt.select(col("l_partkey").as("part_a"), col("cnt").as("cnt_a")), Seq("part_a"))
      .join(itemCnt.select(col("l_partkey").as("part_b"), col("cnt").as("cnt_b")), Seq("part_b"))
      .crossJoin(broadcast(totals))
      .select(col("part_a"), col("part_b"), col("support"), col("cnt_a"), col("cnt_b"),
        (duckRound(col("support").cast("double") * col("n_orders").cast("double") /
          (col("cnt_a").cast("double") * col("cnt_b").cast("double")), 4) + lit(0.0)).as("lift"))
      .orderBy(col("lift").desc, col("part_a").asc, col("part_b").asc)
      .limit(k)
  }

  /** ROBUST TRAFFIC ANOMALY detection — per-hour event volume tested
    * against a median/MAD robust z-score (the monitoring primitive behind
    * ingest-pipeline alerting: crawler outages, bot floods, duplicate
    * replays; mean/σ-based [[outlierEvents]] is the value-column cousin —
    * this one is robust BY CONSTRUCTION, since median and MAD ignore the
    * very outliers being hunted). An hour is anomalous when
    * |count − median| > 3·MAD.
    *
    * Integer-exact despite the medians: exact interpolated percentiles of
    * integers are half-integers, so the test is cleared of fractions —
    * `M2 = 2·median(c)`, `D = |2c − M2|`, `T2 = 2·median(D)`, and
    * `|c − median| > 3·MAD ⟺ 2·D > 3·T2` — every comparison a long, no
    * float boundary for the engines to disagree on (the outlier_events
    * denominator-clearing discipline applied to rank statistics).
    *
    * 100 TB: hourly counts partial-agg from the scan to |hours| rows;
    * both percentiles and the verdict evaluate over that metadata-sized
    * table (the peak_concurrency carry-table argument); output is the
    * flagged hours only. */
  def anomalyHours(spark: SparkSession, sfDir: String): DataFrame =
    anomalyHoursFrom(Tables.events(spark, sfDir))

  /** [[anomalyHours]] over an explicit frame with a `ts` timestamp. */
  def anomalyHoursFrom(events: DataFrame): DataFrame =
    anomalyVerdict(events
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hour_bucket"))
      .agg(count(lit(1)).as("c")))

  /** The median/MAD verdict over an already-aggregated `(hour_bucket, c)`
    * table — shared with the streaming twin, whose state store maintains
    * exactly these counts. */
  private[graft] def anomalyVerdict(hours: DataFrame): DataFrame = {
    val m2 = hours.agg(
      (expr("percentile(c, 0.5)") * 2.0).cast("bigint").as("m2"))
    val dev = hours.crossJoin(broadcast(m2))
      .withColumn("d", abs(lit(2L) * col("c") - col("m2")))
    val t2 = dev.agg(
      (expr("percentile(d, 0.5)") * 2.0).cast("bigint").as("t2"))
    dev.crossJoin(broadcast(t2))
      .filter(lit(2L) * col("d") > lit(3L) * col("t2"))
      .select(col("hour_bucket"), col("c").as("n_events"),
              col("m2").as("median_2x"), col("d").as("abs_dev_2x"),
              col("t2").as("mad_2x"))
      .orderBy("hour_bucket")
  }

  /** EXPONENTIALLY-DECAYED hourly metric (EWMA, α = 1/2) — the smoothed
    * rate signal ops dashboards and drift monitors read instead of raw
    * hourly sums: recent hours dominate, history decays geometrically.
    * α = 1/2 with a `lookback`-hour truncation makes the recurrence
    * CLOSED-FORM AND DYADIC: the weight of the hour `g` steps back is
    * 2^(lookback−1−g), so numerator and denominator are exact BIGINTs
    * (cents × powers of two) and the engine and the SQL oracle agree
    * bit-for-bit — a float-pow EWMA can never be hash-gated; this one is.
    * The denominator sums only the weights of hours PRESENT, so silent
    * hours neither contribute zeros nor shift the decay (gap-aware, the
    * `gap_fill` lesson applied to smoothing).
    *
    * 100 TB: the fact scan partial-aggregates to the tiny (type × hour)
    * grid FIRST; the lookback is an explode(×20) of that metadata-sized
    * grid joined back to itself on (type, hour) — pure equi-join (the
    * range condition is rewritten as an exploded offset key, so no
    * nested-loop range join at any scale). */
  def ewmaHours(spark: SparkSession, sfDir: String, lookback: Int = 20): DataFrame =
    ewmaHoursFrom(Tables.events(spark, sfDir), lookback)

  /** [[ewmaHours]] over an explicit frame with `ts`/`event_type`/`value` —
    * the spec's hand-fixture entry point (isolated hour ⇒ EWMA = its own
    * cents; the 2:1 weight ratio of adjacent hours pinned exactly). */
  def ewmaHoursFrom(events: DataFrame, lookback: Int = 20): DataFrame =
    ewmaReadout(ewmaHourlyGrid(events), lookback)

  /** The (event_type, hour) → cents grid the EWMA reads from — a plain
    * associative/commutative SUM, so the stream-maintained grid
    * ([[graft.streaming.EventStreams.streamEwmaHoursQuery]]) is
    * bit-identical to this batch one under any micro-batch split. */
  private[graft] def ewmaHourlyGrid(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("cents"))

  /** The EWMA read-out over an already-materialized hourly grid — shared
    * with the streaming twin, whose state store maintains exactly these
    * `(event_type, h, cents)` rows. */
  private[graft] def ewmaReadout(hourly: DataFrame, lookback: Int = 20): DataFrame = {
    val targets = hourly.select(col("event_type"), col("h"),
        explode(sequence(lit(0), lit(lookback - 1))).as("g"))
      .withColumn("h_src", col("h") - col("g"))
    val wgt = expr(s"shiftleft(1L, ${lookback - 1} - g)")
    // toDF re-aliases every column with fresh expression ids — required
    // because the streaming twin's grid is a memory-sink view, which
    // cannot self-join without explicit deduplication (MemoryPlan is not
    // a multi-instance relation; the batch parquet grid dedups fine).
    targets
      .join(hourly.toDF("event_type", "h_src", "cents"),
            Seq("event_type", "h_src"))
      .groupBy(col("event_type"), col("h").as("hour_bucket"))
      .agg(count(lit(1)).as("n_hours"),
           sum(col("cents") * wgt).as("ewma_num"),
           sum(wgt).as("ewma_den"))
      .withColumn("ewma_cents", expr("ewma_num div ewma_den"))
      .orderBy("event_type", "hour_bucket")
  }

  /** FIRST-TOUCH ATTRIBUTION — the marketing-analytics consumer of the
    * session machinery: every purchase is credited to the CHANNEL that
    * opened its session (the first event's type), the report every
    * acquisition dashboard starts from ("which entry point leads to
    * converting sessions"). Sessions are the island form `sessionize`
    * uses verbatim (same 30-min gap, same (ts, event_id) order), so the
    * session definition cannot drift between the two queries; the touch
    * is `min_by(event_type, (ts, event_id))` — the ordering key is unique
    * (event ids are), so the aggregate is deterministic, never a
    * "first() under unspecified order" trap. Purchase value is
    * cents-integer at the scan.
    *
    * 100 TB: one user_id shuffle carries the whole session chain (lag +
    * running sum + the per-session aggregate all share the partitioning —
    * Catalyst reuses one exchange+sort); the channel rollup input is
    * |sessions| rows and the output |event_types|. No fact re-scan, no
    * self-join. */
  def attributionTouch(spark: SparkSession, sfDir: String,
                       gapSeconds: Long = 1800L): DataFrame =
    attributionTouchFrom(Tables.events(spark, sfDir), gapSeconds)

  /** Events with their island-session id attached — the shared first
    * stage of every attribution variant (one user_id exchange + one sort,
    * reused by the lag and the running sum; the same chain `sessionize`
    * runs). */
  private[graft] def sessionedEvents(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("ns",
        when(col("prev_ts").isNull ||
             (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("ns").over(running))
  }

  /** [[attributionTouch]] over an explicit events frame — the spec's
    * entry point for hand-built sessions with known touches. */
  def attributionTouchFrom(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val sessions = sessionedEvents(events, gapSeconds)
      .groupBy("user_id", "sid")
      .agg(min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("channel"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"),
           sum(when(col("event_type") === "purchase",
                    expr("cast(round(value * 100) as bigint)")).otherwise(0L)).as("purch_cents"))
    sessions.groupBy("channel")
      .agg(count(lit(1)).as("n_sessions"),
           sum((col("n_purch") > 0).cast("bigint")).as("n_converting"),
           sum("n_purch").as("n_purchases"),
           sum("purch_cents").as("attributed_cents"))
      .orderBy("channel")
  }

  /** LINEAR (multi-touch) ATTRIBUTION — [[attributionTouch]]'s
    * even-split sibling: each session's purchase cents are divided
    * equally across the session's DISTINCT channels (every touchpoint
    * shares credit — the other standard attribution model, answering
    * "which channels participate in converting journeys" where
    * first-touch answers "which channels open them"). The split is
    * INTEGER-EXACT with a deterministic remainder rule: each of the n
    * channels gets `cents div n`, and `cents mod n` goes to the session's
    * TOUCH channel (the min_by first event) — so credit conservation
    * `Σ channel credits = Σ purchase cents` is an identity, not an
    * approximation (spec-gated against attribution_touch's total; a
    * float split would leak cents and be partition-order-dependent).
    *
    * 100 TB: the shared [[sessionedEvents]] chain (one user_id
    * exchange), one per-session aggregate carrying a sorted distinct
    * channel array (bounded by |event_types|), an explode of |sessions| ×
    * ≤|types| rows, and a |types|-row rollup. */
  def attributionLinear(spark: SparkSession, sfDir: String,
                        gapSeconds: Long = 1800L): DataFrame =
    attributionLinearFrom(Tables.events(spark, sfDir), gapSeconds)

  /** [[attributionLinear]] over an explicit events frame. */
  def attributionLinearFrom(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val sessions = sessionedEvents(events, gapSeconds)
      .groupBy("user_id", "sid")
      .agg(min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("touch"),
           array_sort(collect_set(col("event_type"))).as("channels"),
           sum(when(col("event_type") === "purchase",
                    expr("cast(round(value * 100) as bigint)")).otherwise(0L)).as("purch_cents"))
    sessions
      .select(col("touch"), col("purch_cents"),
              size(col("channels")).cast("bigint").as("n_ch"),
              explode(col("channels")).as("channel"))
      .select(col("channel"),
        (expr("purch_cents div n_ch") +
          when(col("channel") === col("touch"), expr("purch_cents % n_ch"))
            .otherwise(lit(0L))).as("credit"),
        (col("purch_cents") > 0).cast("bigint").as("converting"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_sessions_present"),
           sum("converting").as("n_converting_present"),
           sum("credit").as("credit_cents"))
      .orderBy("channel")
  }

  /** CUSUM LEVEL-SHIFT DETECTION (Page 1954) — the sequential changepoint
    * monitor next to [[anomalyHours]]' pointwise outliers and [[ewmaHours]]'
    * smoothing: a single anomalous hour trips the robust-z test, but a
    * SUSTAINED small shift (a slow leak of duplicate events, a quietly
    * doubled crawler) never does — each hour sits within 3·MAD while the
    * cumulative drift grows without bound. One-sided CUSUM accumulates
    * per-hour exceedance over (target + allowance) and clamps at zero:
    * `S_t = max(0, S_{t−1} + (c_t − μ − κ))`, alarm when `S_t > 8κ`.
    *
    * Integer-exact end to end: target `μ = Σc div n` and allowance
    * `κ = Σc div 4n` are floor divisions of exact cents sums (both engines
    * agree bit-for-bit), deviations stay at cents scale so the running sum
    * cannot overflow long before the grid itself would (~2^63 total cents
    * per type). The sequential recurrence is NOT computed as a recurrence:
    * the closed form `S_t = P_t − min(0, min_{j≤t} P_j)` (P = prefix sum of
    * deviations; induction: max(0, P_t − M_{t−1}) = P_t − min(M_{t−1}, P_t))
    * turns it into two running windows — expressible identically in Spark
    * and the SQL oracle, no recursive CTE, no driver loop.
    *
    * 100 TB: the fact scan partial-aggregates to the (type × hour) cents
    * grid FIRST (the ewma_hours shape); per-type constants and both running
    * windows evaluate over that metadata-sized table — |types| partitions
    * of |hours| rows, never fact mass. Output keeps the full trajectory
    * (stat + alarm per hour), not only alarms, so a quiet corpus still
    * hash-gates the arithmetic. */
  def cusumShift(spark: SparkSession, sfDir: String): DataFrame =
    cusumFrom(Tables.events(spark, sfDir))

  /** [[cusumShift]] over an explicit frame with `ts`/`event_type`/`value` —
    * the spec's entry point for planting a sustained shift that stays under
    * the pointwise radar but trips the cumulative one. */
  def cusumFrom(events: DataFrame): DataFrame =
    cusumReadout(ewmaHourlyGrid(events))

  /** The CUSUM read-out over an already-materialized `(event_type, h,
    * cents)` grid — shared with the streaming twin
    * ([[graft.streaming.EventStreams.streamCusumQuery]]), whose state store
    * maintains exactly these rows (the ewmaReadout discipline). */
  private[graft] def cusumReadout(hourly: DataFrame): DataFrame = {
    val byType = Window.partitionBy("event_type")
    val running = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .withColumn("s_type", sum("cents").over(byType))
      .withColumn("n_type", count(lit(1)).over(byType))
      .withColumn("mu", expr("s_type div n_type"))
      .withColumn("kap", expr("s_type div (4 * n_type)"))
      .withColumn("p", sum(col("cents") - col("mu") - col("kap")).over(running))
      .withColumn("m", least(lit(0L), min(col("p")).over(running)))
      .select(col("event_type"), col("h").as("hour_bucket"), col("cents"),
        col("mu").as("target_cents"), col("kap").as("allowance_cents"),
        (col("p") - col("m")).as("cusum_cents"),
        (col("p") - col("m") > lit(8L) * col("kap")).cast("bigint").as("alarm"))
      .orderBy("event_type", "hour_bucket")
  }

  /** TIME-SERIES GAP FILL: the dense (event_type × hour) grid with absent
    * buckets materialized as explicit zero rows — the densification step
    * every downstream rolling/forecast model needs (a rolling window over
    * the sparse table silently skips empty hours; [[anomalyHours]]'
    * median is biased high if silent hours never appear as rows).
    *
    * 100 TB: the fact scan partial-aggs down to the |types|×|hours|
    * metadata table FIRST; the dense spine is GENERATED (explode of
    * `sequence(min_h, max_h)` against the distinct-type table — no
    * driver-side range loop, no fact re-scan), and the left join that
    * stitches them is metadata × metadata with the counts side broadcast.
    * Nothing after the first aggregate ever touches fact rows, at any
    * scale. Revenue is cents-integer; `is_gap` is a 0/1 bigint flag. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val counts = ev.groupBy("event_type", "hour_idx")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
    val bounds = ev.agg(min("hour_idx").as("h0"), max("hour_idx").as("h1"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
              explode(sequence(col("h0"), col("h1"))).as("hour_idx"))
    spine.join(broadcast(counts), Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("sc"), lit(0L)).as("sum_cents"),
        col("n").isNull.cast("int").cast("bigint").as("is_gap"))
      .orderBy("event_type", "hour_idx")
  }
}
