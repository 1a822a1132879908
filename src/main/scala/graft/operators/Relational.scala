package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NumericFunctions.duckRound
import graft.operators.Lineage._
import graft.sources.Tables

/** Relational breadth beyond the reference's map/shuffle/reduce shape:
  * predicates, distinct aggregation, equi joins, multi-way joins, window
  * functions, time bucketing, sessionization, JSON extraction.
  *
  * Scale design (100 TB):
  *  - Dimension tables (`customer`, `nation`, `region`) are broadcast —
  *    the fact-side scan never shuffles for those joins.
  *  - Fact-fact joins shuffle on join keys once; aggregations ride the same
  *    partitioning where possible.
  *  - Window functions partition by high-cardinality keys (customer, user),
  *    so no single-partition sort bottleneck.
  *  - All double-valued aggregates are rounded at the output edge: summation
  *    order across partitions is nondeterministic, so raw low-order bits are
  *    not reproducible — rounding makes results stable for differential
  *    testing without changing the plan.
  */
object Relational {

  /** TPC-H Q1-style pricing summary over lineitem: the canonical
    * map-side-combinable multi-aggregate. */
  def aggPricing(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        duckRound(sum("l_quantity"), 2).as("sum_qty"),
        duckRound(sum("l_extendedprice"), 2).as("sum_base_price"),
        duckRound(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        duckRound(avg("l_quantity"), 4).as("avg_qty"),
        duckRound(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** COUNT(DISTINCT user_id) per event type. Spark plans this as a two-phase
    * expand + partial agg — no driver-side distinct. */
  def distinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
           count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** [[distinctUsers]]'s SCALE form: distinct users per event type
    * ESTIMATED by the `graft_kmv` K-Minimum-Values aggregate
    * ([[graft.functions.expressions.KmvAgg]]) — exact distinct shuffles
    * every distinct key per group; the sketch shuffles one ≤k-value buffer
    * per group per map partition, a fixed 520 bytes at k=64 whether the
    * group has a thousand users or a billion. Exact below k, ~13% standard
    * error above it — and still hash-checked exactly, because the hash and
    * the estimate arithmetic are pinned to their DuckDB twins. */
  def distinctSketch(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
      .groupBy("event_type")
      .agg(duckRound(call_function("graft_kmv", col("uid"), lit(k)), 4).as("est_users"))
      .orderBy("event_type")

  /** KEY-SKEW PROFILE — the shuffle-planning diagnostic behind every
    * salting/skew decision in this repo: for each candidate shuffle key,
    * one row of distribution shape — row and key counts, the hottest
    * key's frequency, `skew_ratio` = max/avg (1.0 = perfectly uniform;
    * the threshold AQE's skew-join split keys on is this ratio at
    * partition grain), and the normalized key entropy (1.0 = even,
    * → 0 = one key carries everything). A pipeline reads this BEFORE
    * choosing bucketing/salting ([[Skew]]) the way it reads
    * `profile_table` before typing columns.
    *
    * 100 TB: each key's stats partial-agg from the scan to |keys| rows,
    * then to ONE row per analyzed column — no windows, no sorts, no
    * top-k; the five analyses union fixed-size rows. Per-column float
    * folds over |keys| rows round at 4 dp (the doc_entropy discipline). */
  def skewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    // ALL key columns of one table profile from ONE scan: each row expands
    // (Generate, not a re-scan) to one (key_column, key) pair per analyzed
    // column, and a single two-level aggregate produces every column's
    // shape row — a table read twice for two candidate keys would double
    // the dominant cost at 100 TB for no informational gain.
    def profile(df: DataFrame, table: String, keyCols: String*): DataFrame =
      df.select(explode(array(keyCols.map(kc =>
          struct(lit(s"$table.$kc").as("key_column"),
                 col(kc).cast("string").as("k"))): _*)).as("e"))
        .select(col("e.key_column").as("key_column"), col("e.k").as("k"))
        .filter(col("k").isNotNull)
        .groupBy("key_column", "k").agg(count(lit(1)).as("c"))
        .groupBy("key_column")
        .agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
             max("c").as("max_count"),
             sum(col("c").cast("double") * log2(col("c").cast("double"))).as("clc"))
        .select(col("key_column"),
          col("n_rows"), col("n_keys"), col("max_count"),
          (duckRound(col("max_count").cast("double") * col("n_keys").cast("double") /
            col("n_rows").cast("double"), 4) + lit(0.0)).as("skew_ratio"),
          (duckRound(
            when(col("n_keys") === 1L, lit(0.0))
              .otherwise((log2(col("n_rows").cast("double")) -
                col("clc") / col("n_rows").cast("double")) /
                log2(col("n_keys").cast("double"))), 4) + lit(0.0)).as("evenness"))
    profile(Tables.events(spark, sfDir), "events", "user_id", "event_type")
      .unionByName(profile(Tables.lineitem(spark, sfDir), "lineitem",
        "l_orderkey", "l_suppkey"))
      .unionByName(profile(Tables.orders(spark, sfDir), "orders", "o_custkey"))
      .orderBy("key_column")
  }

  /** MERGEABLE-SKETCH ROLLUP — the property that makes approximate
    * distinct counting compose at 100 TB (Agarwal et al., "Mergeable
    * Summaries", PODS'12): distinct counts do NOT add across groups (the
    * same user appears under many event types), but KMV sketch STATES
    * merge losslessly — the k smallest hashes of a union are found among
    * the union of the per-group k smallest. So a pipeline can persist one
    * tiny sketch per (source, day, …) cell and later answer ANY coarser
    * rollup without rescanning the corpus — the OLAP-cube pattern for
    * distincts. This operator materializes both levels: per-event-type
    * sketches via `graft_kmv_state` (first level, over the raw events) and
    * the `__all__` row via `graft_kmv_merge` OVER THE PER-TYPE SKETCH ROWS
    * ONLY — the merged estimate never sees a raw event, yet (provably, and
    * spec-gated) equals the sketch computed directly over everything.
    *
    * 100 TB: level 1 is [[distinctSketch]]'s contract (≤k-long partial
    * buffers in the one shuffle); level 2's input is |groups|·k longs —
    * metadata-sized regardless of corpus. The estimate arithmetic is the
    * exact kmvSketchSql formula, so the whole rollup hash-matches DuckDB. */
  def sketchRollup(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    val est = (sk: org.apache.spark.sql.Column) =>
      duckRound(when(size(sk) < k, size(sk).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 63)) /
          element_at(sk, k).cast("double")), 4) + lit(0.0)
    val perType = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy("event_type")
      .agg(call_function("graft_kmv_state",
        col("user_id").cast("string"), lit(k)).as("sk"))
    val merged = perType
      .select(explode(col("sk")).as("hv"))
      .agg(call_function("graft_kmv_merge", col("hv"), lit(k)).as("sk"))
      .select(lit("__all__").as("scope"),
        size(col("sk")).cast("bigint").as("sketch_size"),
        est(col("sk")).as("est_distinct"))
    perType
      .select(col("event_type").as("scope"),
        size(col("sk")).cast("bigint").as("sketch_size"),
        est(col("sk")).as("est_distinct"))
      .union(merged)
      .orderBy("scope")
  }

  /** Equi join orders ⋈ customer (dim side broadcast) + aggregate per market
    * segment. */
  def joinOrdersCustomers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)),
            col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(duckRound(sum("o_totalprice"), 2).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")

  /** 3-way join + aggregate (TPC-H Q3/Q5 flavor): revenue per nation for one
    * market segment. customer and nation broadcast; lineitem⋈orders shuffles
    * once on the order key. */
  def multiJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(duckRound(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_lineitems"))
      .orderBy("n_name")
  }

  /** Window function: top-3 orders per customer by total price.
    * row_number (not rank) with an orderkey tie-break for determinism. */
  def windowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
              duckRound(col("o_totalprice"), 2).as("totalprice"), col("rnk"))
      .orderBy("o_custkey", "rnk")
  }

  /** Tumbling one-hour window over the event stream (batch form; the
    * streaming form with watermarks is in graft.streaming.EventStreams).
    * Window start rendered as a string so the oracle compare is precision-
    * agnostic (events.ts is ns in parquet, µs in Spark). */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"),
               col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           duckRound(sum("value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")

  /** Gap-based sessionization via window functions: a new session starts
    * after >30 min of user inactivity. Pure window-function form — runs
    * distributed, partitioned by user. */
  def sessionize(spark: SparkSession, sfDir: String, gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_session").as("n_sessions"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Native SESSION WINDOWS (`functions.session_window`) — the generator
    * form of [[sessionize]]: gap-merged `[first_ts, last_ts + gap)`
    * windows per user with per-session aggregates, the same construct the
    * streaming engine maintains as state. Catalyst plans one shuffle on
    * user_id and merges windows within the partition — no self-join, no
    * window-function chain. Boundary convention (shared with the
    * stream_sessions oracle, PROBED from Spark's merge iterator rather
    * than assumed): a next event strictly past the session end starts a
    * new session; an exact touch MERGES. µs-grained fixtures never touch
    * exactly, so this is pinned by the dynamic micro spec, not the
    * corpus hash. */
  def sessionWindowAgg(spark: SparkSession, sfDir: String,
                       gap: String = "30 minutes"): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
           duckRound(sum("value"), 4).as("sum_value"))
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** Per-event-type session gap minutes — the data-driven session policy
    * (a click expires fast, a purchase keeps a session alive much longer),
    * ONE definition site shared by the batch query, its streaming twin,
    * and both SQL oracles (the compactionPlanSql discipline). Order is the
    * CASE order; the last entry is the ELSE branch. */
  private[graft] val DynamicGapMinutes: Seq[(String, Int)] = Seq(
    "click" -> 10, "view" -> 20, "signup" -> 30, "purchase" -> 45, "error" -> 5)

  /** The per-row gap as a session_window duration Column. */
  private[graft] def dynamicGapCol: org.apache.spark.sql.Column =
    DynamicGapMinutes.init.foldRight(
        lit(s"${DynamicGapMinutes.last._2} minutes")) { case ((t, m), e) =>
      when(col("event_type") === t, lit(s"$m minutes")).otherwise(e)
    }

  /** The same gap as a µs CASE expression for the DuckDB oracles. */
  private[graft] def dynamicGapCaseSql: String =
    DynamicGapMinutes.init.map { case (t, m) =>
      s"WHEN '$t' THEN ${m * 60000000L}"
    }.mkString("CASE event_type ", " ", s" ELSE ${DynamicGapMinutes.last._2 * 60000000L} END")

  /** DYNAMIC-GAP SESSION WINDOWS — `session_window(ts, gapExpr)` with the
    * gap a PER-ROW expression over the event type: the data-driven session
    * form the fixed-gap [[sessionWindowAgg]] cannot express (every
    * engagement model weights event kinds differently — a purchase holds a
    * session open 45 min, an error only 5). Spark merges each event's
    * `[ts, ts + gap(row))` interval into overlapping per-user windows;
    * session end = max event end, NOT last event + a constant.
    *
    * Oracle: the island-detection SQL generalized — a new session starts
    * when the event time reaches the RUNNING MAX of all previous events'
    * individual ends (`max(ts_j + gap_j)` over preceding rows;
    * the fixed-gap rule is the constant-gap special case), exact touch
    * MERGING — Spark's merge-iterator rule, pinned by a micro spec. Gap table
    * interpolates from [[DynamicGapMinutes]] on both engines.
    *
    * 100 TB: identical physics to [[sessionWindowAgg]] — one shuffle on
    * user_id, windows merged inside the aggregation operator, no
    * window-function chain, no self-join; the gap expression is scan-side
    * per-row arithmetic. */
  def sessionWindowDynamic(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), dynamicGapCol))
      .agg(count(lit(1)).as("n_events"),
           duckRound(sum("value"), 4).as("sum_value"))
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** INTERVAL OVERLAP JOIN — enumerate the session PAIRS that were open
    * simultaneously (who was online together, the co-presence signal
    * behind fraud rings, shared-account detection, collaborative-session
    * analytics). [[peakConcurrency]] answers "how many at once"; this
    * answers "who with whom, for how long": per user pair, the number of
    * overlapping session pairs and the exact total overlap in µs, top-k
    * by overlap.
    *
    * The naive interval join is a quadratic theta-join (every session
    * against every session — the plan Spark would pick for a raw
    * range predicate: BroadcastNestedLoopJoin). The scale form BUCKETS
    * time: each session explodes to the hour buckets it spans (bounded by
    * session length / bucket width — a small constant for gap-merged
    * sessions), pairs meet on an EQUI-join on the bucket, and each
    * overlapping pair is counted exactly once by attributing it to the
    * bucket where the overlap STARTS (`greatest(st_a, st_b) div bucket` —
    * provably within both sessions' bucket ranges). Per-bucket work is
    * |sessions in that hour|², the inherent output-bound of pair
    * enumeration, parallel across buckets. The DuckDB oracle is the
    * NAIVE quadratic join — the differential proves the bucketed rewrite
    * exact, the `salted_distinct` discipline for join strategies.
    *
    * 100 TB: one shuffle on (hour bucket); fan-out = span/bucket ≤ 2 for
    * 30-min-gap sessions; the pair aggregate partial-aggs on (user_a,
    * user_b); top-k is TakeOrderedAndProject. All arithmetic is integer
    * µs — no float in the gate. Measured honestly (§6.1): linear when the
    * corpus grows along the TIME axis (more hours, same per-hour
    * activity — buckets multiply, per-bucket work constant); the ×10
    * DENSIFICATION probe (10× users in the same 30 days) measures slope
    * ~1.3, because co-presence pairs grow quadratically in per-hour
    * concurrency — that is the semantics' own output bound, not a plan
    * defect. A deployment at high density bounds it by pushing a
    * min-overlap threshold into the join condition. */
  def intervalJoin(spark: SparkSession, sfDir: String,
                   gapSeconds: Long = 1800L, k: Int = 50): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val sess = Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("ns",
        when(col("prev_ts").isNull ||
             (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("ns").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min(unix_micros(col("ts"))).as("st"),
           max(unix_micros(col("ts"))).as("en"))
    intervalJoinSessions(sess.select("user_id", "st", "en"), k)
  }

  /** [[intervalJoin]]'s bucketed pair core over an explicit
    * `(user_id, st, en)` µs-interval frame. */
  def intervalJoinSessions(sess: DataFrame, k: Int = 50,
                           bucketUs: Long = 3600000000L): DataFrame = {
    val withB = sess
      .withColumn("hb", explode(sequence(
        expr(s"st div ${bucketUs}L"), expr(s"en div ${bucketUs}L"))))
    withB.as("a").join(withB.as("b"),
        col("a.hb") === col("b.hb") &&
          col("a.user_id") < col("b.user_id") &&
          col("a.st") <= col("b.en") && col("b.st") <= col("a.en") &&
          expr(s"greatest(a.st, b.st) div ${bucketUs}L") === col("a.hb"))
      .select(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"),
        (least(col("a.en"), col("b.en")) -
          greatest(col("a.st"), col("b.st"))).as("ov"))
      .groupBy("user_a", "user_b")
      .agg(count(lit(1)).as("n_overlaps"),
           sum("ov").as("total_overlap_us"))
      .orderBy(col("total_overlap_us").desc, col("user_a").asc, col("user_b").asc)
      .limit(k)
  }

  /** PEAK CONCURRENCY — the interval max-overlap sweep, scaled out: how
    * many sessions are simultaneously open, per hour (capacity planning /
    * load-envelope analysis over the same gap-merged session intervals
    * [[sessionWindowAgg]] emits). The textbook sweep-line is a SINGLE
    * ordered running sum over all boundaries — a one-partition sort that
    * dies at scale — so this splits it two-level, the `export_sorted`
    * histogram-cut idea applied to a prefix aggregation: boundaries
    * (+1 at session start, −1 at its half-open end) bucket by hour and
    * running-sum WITHIN buckets in parallel; each bucket's carry-in is an
    * exclusive prefix sum of per-bucket nets — a window over \|hours\|
    * metadata-sized rows. concurrency(t) = carry(bucket) + local running
    * sum, so the per-hour peak = carry + max(local). Boundary tie order
    * is pinned (us, delta asc, user_id): ends sort before starts at the
    * same µs, the half-open convention — touching sessions never
    * overlap. */
  def peakConcurrency(spark: SparkSession, sfDir: String,
                      gap: String = "30 minutes"): DataFrame = {
    val sessions = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("s_us"),
              unix_micros(col("session_window.end")).as("e_us"))
    val bounds = sessions.select(col("s_us").as("us"), lit(1L).as("delta"), col("user_id"))
      .union(sessions.select(col("e_us").as("us"), lit(-1L).as("delta"), col("user_id")))
      .withColumn("b", expr("us div 3600000000"))
    val inBucket = Window.partitionBy("b")
      .orderBy(col("us").asc, col("delta").asc, col("user_id").asc)
    val run = bounds.withColumn("rs", sum("delta").over(inBucket))
      .groupBy("b").agg(max("rs").as("local_peak"))
    val carry = bounds.groupBy("b")
      .agg(sum("delta").as("net"), count(lit(1)).as("n_changes"))
      .withColumn("carry", coalesce(
        sum("net").over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    run.join(carry, Seq("b"))
      .select((col("b") * 3600000000L).as("hour_us"), col("n_changes"),
              (col("carry") + col("local_peak")).as("peak"))
      .orderBy("hour_us")
  }

  /** Anti join: customers with no large order (totalprice > threshold) —
    * the non-matching side of the join surface. Plans as LEFT ANTI with the
    * price filter pushed below the join (no materialized nulls, no
    * post-filter). */
  def customersWithoutOrders(spark: SparkSession, sfDir: String,
                             minPrice: Double = 400000.0): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_totalprice") > minPrice),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Fixed-width histogram of the event value distribution: bin =
    * floor(value / width). A single map-side-combinable aggregate — the
    * scan-shaped data-profiling op, linear at any scale. */
  def valueHistogram(spark: SparkSession, sfDir: String, width: Double = 50.0): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(floor(col("value") / width).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n"), duckRound(sum("value"), 4).as("sum_value"))
      .orderBy("bin")

  /** Semi join: customers WITH at least one large order — EXISTS as LEFT
    * SEMI, the dual of [[customersWithoutOrders]]. A semi join never
    * duplicates probe rows however many orders match, and the build side
    * carries only the join key. */
  def customersWithLargeOrders(spark: SparkSession, sfDir: String,
                               minPrice: Double = 400000.0): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_totalprice") > minPrice),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Bloom-filtered semi-join reduction — the 100 TB join pattern where the
    * fact side is too big to shuffle in full and the dim side's key set is
    * too big (or the store too remote) for a plain IN-list: build a Bloom
    * filter over the qualifying dim keys in ONE small aggregation
    * ([[graft.functions.expressions.BloomAgg]] — partial buffers are fixed
    * 128 KiB bytes, merged bytewise-OR), collect it to the driver, and
    * re-plant it as a LITERAL codegen predicate on the fact scan
    * ([[graft.functions.expressions.BloomMightContain]]). Fact rows that
    * cannot join die inside the scan stage, BEFORE the shuffle (the spec
    * plan-asserts the predicate below the Exchange), so shuffle volume
    * tracks the MATCHING rows, not the table. This is the explicit,
    * store-agnostic form of Spark's own `InjectRuntimeFilter` — which only
    * fires inside one query's shuffle-join planning; a collected filter
    * also serves repeated queries, streams, and persisted-index probes.
    *
    * Exactness: the filter has no false negatives (spec-asserted), and the
    * exact join right after removes any false positives — approximate in
    * cost, exact in result, so the oracle is the PLAIN join SQL. */
  def bloomJoin(spark: SparkSession, sfDir: String,
                segment: String = "BUILDING",
                numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === segment)
    val filterBytes = cust
      .agg(call_function("graft_bloom",
        col("c_custkey").cast("string"), lit(numBits), lit(numHashes)).as("f"))
      .head().getAs[Array[Byte]](0)
    Tables.orders(spark, sfDir)
      .filter(call_function("graft_bloom_might_contain",
        lit(filterBytes), col("o_custkey").cast("string"), lit(numHashes)))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      .orderBy("o_orderpriority")
  }

  /** Full outer join: hourly click volume against hourly purchase volume,
    * zero-filled where only one side has activity. Both sides aggregate
    * BEFORE the join, so the shuffle moves one row per hour, not one per
    * event — the pre-aggregated outer join is the scale-safe shape. */
  def clicksVsPurchases(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def hourly(t: String, out: String) = ev.filter(col("event_type") === t)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00:00").as("hour"))
      .agg(count(lit(1)).as(out))
    hourly("click", "n_clicks")
      .join(hourly("purchase", "n_purchases"), Seq("hour"), "full_outer")
      .select(col("hour"),
              coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
              coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy("hour")
  }

  /** TPC-H Q5-flavor 6-table join: local-supplier revenue per nation within
    * one region. Exercises every remaining TPC-H-ish table (supplier,
    * region). Join strategy at scale: lineitem⋈orders shuffles once on the
    * order key; supplier, customer, nation, region are dimensions →
    * broadcast, so the fact side never reshuffles for them; the
    * customer-nation == supplier-nation "local" predicate collapses into
    * the broadcast join conditions. Region filter reaches the region scan
    * (PushedFilters) and prunes the broadcast build sides transitively. */
  def regionRevenue(spark: SparkSession, sfDir: String, region: String = "ASIA"): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val supp = Tables.supplier(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir).filter(col("r_name") === region)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(duckRound(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_lineitems"))
      .orderBy("n_name")
  }

  /** Sliding (hopping) window: hourly aggregates advancing every 15 minutes
    * — each event lands in 4 overlapping windows. Spark's `window()` plans
    * this as a 4-way Expand before the aggregate (no self-join, single
    * shuffle), the same shape its streaming engine uses. */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           duckRound(sum("value"), 4).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** As-of join — the temporal operator Spark's built-in joins lack: for
    * every click event, the most recent purchase of the same user at or
    * before the click. Implemented as union-tag → single window pass
    * (`last(purchase_ts) ignoreNulls` over rows-unbounded-preceding), which
    * shuffles each side ONCE on the join key and never materializes the
    * range-join pair space — the scale-out formulation (a range join would
    * explode on hot users; the merge-scan here is O(n log n) per user).
    * Purchases sort before clicks at equal timestamps → inclusive `<=`
    * semantics, matching DuckDB's `ASOF LEFT JOIN ... ON b.ts <= a.ts`
    * oracle. Timestamps exported as epoch micros for dialect-free compare. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val tagged = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("tag"))
      .unionByName(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"),
                  lit(0).as("tag")))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("purchase_ts",
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("click_us"),
              unix_micros(col("purchase_ts")).as("purchase_us"))
      .orderBy("event_id")
  }

  /** Hierarchical aggregate (ROLLUP): pricing totals at (flag, status),
    * per-flag subtotal, and grand total in one pass — Catalyst plans a
    * single Expand + partial/final hash aggregate, no re-scan per level.
    * Subtotal slots surface as 'ALL' so the differential compare is
    * null-free. */
  def rollupPricing(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(duckRound(sum("l_quantity"), 2).as("sum_qty"),
           duckRound(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
           count(lit(1)).as("count_order"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("sum_disc_price"), col("count_order"))
      .orderBy("returnflag", "linestatus")

  /** Fuzzy string self-match: same-length customer-name pairs within edit
    * distance 1. Equal length means the single edit must be a substitution
    * (Hamming-1), so blocking is lossless with wildcard-position keys: for
    * each of the L positions emit the string with that position masked out;
    * a Hamming-1 pair collides on exactly the key for its differing
    * position, an identical pair on all L. The bucket key carries the WHOLE
    * string minus one char, so selectivity survives low-entropy regions
    * (shared prefixes, zero-padded ids) that defeat parity- or half-split
    * blocking — max bucket size is |alphabet| no matter where the entropy
    * sits. Cost is a constant L-fold row blowup, linear at any scale;
    * codegen'd `levenshtein` re-checks candidates (and yields `dist`). */
  def fuzzyNames(spark: SparkSession, sfDir: String): DataFrame =
    hamming1Pairs(
      Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name")),
      "c_custkey", "c_name")
      .toDF("cust_a", "cust_b", "dist")
      .orderBy("cust_a", "cust_b")

  /** Generic core of [[fuzzyNames]]: all (id_a, id_b, dist) pairs of rows
    * whose strings are equal length and within edit distance 1, id_a < id_b.
    * Output columns: (a, b, dist) on the id column's type. */
  def hamming1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val masked = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"),
              // sequence(1, 0) auto-reverses to [1, 0] — an empty string
              // must yield NO mask rows, not two spurious ones.
              explode(when(length(col("s")) > 0,
                           sequence(lit(1), length(col("s"))))
                        .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("id"), col("s"), col("pos"),
        concat(expr("substring(s, 1, pos - 1)"),
               expr("substring(s, pos + 1, length(s))")).as("key"))
      // both self-join sides read this L-fold exploded stream — truncate
      // once or the scan+explode runs twice (r16, guide §1.2)
      .cutLineageLazily()
    // The blocking is EXACT, not a candidate filter: equal length (same
    // positions masked), same masked position and same masked key mean the
    // strings can differ only at that position — hamming ≤ 1 by
    // construction, so no edit-distance verification is needed and
    // dist = 0 iff the strings are equal, else 1. (A levenshtein in the
    // join condition would run an O(L²) DP per hash-matched row only to
    // return that same 0/1.)
    masked.as("a")
      .join(masked.as("b"),
        col("a.pos") === col("b.pos") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
              when(col("a.s") === col("b.s"), 0L).otherwise(1L).as("dist"))
      .distinct()
  }

  /** CUBE: all 2^2 grouping sets of (returnflag, linestatus) in one Expand
    * pass — rollup plus the per-status cross-section. */
  def cubePricing(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(duckRound(sum("l_quantity"), 2).as("sum_qty"),
           count(lit(1)).as("count_order"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("count_order"))
      .orderBy("returnflag", "linestatus")

  /** Revenue per part brand (lineitem ⋈ part): the last TPC-H-ish table in
    * the fixture set. part is a dimension → broadcast; lineitem never
    * shuffles for the join, only for the brand aggregate. */
  def brandRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(duckRound(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_lineitems"))
      .orderBy("p_brand")

  /** Pivot: per-user event counts spread into one column per event type —
    * plans as a single groupBy with conditional aggregates (no join, one
    * shuffle), the relational transpose. Pivot values are enumerated
    * explicitly, as a 100 TB pipeline must (value discovery would be a
    * second scan + a driver-side collect). */
  def pivotEvents(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** Set operation (EXCEPT): distinct bigram phrases of English-labelled
    * documents minus those of French-labelled ones (single words are
    * useless here — the synthetic vocabulary is shared — but phrase sets
    * differ). EXCEPT plans as a left-anti hash join on the whole row — no
    * driver-side sets. */
  def vocabExcept(spark: SparkSession, sfDir: String): DataFrame = {
    def phrases(lang: String) = Tables.documents(spark, sfDir)
      .filter(col("lang") === lang)
      .select(explode(call_function("graft_shingles", col("text"), lit(2))).as("phrase"))
      .distinct()
    phrases("en").except(phrases("fr")).orderBy("phrase")
  }

  /** INTERSECT — bigram phrases attested in BOTH the en and fr slices:
    * completes the set-operation family (union: asof/streams, EXCEPT:
    * [[vocabExcept]]). Catalyst plans INTERSECT as a left-semi join over
    * distinct inputs — one shuffle per side on the full row as key. */
  def vocabIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    def phrases(lang: String) = Tables.documents(spark, sfDir)
      .filter(col("lang") === lang)
      .select(explode(call_function("graft_shingles", col("text"), lit(2))).as("phrase"))
      .distinct()
    phrases("en").intersect(phrases("fr")).orderBy("phrase")
  }

  /** Exact interpolated percentiles per event type (holistic aggregate:
    * Spark sorts each group's values — the one aggregate family where
    * map-side combine can't apply; at scale prefer approx_percentile's
    * mergeable sketch, which trades the oracle for a bound). */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(expr("percentile(value, array(0.5, 0.9))").as("pct"),
           count(lit(1)).as("n_events"))
      .select(col("event_type"),
              duckRound(element_at(col("pct"), 1), 4).as("p50"),
              duckRound(element_at(col("pct"), 2), 4).as("p90"),
              col("n_events"))
      .orderBy("event_type")

  /** JSON extraction from the event payload (`props` is a JSON object like
    * `{"k": 87}`): per-k event count and value stats. */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"),
              col("value"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
           duckRound(sum("value"), 4).as("sum_value"))
      .orderBy("k")

  /** TPC-H Q3-style SHIPPING PRIORITY: top-10 unshipped-revenue orders for
    * one market segment — the classic "selective dim filter + two-sided
    * date pruning + top-k of an aggregate" plan the relational set lacked
    * (q5_region is the 6-table star; this is the date-window funnel).
    *
    * 100 TB: both date predicates are scan-side and reach the parquet
    * scans (partition/row-group pruning on a date-partitioned lake);
    * the BUILDING customer slice broadcasts into orders, the qualifying
    * order keys shuffle once against lineitem, revenue partial-aggs per
    * order, and the top-10 is TakeOrderedAndProject — no global sort.
    * Revenue is EXACT integer: cents × (100 − discount-cents) = 10⁻⁴
    * dollars per row (both factors are 2-decimal currency/ratio values,
    * so the per-row product is exact in int64 and the sum is
    * partition-order-proof — no double product to round). */
  def q3Shipping(spark: SparkSession, sfDir: String,
                 segment: String = "BUILDING",
                 cutoff: String = "1998-01-01"): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit(cutoff).cast("date"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit(cutoff).cast("date"))
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100).cast("bigint") *
          (lit(100L) - round(col("l_discount") * 100).cast("bigint"))).as("rev_e4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum("rev_e4").as("revenue_e4"))
      .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
              col("o_orderpriority"), col("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q22-style LAPSED BIG ACCOUNTS: per market segment, the
    * customers whose balance beats the average POSITIVE balance yet who
    * placed no order since the cutoff — the reactivation-target list, and
    * the last classic relational shape the family lacked: a
    * scalar-subquery threshold (computed over a SUB-population) feeding a
    * NOT-EXISTS anti-join.
    *
    * Float discipline: "balance > avg(positive balances)" is a FLOAT
    * threshold whose summation order differs between engines, so it is
    * cross-multiplied into exact integers — `cents · n_pos > sum_cents`
    * (n_pos > 0 always holds here) — making a within-ULP customer flip
    * impossible; sums stay int64-exact to ~10¹⁴ customers.
    *
    * 100 TB: the positive-balance moment is one partial-agg'd 1-row frame
    * (broadcast, never a correlated per-row subquery); the recency set is
    * the date-pruned orders scan distinct-reduced to customer grain; the
    * NOT EXISTS is one LeftAnti shuffle join on customer key; the segment
    * rollup partial-aggs. The DuckDB oracle runs the textbook
    * scalar-subquery + NOT-EXISTS form over the same integers. */
  def lapsedBigAccounts(spark: SparkSession, sfDir: String,
                        cutoff: String = LapsedCutoff): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"),
              round(col("c_acctbal") * 100).cast("bigint").as("cents"))
    val posStats = cust.filter(col("cents") > 0L)
      .agg(count(lit(1)).as("n_pos"), sum("cents").as("sum_cents"))
    val active = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(cutoff).cast("date"))
      .select(col("o_custkey")).distinct()
    cust.join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(posStats))
      .filter(col("cents") * col("n_pos") > col("sum_cents"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_custs"), sum("cents").as("total_acctbal_cents"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q21-style WAITING SUPPLIERS: in completed ('F') orders, find
    * suppliers whose line was LATE (shipped more than `lateDays` after
    * the order date) while EVERY OTHER supplier in the same order shipped
    * on time — the sole-culprit attribution shape, and the one relational
    * form the family still lacked: correlated EXISTS + NOT-EXISTS over
    * the SAME fact table.
    *
    * 100 TB: the textbook form is two correlated self-joins of lineitem
    * (l2: another supplier exists; l3: no other supplier late) — two
    * extra passes over the fact at best, a per-row nested probe at worst.
    * Here both quantifiers FOLD INTO COUNTS on a reduced grain: one scan
    * aggregates to (order, supplier, late-line count) — partial-agg'd,
    * the only fact-mass shuffle — then a window over the order×supplier
    * table (orders-of-magnitude smaller than the fact, partitioned by
    * order key — never a global window) derives n_suppliers and
    * n_late_suppliers per order; EXISTS ⇔ n_suppliers > 1, NOT-EXISTS ⇔
    * n_late_suppliers = 1 on the culprit's own rows. The 'F' slice is
    * ~HALF the orders table — fact-proportional, NOT broadcastable — so
    * its join carries no hint and AQE picks the strategy (broadcast at
    * test SF, shuffle at scale); only the supplier NAME table (a true
    * dim) broadcasts, and top-k is TakeOrderedAndProject. numwait counts
    * late LINES (the
    * Q21 contract: l1 ranges over lines), not late orders. The DuckDB
    * oracle deliberately runs the TEXTBOOK correlated EXISTS/NOT-EXISTS
    * form, so the counting rewrite is differentially PROVEN equivalent
    * to the quantifier semantics (the interval_join discipline). Date
    * arithmetic is exact timestamp + interval on both engines; tie-break
    * pinned (numwait desc, s_name asc — unique). */
  def waitingSuppliers(spark: SparkSession, sfDir: String,
                       lateDays: Int = WaitingLateDays,
                       topK: Int = WaitingTopK): DataFrame = {
    val fOrders = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val perSupp = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(when(col("l_shipdate") >
                      col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"), 1L)
                 .otherwise(0L)).as("late_lines"))
    val byOrder = Window.partitionBy("l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(byOrder))
      .withColumn("n_late_supp",
        sum(when(col("late_lines") > 0L, 1L).otherwise(0L)).over(byOrder))
      .filter(col("n_supp") > 1L && col("n_late_supp") === 1L &&
              col("late_lines") > 0L)
      .groupBy("l_suppkey")
      .agg(sum("late_lines").as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("s_suppkey"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(topK)
  }

  /** Declared default parameters, shared with the SQL oracles (the
    * compactionPlanSql pattern): one definition site, so tuning a default
    * re-derives the oracle instead of silently desynchronizing the gate. */
  val BigSpendersQtyFloor = 250L
  val BigSpendersTopK = 100
  val WaitingLateDays = 90
  val WaitingTopK = 25
  val LapsedCutoff = "2000-07-01"

  /** TPC-H Q18-style LARGE-QUANTITY orders ("big spenders"): aggregate the
    * fact table per order, filter GROUPS on the aggregate (HAVING
    * sum(quantity) > floor), join the qualifying-group frame back to the
    * order/customer detail, top-k. The one relational shape the family
    * still lacked — "aggregate → filter groups → rejoin detail" — distinct
    * from the funnels (row filters) and windows (per-partition ranks).
    *
    * 100 TB: lineitem is scanned ONCE — the per-order quantity sum
    * partial-aggs map-side, and the detail columns the output needs
    * (customer, date, price) come from ORDERS, not from a second fact
    * scan; the group filter IS the join (qualifying keys ⋈ orders — a
    * semi-join carrying the aggregate), never a windowed sum over the
    * detail (which would shuffle the whole fact table to rank rows it
    * then discards). The aggregated side is post-HAVING tiny (~1.4% of
    * orders at floor 250) so AQE broadcast-converts it; customer
    * broadcasts explicitly; the top-k is TakeOrderedAndProject (no global
    * sort). Quantities and prices are exact integers (units / cents);
    * tie-break pinned (price desc, date, orderkey). */
  def bigSpenders(spark: SparkSession, sfDir: String,
                  qtyFloor: Long = BigSpendersQtyFloor,
                  topK: Int = BigSpendersTopK): DataFrame = {
    val qualifying = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), round(col("l_quantity")).cast("bigint").as("q"))
      .groupBy("l_orderkey")
      .agg(sum("q").as("sum_qty"))
      .filter(col("sum_qty") > qtyFloor)
    Tables.orders(spark, sfDir)
      .join(qualifying, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir).select("c_custkey", "c_name")),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
              round(col("o_totalprice") * 100).cast("bigint").as("totalprice_cents"),
              col("sum_qty"))
      .orderBy(col("totalprice_cents").desc, col("orderdate"), col("o_orderkey"))
      .limit(topK)
  }

  /** UNPIVOT (melt): the four lineitem measures turned into long form —
    * the inverse of [[pivotEvents]]' transpose and the one reshaping
    * primitive the relational family still lacked. Each fact row becomes
    * four (measure, value) rows; the long form is then aggregated per
    * (returnflag, measure).
    *
    * 100 TB: unpivot plans as an Expand projection — a narrow, pipelined,
    * shuffle-free 4× row blowup fused into the scan stage (the same node
    * ROLLUP/CUBE ride), and the only shuffle is the map-side-combinable
    * aggregate over the tiny (flag × measure) key space. Values are
    * cents-integers BEFORE the melt so the long-form sum is associative
    * and partition-order-proof. */
  def unpivotMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("bigint").as("l_quantity"),
        round(col("l_extendedprice") * 100).cast("bigint").as("l_extendedprice"),
        round(col("l_discount") * 100).cast("bigint").as("l_discount"),
        round(col("l_tax") * 100).cast("bigint").as("l_tax"))
    cents
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"),
              col("l_discount"), col("l_tax")),
        "measure", "cents")
      .groupBy("l_returnflag", "measure")
      .agg(count(lit(1)).as("n"),
           sum("cents").as("sum_cents"))
      .orderBy("l_returnflag", "measure")
  }

  /** GROUPING SETS: an ASYMMETRIC set list — (flag, status), (status),
    * () — that neither ROLLUP (drops the per-status cross-section) nor
    * CUBE (adds the unwanted per-flag slice) produces: the general form
    * [[rollupPricing]] and [[cubePricing]] are shorthands for. Still one
    * Expand + one partial/final hash aggregate — the set list changes the
    * replication factor (3× here), never the number of scans. Subtotal
    * slots surface as 'ALL' (null-free compare, same convention as the
    * rollup/cube twins). */
  def groupingSetsPricing(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")),
            Seq.empty[org.apache.spark.sql.Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(duckRound(sum("l_quantity"), 2).as("sum_qty"),
           duckRound(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
           count(lit(1)).as("count_order"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("sum_disc_price"), col("count_order"))
      .orderBy("returnflag", "linestatus")

  // ------------------------------------------------------------------
  // Round-10 extension: the remaining classic warehouse query shapes
  // (TPC-H Q7/Q8/Q12/Q14/Q17/Q19 forms over the available columns).
  // Declared defaults shared with the SQL oracles — one definition site,
  // the compactionPlanSql pattern.
  // ------------------------------------------------------------------
  val Q7NationA = "NATION_3"
  val Q7NationB = "NATION_8"
  val Q7StartYear = 1996
  val Q7EndYear = 1997
  val Q8Region = "ASIA"
  val Q8PartType = "PROMO"
  val Q8Nation = "NATION_12"
  val Q8StartYear = 1996
  val Q8EndYear = 1997
  val Q12LateDays = 90
  val Q12StartYear = 1996
  val Q12EndYear = 1997
  val Q12HighPriorities: Seq[String] = Seq("1-URGENT", "2-HIGH")
  val Q14MonthStart = "1997-09-01"
  val Q14MonthEnd = "1997-10-01"
  val Q17Brand = "Brand#3"
  /** (brand, max size, min qty, max qty) — the Q19 bracket list. */
  val Q19Brackets: Seq[(String, Int, Long, Long)] = Seq(
    ("Brand#1", 10, 1L, 15L),
    ("Brand#2", 20, 10L, 25L),
    ("Brand#3", 30, 20L, 35L))

  /** EXACT revenue per line: cents × (100 − discount-cents) = 10⁻⁴
    * dollars — both factors 2-decimal, the per-row product exact in
    * int64, sums partition-order-proof (the [[q3Shipping]] discipline). */
  private def revE4: org.apache.spark.sql.Column =
    round(col("l_extendedprice") * 100).cast("bigint") *
      (lit(100L) - round(col("l_discount") * 100).cast("bigint"))

  /** TPC-H Q7-style NATION TRADE VOLUME: revenue shipped between two
    * nations, per direction per ship-year — the bi-directional
    * dim-pair-slice shape (a supplier-side AND a customer-side selective
    * dimension filter meeting on the fact) the family lacked: q5_region
    * slices ONE region; this slices BOTH ends and keeps the pair grain.
    *
    * 100 TB: both nation slices broadcast into their dimensions
    * (supplier, customer), the sliced customer set broadcasts into
    * orders, the sliced supplier set broadcasts into the date-pruned
    * lineitem scan (ship-window predicate reaches the scan), and the one
    * fact-mass shuffle is lineitem ⋈ orders on the order key; the pair ×
    * year grid partial-aggs map-side. Revenue is exact e4 integers. */
  def q7NationVolume(spark: SparkSession, sfDir: String,
                     nationA: String = Q7NationA,
                     nationB: String = Q7NationB,
                     startYear: Int = Q7StartYear,
                     endYear: Int = Q7EndYear): DataFrame = {
    val pair = Tables.nation(spark, sfDir)
      .filter(col("n_name").isin(nationA, nationB))
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(pair), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(pair), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, sfDir)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(s"$startYear-01-01").cast("date") &&
              col("l_shipdate") < lit(s"${endYear + 1}-01-01").cast("date"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"), revE4.as("rev_e4"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(sum("rev_e4").as("revenue_e4"), count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8-style MARKET SHARE: within one customer region, one part
    * type and an order-year window, the fraction of revenue supplied by
    * one nation, per year — the ratio-of-conditional-aggregates shape
    * (numerator = a CASE slice of the same sum as the denominator,
    * divided at the output edge) the family lacked.
    *
    * Float discipline: both sums are exact e4 integers; the ONLY float
    * op is the final one-per-year division, rounded at 4 dp — a share
    * can never drift with partition order because its inputs are ints
    * (the metric_corr moment discipline applied to a ratio).
    *
    * 100 TB: region→nations→customers chain-broadcasts; the customer
    * slice broadcasts into the date-pruned orders scan; the part-type
    * slice broadcasts into lineitem (p_type reaches the part scan); the
    * supplier map broadcasts; lineitem ⋈ orders is the one fact shuffle;
    * the per-year grid partial-aggs. */
  def q8MarketShare(spark: SparkSession, sfDir: String,
                    region: String = Q8Region,
                    partType: String = Q8PartType,
                    nation: String = Q8Nation,
                    startYear: Int = Q8StartYear,
                    endYear: Int = Q8EndYear): DataFrame = {
    val regNations = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir).filter(col("r_name") === region)),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(regNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
            col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val pt = Tables.part(spark, sfDir)
      .filter(col("p_type") === partType)
      .select(col("p_partkey"))
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(s"$startYear-01-01").cast("date") &&
              col("o_orderdate") < lit(s"${endYear + 1}-01-01").cast("date"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("bigint").as("o_year"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), revE4.as("rev_e4"))
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_year")
      .agg(sum(when(col("supp_nation") === nation, col("rev_e4")).otherwise(0L))
             .as("rev_nation_e4"),
           sum("rev_e4").as("rev_total_e4"))
      .select(col("o_year"), col("rev_nation_e4"), col("rev_total_e4"),
        // zero-denominator guard (the q14PromoShare discipline): a year
        // group with zero total revenue is unreachable with TPC-H-style
        // discounts < 100%, but the declared float discipline is "never
        // emit NaN" — the oracle carries the same CASE
        (when(col("rev_total_e4") === 0L, lit(0.0))
          .otherwise(duckRound(col("rev_nation_e4").cast("double") /
                     col("rev_total_e4").cast("double"), 4)) + lit(0.0)).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q12-style LATE-LINE PRIORITY counts: among lines shipped LATE
    * (more than `lateDays` after the order date — the [[waitingSuppliers]]
    * lateness notion) in a ship-year window, per line status: how many
    * belonged to high-priority orders vs low — the
    * conditional-two-way-count-after-join shape (Q12's
    * CASE-on-the-OTHER-table's-attribute trick) the family lacked:
    * pivot_events pivots one table's own column; here the CASE tests the
    * JOINED dimension's attribute.
    *
    * 100 TB: the ship-window predicate reaches the lineitem scan; orders
    * arrives projected to (key, date, priority) only; the join is the one
    * fact shuffle (two fact-sized tables — no broadcast); lateness is
    * exact timestamp + interval on both engines; both counts partial-agg
    * map-side over the |statuses|-row grid. */
  def q12LateLines(spark: SparkSession, sfDir: String,
                   lateDays: Int = Q12LateDays,
                   startYear: Int = Q12StartYear,
                   endYear: Int = Q12EndYear): DataFrame = {
    val isHigh = col("o_orderpriority").isin(Q12HighPriorities: _*)
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(s"$startYear-01-01").cast("date") &&
              col("l_shipdate") < lit(s"${endYear + 1}-01-01").cast("date"))
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
              .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy("l_linestatus")
      .agg(sum(when(isHigh, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(isHigh, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** TPC-H Q14-style PROMO SHARE: over one ship-month, the percentage of
    * revenue coming from promo-type parts — the single-row
    * filtered-fraction report (Q8's ratio shape collapsed to a scalar
    * KPI, the canonical "what % of X is Y" pipeline health metric).
    *
    * 100 TB: the month window reaches the lineitem scan (one month of a
    * date-partitioned lake — partition pruning does the work); the part
    * side arrives projected to (key, type) and broadcasts; one
    * partial-agg to a single row; exact e4 integer sums, one final
    * rounded division. */
  def q14PromoShare(spark: SparkSession, sfDir: String,
                    partType: String = Q8PartType,
                    monthStart: String = Q14MonthStart,
                    monthEnd: String = Q14MonthEnd): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(monthStart).cast("date") &&
              col("l_shipdate") < lit(monthEnd).cast("date"))
      .select(col("l_partkey"), revE4.as("rev_e4"))
      .join(broadcast(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
      .agg(coalesce(sum(when(col("p_type") === partType, col("rev_e4")).otherwise(0L)),
             lit(0L)).as("promo_rev_e4"),
           coalesce(sum("rev_e4"), lit(0L)).as("total_rev_e4"))
      .select(col("promo_rev_e4"), col("total_rev_e4"),
        // empty-window guard mirrored in the oracle: 0-revenue month → 0%
        (when(col("total_rev_e4") === 0L, lit(0.0))
          .otherwise(duckRound(lit(100.0) * col("promo_rev_e4").cast("double") /
                     col("total_rev_e4").cast("double"), 4)) + lit(0.0)).as("promo_pct"))

  /** TPC-H Q17-style SMALL-ORDER revenue: for one brand's parts, the
    * lines whose quantity is below 20% of that PART's average quantity —
    * the per-group-scalar-threshold-back-on-detail shape (each row
    * compared against an aggregate of its own group) the family lacked:
    * big_spenders filters GROUPS on the aggregate; this filters ROWS.
    *
    * Float discipline: "qty < 0.2 · avg(qty)" is cross-multiplied into
    * exact integers — `5 · qty · n_lines < sum_qty` (quantities are
    * integral units) — so a within-ULP line can never flip between
    * engines (the lapsed_big_accounts threshold discipline).
    *
    * 100 TB: the textbook form re-scans the fact for the per-part
    * average (a correlated subquery). Here the brand slice broadcasts
    * FIRST — the window over l_partkey then shuffles only the brand's
    * lines (a ~|brand|/|brands| sliver of the fact), never the full
    * table; the per-part moments ride one window pass over that sliver;
    * the final report partial-aggs to one row. The DuckDB oracle
    * deliberately RUNS the textbook correlated form, so the window
    * rewrite is differentially proven equivalent (the waiting_suppliers
    * discipline). */
  def q17SmallOrders(spark: SparkSession, sfDir: String,
                     brand: String = Q17Brand): DataFrame = {
    val pts = Tables.part(spark, sfDir)
      .filter(col("p_brand") === brand)
      .select(col("p_partkey"))
    val byPart = Window.partitionBy("l_partkey")
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
              round(col("l_quantity")).cast("bigint").as("qty"),
              round(col("l_extendedprice") * 100).cast("bigint").as("price_cents"))
      .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
      .withColumn("n_lines_part", count(lit(1)).over(byPart))
      .withColumn("sum_qty_part", sum("qty").over(byPart))
      .filter(col("qty") * lit(5L) * col("n_lines_part") < col("sum_qty_part"))
      .agg(count(lit(1)).as("n_small_lines"),
           coalesce(sum("price_cents"), lit(0L)).as("sum_price_cents"))
  }

  /** TPC-H Q19-style DISJUNCTIVE BRACKETS: revenue from lines matching
    * any of three (brand, size-range, quantity-range) brackets — the
    * OR-of-ANDs-across-both-tables shape that is the classic pushdown
    * trap: the disjunct references BOTH join sides, so no engine can push
    * it whole, and the naive form degrades to a filtered cartesian.
    *
    * The rewrite (and what the spec gates): the join stays the plain
    * partkey EQUI-join, the full disjunct is a post-join filter, and each
    * side gets its DERIVED single-side implication pushed to its scan —
    * the part side keeps only rows satisfying the brand/size disjunction,
    * the lineitem side only the overall quantity envelope [min lo, max
    * hi]. At 100 TB the envelope predicate prunes the fact scan and the
    * bracket-sliced part side broadcasts; no nested-loop join exists in
    * the plan (PlanSpec-gated, the interval_join discipline). Revenue is
    * exact e4 integers; quantities integral units. */
  def q19Brackets(spark: SparkSession, sfDir: String,
                  brackets: Seq[(String, Int, Long, Long)] = Q19Brackets): DataFrame = {
    val qtyLo = brackets.map(_._3).min
    val qtyHi = brackets.map(_._4).max
    val partSide = brackets.map { case (b, sz, _, _) =>
      col("p_brand") === b && col("p_size").between(1, sz)
    }.reduce(_ || _)
    val full = brackets.map { case (b, sz, lo, hi) =>
      col("p_brand") === b && col("p_size").between(1, sz) &&
        col("qty").between(lo, hi)
    }.reduce(_ || _)
    Tables.lineitem(spark, sfDir)
      // derived scan envelope in RAW units, widened by the rounding
      // half-width so it stays an implication of the rounded bracket
      // test below even on fractional quantities (integral in the driver
      // data, where this is exactly [lo, hi])
      .filter(col("l_quantity") >= qtyLo.toDouble - 0.5 &&
              col("l_quantity") < qtyHi.toDouble + 0.5)
      .select(col("l_partkey"),
              round(col("l_quantity")).cast("bigint").as("qty"),
              revE4.as("rev_e4"))
      .join(broadcast(Tables.part(spark, sfDir)
                        .filter(partSide)
                        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
      .filter(full)
      .agg(count(lit(1)).as("n_lines"),
           coalesce(sum("rev_e4"), lit(0L)).as("revenue_e4"))
  }

  /** MERGEABLE FREQUENCY-SKETCH ROLLUP — completes the sketch cube family
    * ([[sketchRollup]] merges KMV distinct states; quantile_rollup merges
    * histogram states; this merges Count-Min FREQUENCY grids): per-cell
    * CMS grids persist per event type, and the global grid is derived by
    * ELEMENTWISE SUM of the stored grids alone — counter addition is
    * associative, so the merged grid is bit-identical to one built
    * directly over all events (spec-proven), and any coarser rollup can
    * answer "how often does THIS key occur" without rescanning the
    * corpus.
    *
    * 100 TB: level 1 is [[graft.operators.TextAnalysis.freqSketch]]'s
    * contract — one fixed `depth × width` buffer per group per map
    * partition in the shuffle; level 2's input is |groups| · depth·width
    * longs (metadata-sized); probes ride a TakeOrderedAndProject and the
    * one-row merged grid broadcasts. The salted-md5 cell hash is
    * SQL-replayable, so the whole two-level structure hash-matches
    * DuckDB. */
  val Q4StartDate = "1996-01-01"
  val Q4EndDate = "1997-01-01"
  val Q6Year = 1996
  // half-cent guard band around the 5–7% discount bracket: the raw DOUBLE
  // predicate pushes to the parquet scan (a rounded-cents column would
  // not), and every stored value is an exact hundredth, so the band is
  // unambiguous on both engines.
  val Q6DiscLo = 0.04999
  val Q6DiscHi = 0.07001
  val Q6QtyCap = 24.0
  val Q10StartDate = "1997-01-01"
  val Q10EndDate = "1997-07-01"
  val Q10TopK = 20
  val Q13ExcludedPriority = "4-NOT SPECIFIED"
  val Q15StartDate = "1996-01-01"
  val Q15EndDate = "1996-04-01"
  val FreqRollupDepth = 4
  val FreqRollupWidth = 256
  val FreqRollupTopN = 10

  /** TPC-H Q4-style PRIORITY EXISTS count: orders in a date window having
    * AT LEAST ONE late line, counted per priority — the
    * EXISTS-as-semi-join shape over the fact: an inner join would count an
    * order once per late line; the semi-join's "at most once" contract IS
    * the EXISTS semantics, and the spec gates that the plan keeps it a
    * LeftSemi (never a join + distinct).
    *
    * 100 TB: the date window reaches the orders scan; the semi-join
    * shuffles on the order key once (the correlated date comparison rides
    * the join as a residual condition — still hash, the equi key is
    * present); the priority rollup partial-aggs to |priorities| rows. */
  def q4PriorityExists(spark: SparkSession, sfDir: String,
                       startDate: String = Q4StartDate,
                       endDate: String = Q4EndDate,
                       lateDays: Int = WaitingLateDays): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(startDate).cast("date") &&
              col("o_orderdate") < lit(endDate).cast("date"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    ord.join(Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_shipdate")),
             col("l_orderkey") === col("o_orderkey") &&
               col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
             "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6-style REVENUE FORECAST: the canonical PUSHDOWN benchmark —
    * a single filtered scan-and-sum with three scan-side predicates
    * (date window, discount band, quantity cap) and NO join: the query
    * whose entire cost is how much of the fact the scan can skip.
    * Forecast revenue = price × discount (the discount mass itself).
    *
    * 100 TB: all three predicates reach the parquet scan (PushedFilters —
    * spec-gated); on a date-partitioned lake the window prunes
    * partitions and min/max row-group stats prune the rest; the sum
    * partial-aggs to one row. Exact e4 integers (cents × discount-cents). */
  def q6Forecast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(s"$Q6Year-01-01").cast("date") &&
              col("l_shipdate") < lit(s"${Q6Year + 1}-01-01").cast("date") &&
              col("l_discount") >= Q6DiscLo && col("l_discount") <= Q6DiscHi &&
              col("l_quantity") < Q6QtyCap)
      .select((round(col("l_extendedprice") * 100).cast("bigint") *
               round(col("l_discount") * 100).cast("bigint")).as("disc_e4"))
      .agg(coalesce(sum("disc_e4"), lit(0L)).as("revenue_e4"),
           count(lit(1)).as("n_lines"))

  /** TPC-H Q10-style RETURNED-ITEM REPORT: top customers by revenue lost
    * to returns in a date window — the top-k-of-aggregate shape where the
    * GROUP carries the dimension detail columns (name, nation, balance):
    * the group-by key is wide but functionally determined by the customer
    * key, so the aggregate state stays one row per customer.
    *
    * 100 TB: the return-flag predicate reaches the lineitem scan, the
    * date window the orders scan; customer and nation broadcast; the one
    * fact shuffle is lineitem ⋈ orders; top-k is TakeOrderedAndProject.
    * Exact e4 revenue; tie-break pinned (revenue desc, custkey). */
  def q10Returns(spark: SparkSession, sfDir: String,
                 startDate: String = Q10StartDate,
                 endDate: String = Q10EndDate,
                 topK: Int = Q10TopK): DataFrame = {
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit(startDate).cast("date") &&
              col("o_orderdate") < lit(endDate).cast("date"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
            col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
              round(col("c_acctbal") * 100).cast("bigint").as("acctbal_cents"),
              col("n_name").as("nation"))
    Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revE4.as("rev_e4"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum("rev_e4").as("revenue_e4"), count(lit(1)).as("n_return_lines"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("nation"),
              col("acctbal_cents"), col("revenue_e4"), col("n_return_lines"))
      .orderBy(col("revenue_e4").desc, col("c_custkey").asc)
      .limit(topK)
  }

  /** TPC-H Q13-style ORDER-COUNT DISTRIBUTION: how many customers placed
    * exactly k qualifying orders, INCLUDING k = 0 — the outer-join +
    * count-of-counts shape: an inner join silently drops the zero-order
    * customers, and the zero bucket is usually the business answer. The
    * exclusion predicate (one priority class) plays Q13's
    * not-like-comment role.
    *
    * 100 TB: the per-customer count rides the one customer-key shuffle
    * (left outer, fact side pre-filtered scan-side); the distribution
    * aggregate's input is |customers| rows and its output |distinct
    * counts| — metadata-sized. count(o_orderkey) over the outer join
    * yields 0 for unmatched customers exactly (COUNT skips the null
    * column), no CASE needed on either engine. */
  def q13OrderCounts(spark: SparkSession, sfDir: String,
                     excludedPriority: String = Q13ExcludedPriority): DataFrame =
    q13OrderCountsFrom(Tables.customer(spark, sfDir),
                       Tables.orders(spark, sfDir), excludedPriority)

  /** [[q13OrderCounts]] over explicit customer/orders frames — the zero
    * bucket needs a zero-order customer to show, which the spec plants. */
  def q13OrderCountsFrom(customer: DataFrame, orders: DataFrame,
                         excludedPriority: String = Q13ExcludedPriority): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders
              .filter(col("o_orderpriority") =!= excludedPriority)
              .select(col("o_orderkey"), col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q15-style TOP REVENUE SUPPLIER: suppliers whose quarter
    * revenue EQUALS the global maximum — the
    * aggregate-then-scalar-max-equality shape (Q15's view + subquery),
    * distinct from top-k: ties are part of the contract, and the
    * equality only works because revenue is an EXACT integer (a float
    * max-equality would be engine-dependent at the ULP).
    *
    * 100 TB: per-supplier revenue partial-aggs from the date-pruned
    * scan to |suppliers| rows; the max is a 1-row broadcast back onto
    * that same frame (no second fact scan — spec-gated); supplier names
    * broadcast. */
  def q15TopRevenue(spark: SparkSession, sfDir: String,
                    startDate: String = Q15StartDate,
                    endDate: String = Q15EndDate): DataFrame = {
    // the explicit isNotNull makes BOTH consumers of this frame (the max
    // branch and the equality branch, which inherits it from the supplier
    // join's constraint) share one canonical subplan, so Spark's exchange
    // reuse materializes the per-supplier aggregate ONCE — without it the
    // two branches differ by the pushed null filter and the fact is
    // scanned twice (spec-gated via ReusedQueryStage).
    val perSupp = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(startDate).cast("date") &&
              col("l_shipdate") < lit(endDate).cast("date") &&
              col("l_suppkey").isNotNull)
      .select(col("l_suppkey"), revE4.as("rev_e4"))
      .groupBy("l_suppkey")
      .agg(sum("rev_e4").as("total_revenue_e4"))
    val best = perSupp.agg(max("total_revenue_e4").as("max_rev"))
    perSupp
      .crossJoin(broadcast(best))
      .filter(col("total_revenue_e4") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, sfDir).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_e4"))
      .orderBy("s_suppkey")
  }

  def freqRollup(spark: SparkSession, sfDir: String,
                 depth: Int = FreqRollupDepth, width: Int = FreqRollupWidth,
                 topn: Int = FreqRollupTopN): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
    val perType = ev.groupBy("event_type")
      .agg(call_function("graft_cms",
        col("uid"), lit(1L), lit(depth), lit(width)).as("grid"))
    // merged grid = elementwise sum of the per-type grids, rebuilt in cell
    // order — depth·width longs per group, metadata-sized at any corpus.
    val merged = perType
      .select(posexplode(col("grid")))
      .toDF("pos", "cell")
      .groupBy("pos").agg(sum("cell").as("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cell")))),
                     s => s.getField("cell")).as("grid"))
    // probe read-out via the shared CMS reader (TextAnalysis.cmsEstimates):
    // the salt convention and 1-based cell offset live in one place
    TextAnalysis.cmsEstimates(
      ev.groupBy("uid").agg(count(lit(1)).as("exact_count")),
      merged, depth, width, topn, keyCol = "uid")
  }

  val JoinSizeDepth = 5
  val JoinSizeWidth = 1024

  /** SKETCH-BASED JOIN-SIZE ESTIMATION (AMS, STOC '96; the Count-Sketch
    * F₂ estimator) — the sketch cube applied to QUERY PLANNING: the cost
    * model behind every join-order / broadcast-vs-shuffle decision needs
    * |A ⋈ B| BEFORE running the join. Instantiated on the hardest case, a
    * SELF-join (lineitem ⋈ lineitem on l_partkey — the M:N fanout shape
    * where mis-estimation actually hurts), whose true size `Σ_k c_k²` is
    * the second frequency moment F₂. The estimator is the SIGNED sketch:
    * per depth row, each key's count enters one of `width` cells weighted
    * by a hash-derived ±1 sign, and `Σ_j cell_j²` is an UNBIASED F₂
    * estimate — cross-key collision terms carry independent sign products
    * and cancel in expectation, where the unsigned CMS row read-out
    * `Σ cell²` overestimates by ~N²/width on every M:N key set (signs are
    * WHY Count-Sketch, not Count-Min, is the join-size sketch). The
    * reported estimate is the exact lower median over `depth` rows
    * (deterministic — no float percentile), relative error ~√(2/width).
    *
    * Sign and bucket come from ONE `graft_hash64(i:key)` draw (bucket =
    * low bits via `% width`, sign = bit 32 — disjoint bits, and the salt
    * format is [[graft.functions.expressions.CmsKernel]]'s), so the whole
    * sketch replays integer-exactly in the SQL oracle: the APPROXIMATE
    * estimate hash-matches DuckDB (the freq_sketch philosophy —
    * approximate in cost, exact in check).
    *
    * 100 TB: the exact side partial-aggregates the fact scan to per-key
    * counts once (the same aggregate the join itself would shuffle); the
    * sketch side explodes those counts ×depth and partial-aggs into
    * depth·width cells — metadata-sized, mergeable by elementwise sum
    * (the [[freqRollup]] contract), so a planner can maintain it per
    * ingest batch and answer join-size questions without touching data.
    * In production the per-key aggregate itself is skipped: raw keys
    * update cells directly at weight 1 (addition is associative; the
    * pre-aggregated form here exists so the exact answer shares the
    * scan). */
  def joinSizeEstimate(spark: SparkSession, sfDir: String,
                       depth: Int = JoinSizeDepth,
                       width: Int = JoinSizeWidth): DataFrame = {
    val counts = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").cast("string").as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("c"))
    // weighted updates over the pre-aggregated counts — bit-identical to
    // the raw weight-1 grid the streaming twin maintains (sum of signed
    // updates is associative; the freq_sketch precedent, spec-gated)
    val cells = amsCells(counts.select(col("pk"), col("c").as("w")), depth, width)
    joinSizeReport(spark, sfDir, amsEstimate(cells, depth))
  }

  val JoinSizeCrossWidth = 65536

  /** CROSS-TABLE JOIN-SIZE ESTIMATION — [[joinSizeEstimate]]'s general
    * form, the one a planner actually asks: |A ⋈ B| for two DIFFERENT
    * tables (events ⋈ orders on the user/customer key — a genuine M:N
    * cross join in the driver data), estimated as the INNER PRODUCT of
    * their signed sketches: `Σ_j cellA[i][j]·cellB[i][j]` is unbiased for
    * `Σ_k a_k·b_k` because both tables sketch with the SAME `(i:key)`
    * hash — a shared key lands in the same bucket with the same sign and
    * contributes a_k·b_k exactly, while cross-key collision terms carry
    * independent sign products and cancel in expectation (AMS's original
    * theorem — the self-join form is the special case A = B). Per-row
    * standard error is √(F₂(A)·F₂(B)/width)/|A ⋈ B|, so the cross form
    * ships a wider grid (65536 buckets — still 2.5 MiB per table, and
    * the error SHRINKS with scale: the true join size grows like the
    * count product while the noise grows like its square root).
    *
    * The exact side never joins fact mass either: truth = the two per-key
    * COUNT tables equi-joined (|keysA ∩ keysB| rows — metadata) and
    * `Σ wa·wb` summed. 100 TB: both sketches partial-agg and merge by
    * elementwise sum per ingest batch (the [[freqRollup]] contract); the
    * inner product touches depth·width longs. */
  def joinSizeCross(spark: SparkSession, sfDir: String,
                    depth: Int = JoinSizeDepth,
                    width: Int = JoinSizeCrossWidth): DataFrame = {
    val ea = Tables.events(spark, sfDir).filter(col("user_id").isNotNull)
      .select(col("user_id").cast("string").as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("w"))
    val ob = Tables.orders(spark, sfDir)
      .select(col("o_custkey").cast("string").as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("w"))
    val exact = ea.as("a").join(ob.as("b"), "pk")
      .agg(sum(col("a.w") * col("b.w")).as("exact_pairs"))
    val ca = amsCells(ea, depth, width)
    val cb = amsCells(ob, depth, width)
    val est = medianRowEstimate(
      ca.as("ca")
        .join(cb.as("cb"), col("ca.i") === col("cb.i") && col("ca.b") === col("cb.b"))
        .groupBy(col("ca.i")).agg(sum(col("ca.cell") * col("cb.cell")).as("row_est"))
        .select(col("i"), col("row_est")),
      depth)
    exact.crossJoin(broadcast(est))
      .select(col("exact_pairs"), col("est_pairs"),
        expr("(est_pairs - exact_pairs) * 1000 div exact_pairs").as("err_permille"))
  }

  /** The signed-sketch cell table over `(pk, w)` update rows: one
    * `graft_hash64(i:pk)` draw per depth row supplies bucket (low bits)
    * and ±1 sign (bit 32); cell = Σ sign·w. ONE definition site shared by
    * the batch query (w = per-key count) and the streaming twin (w = 1
    * per arriving row) — associativity makes the two grids bit-identical,
    * and the spec proves it. */
  private[graft] def amsCells(updates: DataFrame, depth: Int, width: Int): DataFrame =
    updates
      .select(col("pk"), col("w"),
              explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .withColumn("h", call_function("graft_hash64",
        concat(col("i").cast("string"), lit(":"), col("pk"))))
      .withColumn("sgn", expr("cast(1 - 2 * ((h div 4294967296) % 2) as bigint)"))
      .groupBy(col("i"), (col("h") % width).as("b"))
      .agg(sum(col("sgn") * col("w")).as("cell"))

  /** Per-row signed AMS updates for MULTI-SIDE maintenance, keyed by the
    * (tbl, key) side each row belongs to — the scan-side arithmetic of
    * [[amsCells]] with the side id carried through, PLUS one synthetic
    * COUNT row per input row (`i = -1, b = 0, +1`): summing the grid then
    * yields every side's cell grid AND its non-null row count from ONE
    * complete-mode aggregate (structured streaming allows a single
    * aggregate per query, and a side's n_rows is itself just an
    * associative signed sum). Input: `(tbl, key, pk)` non-null rows;
    * output: `(tbl, key, i, b, upd)`. */
  private[graft] def amsUpdatesKeyed(rows: DataFrame, depth: Int,
                                     width: Int): DataFrame = {
    val sketch = rows
      .select(col("tbl"), col("key"), col("pk"),
              explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .withColumn("h", call_function("graft_hash64",
        concat(col("i").cast("string"), lit(":"), col("pk"))))
      .select(col("tbl"), col("key"), col("i"), (col("h") % width).as("b"),
              expr("cast(1 - 2 * ((h div 4294967296) % 2) as bigint)").as("upd"))
    val counts = rows.select(col("tbl"), col("key"), lit(-1).as("i"),
                             lit(0L).as("b"), lit(1L).as("upd"))
    sketch.unionByName(counts)
  }

  /** Lower-median-of-rows F₂ read-out over a materialized cell table —
    * shared with the streaming twin, whose state store maintains exactly
    * these `(i, b, cell)` rows. */
  private[graft] def amsEstimate(cells: DataFrame, depth: Int): DataFrame =
    medianRowEstimate(
      cells.groupBy("i").agg(sum(col("cell") * col("cell")).as("row_est")),
      depth)

  /** Densify per-row estimates to the FULL depth before the median read:
    * a depth row with no surviving cells (empty table; a cross pair whose
    * sketches share no populated (i, b) cell) means its F₂ / inner-product
    * contribution is exactly 0, not absent — without the densify,
    * `element_at(rs, depth/2 + 1)` over the short array reads past the end
    * and the estimate silently becomes NULL on degenerate inputs (r11
    * ADVICE). A `spark.range(depth)` left join is metadata-sized. */
  private[graft] def medianRowEstimate(rowEsts: DataFrame, depth: Int): DataFrame = {
    val full = rowEsts.sparkSession.range(depth)
      .select(col("id").cast("int").as("i"))
    full.join(rowEsts, Seq("i"), "left")
      .select(coalesce(col("row_est"), lit(0L)).as("row_est"))
      .agg(sort_array(collect_list("row_est")).as("rs"))
      .select(element_at(col("rs"), depth / 2 + 1).as("est_pairs"))
  }

  // ------------------------------------------------------------------
  // Plan advisor (round 12): the AMS sketches wired into a plan decision
  // ------------------------------------------------------------------

  /** The advisor's declared bytes-per-row calibration: side size is
    * modeled as `n_rows · 64` — deliberately a DECLARED constant (not a
    * measured width) so the whole decision chain replays integer-exactly
    * in the oracle; PlanSpec is where the model meets Spark's actual
    * file-size statistic and the verdicts are gated against real plans. */
  val AdvisorRowBytes = 64L

  /** The candidate joins of the driver schema the advisor prices:
    * (join_name, left table, left key, right table, right key) — a tiny
    * dim join, two mid dim joins, the FK fact join, and the M:N
    * events×orders cross — one definition site shared with the SQL
    * oracle generator. */
  private[graft] val AdvisorJoins: Seq[(String, String, String, String, String)] = Seq(
    ("customer_nation_dim", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events_orders_mn", "events", "user_id", "orders", "o_custkey"),
    ("lineitem_orders_fk", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part_dim", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders_customer_dim", "orders", "o_custkey", "customer", "c_custkey"))

  /** The distinct (table, key) sides the candidates touch. */
  private[graft] def advisorSides: Seq[(String, String)] =
    AdvisorJoins.flatMap(j => Seq((j._2, j._3), (j._4, j._5))).distinct

  /** Per-key weight rows `(pk, w)` of one side — the [[amsCells]] input. */
  private def advisorSide(spark: SparkSession, sfDir: String,
                          table: String, key: String): DataFrame = {
    advisorTable(spark, sfDir, table)
      .select(col(key).cast("string").as("pk"))
      .filter(col("pk").isNotNull)
      .groupBy("pk").agg(count(lit(1)).as("w"))
  }

  /** The raw table behind one advisor side — shared by the sketch builder,
    * [[advisedJoin]]'s executed joins, and the streaming grid maintainer. */
  private[graft] def advisorTable(spark: SparkSession, sfDir: String,
                                  table: String): DataFrame = table match {
    case "events"   => Tables.events(spark, sfDir)
    case "orders"   => Tables.orders(spark, sfDir)
    case "lineitem" => Tables.lineitem(spark, sfDir)
    case "customer" => Tables.customer(spark, sfDir)
    case "part"     => Tables.part(spark, sfDir)
    case "nation"   => Tables.nation(spark, sfDir)
  }

  /** Build (or fingerprint-validated reuse) the PERSISTED planner
    * statistics: one signed AMS grid per (table, key) side — the
    * [[joinSizeCross]] wide grid, all sides sketched with the SAME
    * per-depth hash so any pair inner-products — plus per-side non-null
    * row counts. This is the store a planner maintains per ingest batch
    * (cells merge by elementwise sum, counts add); pricing a NEW
    * candidate join later costs a metadata join against this table,
    * never a data scan. Returns the table prefix. */
  def ensureJoinSketches(spark: SparkSession, sfDir: String,
                         depth: Int = JoinSizeDepth,
                         width: Int = JoinSizeCrossWidth): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val prefix = s"graft_plansk_${sf}_${graft.sources.Warehouse.pathToken(sfDir)}_d${depth}w$width"
    val fp = advisorSides.map(_._1).distinct.sorted
      .map(t => graft.sources.Warehouse.sourceFingerprint(sfDir, t))
      .mkString("|") + s"|d${depth}w$width"
    graft.sources.Warehouse.ensureDerivedTables(spark,
      Seq(s"${prefix}_cells", s"${prefix}_stats"), fp) {
      val (cells, stats) = sketchFrames(
        (t, k) => advisorSide(spark, sfDir, t, k), depth, width)
      graft.sources.Warehouse.writeBucketed(cells, Seq("i", "b"),
        s"${prefix}_cells", 8)
      graft.sources.Warehouse.writeBucketed(stats, Seq("tbl"),
        s"${prefix}_stats", 1)
    }
    prefix
  }

  /** The store frames — one tagged cell grid + one count row per advisor
    * side — from a caller-supplied per-side `(pk, w)` source: the whole
    * corpus ([[ensureJoinSketches]]), a key split ([[ensureJoinSketchesCycle]]'s
    * base build and delta append). */
  private def sketchFrames(sideRows: (String, String) => DataFrame,
                           depth: Int, width: Int): (DataFrame, DataFrame) = {
    val cells = advisorSides.map { case (t, k) =>
      amsCells(sideRows(t, k), depth, width)
        .select(lit(t).as("tbl"), lit(k).as("key"),
                col("i"), col("b"), col("cell"))
    }.reduce(_ unionByName _)
    val stats = advisorSides.map { case (t, k) =>
      sideRows(t, k)
        .agg(coalesce(sum("w"), lit(0L)).as("n_rows"))
        .select(lit(t).as("tbl"), lit(k).as("key"), col("n_rows"))
    }.reduce(_ unionByName _)
    (cells, stats)
  }

  /** One side's weight rows restricted to a key shard — the cycle's
    * base/delta split. Splitting by KEY VALUE (`key % 10`) keeps each
    * key's whole weight in one shard, and the split is integer SQL the
    * oracle could replay — though it never needs to: cells and counts
    * merge by addition, so base + delta ≡ whole is what the shared
    * full-build oracle proves. */
  private def advisorSideSplit(spark: SparkSession, sfDir: String,
                               table: String, key: String,
                               delta: Boolean): DataFrame =
    advisorTable(spark, sfDir, table)
      .filter(col(key).isNotNull &&
        (if (delta) col(key) % 10 === 0 else col(key) % 10 =!= 0))
      .select(col(key).cast("string").as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("w"))

  /** Build-then-append the planner-stats store — the claim in
    * [[ensureJoinSketches]]'s contract ("mergeable per ingest batch, so
    * it never re-runs whole") MAINTAINED and driver-hash-PROVEN instead
    * of asserted: the base store is built from the `key % 10 ≠ 0` shard
    * only, the delta shard's cells/counts are then APPENDED as new rows
    * (bucketed file appends — nothing rewritten, the
    * [[graft.operators.IncrementalDedup.appendToIndex]] physics), and
    * [[advisorVerdicts]]' read-side sum-combine makes appended ≡
    * single-row-store by associativity. Fingerprint lifecycle is the
    * media `cyc` discipline: `cyc-full` → serve directly; a crash
    * anywhere mid-append leaves the in-flight marker and the next run
    * rebuilds the base and re-appends — never a silently half-extended
    * store. */
  def ensureJoinSketchesCycle(spark: SparkSession, sfDir: String,
                              depth: Int = JoinSizeDepth,
                              width: Int = JoinSizeCrossWidth): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val prefix = s"graft_planskcyc_${sf}_${graft.sources.Warehouse.pathToken(sfDir)}_d${depth}w$width"
    val tables = Seq(s"${prefix}_cells", s"${prefix}_stats")
    val fpSrc = advisorSides.map(_._1).distinct.sorted
      .map(t => graft.sources.Warehouse.sourceFingerprint(sfDir, t))
      .mkString("|")
    val fpBase = fpSrc + s"|cyc-base|d${depth}w$width"
    val fpFull = fpSrc + s"|cyc-full|d${depth}w$width"
    val current = tables.forall(t => spark.catalog.tableExists(t) &&
      graft.sources.Warehouse.storedFingerprint(spark, t).contains(fpFull))
    if (!current) {
      graft.sources.Warehouse.ensureDerivedTables(spark, tables, fpBase) {
        val (cells, stats) = sketchFrames(
          (t, k) => advisorSideSplit(spark, sfDir, t, k, delta = false),
          depth, width)
        graft.sources.Warehouse.writeBucketed(cells, Seq("i", "b"),
          s"${prefix}_cells", 8)
        graft.sources.Warehouse.writeBucketed(stats, Seq("tbl"),
          s"${prefix}_stats", 1)
      }
      tables.foreach(t =>
        graft.sources.Warehouse.stampFingerprint(spark, t, "append-in-flight"))
      val (dCells, dStats) = sketchFrames(
        (t, k) => advisorSideSplit(spark, sfDir, t, k, delta = true),
        depth, width)
      graft.sources.Warehouse.appendBucketed(dCells, Seq("i", "b"),
        s"${prefix}_cells", 8)
      graft.sources.Warehouse.appendBucketed(dStats, Seq("tbl"),
        s"${prefix}_stats", 1)
      tables.foreach(t =>
        graft.sources.Warehouse.stampFingerprint(spark, t, fpFull))
    }
    prefix
  }

  /** ADVISOR STORE MAINTENANCE CYCLE (`advisor_cycle`) — serve the SAME
    * verdict frame as [[planAdvisor]] from the build-then-append store
    * ([[ensureJoinSketchesCycle]]): the oracle is `plan_advisor`'s
    * full-build replay verbatim, so base-build + delta-append ≡
    * build-whole is proven by the driver hash every round (the
    * media_dup_cycle discipline applied to planner statistics). */
  def advisorCycle(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = ensureJoinSketchesCycle(spark, sfDir)
    advisorVerdicts(spark, spark.table(s"${prefix}_cells"),
                    spark.table(s"${prefix}_stats"))
  }

  /** PLAN ADVISOR — the AMS sketches finally DECIDING something: for
    * every candidate join, the estimated output cardinality from the
    * persisted signed sketches (the [[joinSizeCross]] inner product —
    * answered without touching either table) and the broadcast-vs-shuffle
    * verdict from Spark's own decision rule: broadcast iff the smaller
    * side's modeled bytes (`n_rows · `[[AdvisorRowBytes]]) fit the
    * SESSION'S `spark.sql.autoBroadcastJoinThreshold` — the advisor reads
    * the live conf, so tightening the threshold flips its verdicts
    * exactly as it flips Spark's (PlanSpec gates both directions against
    * executed plans). `build_side` is the smaller side (the hash-build /
    * broadcast side a planner picks).
    *
    * 100 TB: everything reads the metadata-sized persisted store —
    * pricing all candidates costs |candidates|·depth·width cell joins;
    * the one scan per side was paid at [[ensureJoinSketches]] build (and
    * is mergeable per ingest batch, so it never re-runs whole). */
  def planAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = ensureJoinSketches(spark, sfDir)
    advisorVerdicts(spark, spark.table(s"${prefix}_cells"),
                    spark.table(s"${prefix}_stats"))
  }

  /** The advisor's verdict computation over EXPLICIT cell/stat frames —
    * extracted so the stream-maintained grid
    * ([[graft.streaming.EventStreams.streamPlanAdvisorQuery]]) serves the
    * SAME decision arithmetic as the persisted batch store: cells
    * `(tbl, key, i, b, cell)`, stats `(tbl, key, n_rows)`. */
  private[graft] def advisorVerdicts(spark: SparkSession, cells0: DataFrame,
                                     stats0: DataFrame): DataFrame = {
    import spark.implicits._
    // PIVOTED inner products (r15 optimization — guide §2.4, remove the
    // shuffle-heavy self-join): the previous form pre-aggregated the grid,
    // then equi-joined it AGAINST ITSELF on (side, i, b) per candidate —
    // a |grid|×|grid| shuffle join plus a per-candidate re-aggregation,
    // three exchanges of grid-sized data and the dominant cost of every
    // advisor-family query. But the side set is DECLARED (the 8 advisor
    // sides), so one pass can pivot each (i, b) position into 8 side
    // columns (conditional sums — the SUM-COMBINE at read that makes an
    // APPENDED store serve like a single-row store, same associativity
    // argument as before), and every candidate's inner product is then a
    // plain column product summed per depth: grid-sized data crosses at
    // most ONE exchange (none at all for the bucketed-by-(i,b) batch
    // store), and the arithmetic is unchanged integer sums — the oracle
    // hash cannot move. A side with no rows at some (i, b) contributes a
    // NULL column there; NULL·x sums away exactly like the old inner
    // join's absent row.
    def sideCol(t: String, k: String) = s"c_${t}_$k"
    val sideAggs = advisorSides.map { case (t, k) =>
      sum(when(col("tbl") === t && col("key") === k, col("cell")))
        .as(sideCol(t, k))
    }
    val grid = cells0.groupBy("i", "b").agg(sideAggs.head, sideAggs.tail: _*)
    val prodAggs = AdvisorJoins.map { case (name, lt, lk, rt, rk) =>
      sum(col(sideCol(lt, lk)) * col(sideCol(rt, rk))).as(name)
    }
    val perDepth = grid.groupBy("i").agg(prodAggs.head, prodAggs.tail: _*)
    val stackExpr = "stack(" + AdvisorJoins.size + ", " +
      AdvisorJoins.map(j => s"'${j._1}', ${j._1}").mkString(", ") +
      ") as (join_name, row_est)"
    val prods = perDepth.select(col("i"), expr(stackExpr))
    val stats = stats0.groupBy("tbl", "key")
      .agg(sum("n_rows").as("n_rows"))
    val cands = AdvisorJoins.toDF("join_name", "lt", "lk", "rt", "rk")
    // densified per-candidate lower median (the medianRowEstimate
    // discipline, scoped by candidate)
    val full = cands.select("join_name")
      .crossJoin(spark.range(JoinSizeDepth).select(col("id").cast("int").as("i")))
    val est = full.join(prods, Seq("join_name", "i"), "left")
      .select(col("join_name"), coalesce(col("row_est"), lit(0L)).as("row_est"))
      .groupBy("join_name").agg(sort_array(collect_list("row_est")).as("rs"))
      .select(col("join_name"),
              element_at(col("rs"), JoinSizeDepth / 2 + 1).as("est_pairs"))
    // sessionState.conf resolves the threshold to a Long the way the
    // planner itself does — byteStringAsBytes on the raw conf string throws
    // on "-1" (the standard broadcast-disable value, which must simply
    // yield "shuffle" for every candidate)
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    cands
      .join(stats.select(col("tbl").as("lt"), col("key").as("lk"),
                         col("n_rows").as("left_rows")), Seq("lt", "lk"))
      .join(stats.select(col("tbl").as("rt"), col("key").as("rk"),
                         col("n_rows").as("right_rows")), Seq("rt", "rk"))
      .join(est, Seq("join_name"))
      .select(col("join_name"), col("left_rows"), col("right_rows"),
        col("est_pairs"),
        when(least(col("left_rows"), col("right_rows")) * AdvisorRowBytes
               <= threshold, "broadcast").otherwise("shuffle").as("strategy"),
        when(col("left_rows") <= col("right_rows"), "left")
          .otherwise("right").as("build_side"))
      .orderBy("join_name")
  }

  /** ADVISED JOIN (`advised_join`) — the advice finally EXECUTES (r12
    * VERDICT item 4): [[planAdvisor]]'s verdicts were PlanSpec-proven to
    * match Spark's planning, but no query ran a join whose strategy came
    * from the sketch store. This one does: every candidate join is
    * executed with its advised strategy applied as a join hint —
    * `broadcast` wraps the advised build side in `broadcast()`,
    * `shuffle` pins the sort-merge path via `hint("merge")` — and the
    * output carries the advised columns next to the join's MEASURED
    * cardinality, hash-gated against an oracle that recomputes each count
    * from the raw tables and replays the advice chain from the sketches.
    * A hint can change the PLAN, never the answer — so the gate proves
    * advised ≡ unhinted row for row (the dedup_auto route discipline
    * applied to physical join strategy); PlanSpec asserts the executed
    * plans actually FOLLOWED the advice in both directions (a
    * broadcast-sized and a shuffle-sized candidate).
    *
    * The verdict read is a ≤|candidates|-row collect (bounded metadata —
    * the codebook-collect class): exactly how a planner consumes advice,
    * at plan construction time, not inside the dataflow.
    *
    * 100 TB: each executed join aggregates to ONE row scan-side (partial
    * count), so the query's output is |candidates| rows regardless of
    * join fan-out; the M:N events×orders candidate's pair mass never
    * materializes. */
  def advisedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val verdicts = planAdvisor(spark, sfDir)
      .select(col("join_name"), col("strategy"), col("build_side"))
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    val rows = AdvisorJoins.map { case (name, lt, lk, rt, rk) =>
      val (strategy, buildSide) = verdicts(name)
      val l = advisorTable(spark, sfDir, lt)
        .select(col(lk).as("lpk")).filter(col("lpk").isNotNull)
      val r = advisorTable(spark, sfDir, rt)
        .select(col(rk).as("rpk")).filter(col("rpk").isNotNull)
      val joined = (strategy, buildSide) match {
        case ("broadcast", "left")  => broadcast(l).join(r, col("lpk") === col("rpk"))
        case ("broadcast", "right") => l.join(broadcast(r), col("lpk") === col("rpk"))
        case _                      => l.hint("merge").join(r, col("lpk") === col("rpk"))
      }
      joined.agg(count(lit(1)).as("n_pairs"))
        .select(lit(name).as("join_name"), col("n_pairs"),
                lit(strategy).as("strategy"), lit(buildSide).as("build_side"))
    }
    rows.reduce(_ unionByName _).orderBy("join_name")
  }

  /** JOIN-ORDER ADVISOR (`join_order_advisor`) — the OTHER classic
    * cost-based decision, decided from the same persisted sketches:
    * for the three-table chain lineitem ⋈ orders ⋈ customer, the System R
    * question is which two-table join runs first, and the store already
    * prices both intermediates (`lineitem_orders_fk` vs
    * `orders_customer_dim` est_pairs — no data touched). The chain is
    * then EXECUTED in the advised order (`fact_first` builds L⋈O first,
    * `dim_first` builds O⋈C first — a plain join-call order, which Spark
    * keeps verbatim with CBO join reorder off, the default), and the
    * output carries both estimates, the decision, and the chain's
    * measured cardinality — hash-gated against an oracle that replays
    * the estimates from the sketches and the count from the raw tables.
    * Join associativity makes the result order-invariant, so the gate
    * proves the decision changed the PLAN, never the answer (the
    * advised_join discipline, one level up).
    *
    * 100 TB: the decision reads two metadata rows; the executed chain
    * aggregates to one row scan-side. On this schema the store says
    * `dim_first` (|O⋈C| ≈ |orders| ≪ |L⋈O| ≈ |lineitem|) — exactly the
    * textbook answer. */
  def joinOrderAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    val est = planAdvisor(spark, sfDir)
      .select(col("join_name"), col("est_pairs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (estLo, estOc) = (est("lineitem_orders_fk"), est("orders_customer_dim"))
    val order = if (estLo <= estOc) "fact_first" else "dim_first"
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val chained =
      if (order == "fact_first")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
      else
        l.join(o.join(c, col("o_custkey") === col("c_custkey")),
               col("l_orderkey") === col("o_orderkey"))
    chained.agg(count(lit(1)).as("n_rows"))
      .select(lit("lineitem_orders_customer").as("chain"),
              lit(estLo).as("est_lo"), lit(estOc).as("est_oc"),
              lit(order).as("join_order"), col("n_rows"))
  }

  /** The (exact, estimate, error) report — exact F₂ from the batch table
    * (the instrument's ground truth), estimate from whichever grid
    * (batch-built or stream-maintained) is under test. */
  private[graft] def joinSizeReport(spark: SparkSession, sfDir: String,
                                    est: DataFrame): DataFrame = {
    val exact = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey").cast("string").as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_pairs"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_pairs"), col("est_pairs"),
        expr("(est_pairs - exact_pairs) * 1000 div exact_pairs").as("err_permille"))
  }

  // ------------------------------------------------------------------
  // System R DP over the chain candidate graph (round 14)
  // ------------------------------------------------------------------

  /** The 4-table CHAIN the DP enumerates: lineitem–orders–customer–nation,
    * whose three edges are exactly three [[AdvisorJoins]] candidates (so
    * every intermediate the DP prices comes from the persisted sketch
    * store — no data touched for the decision). One definition site shared
    * with the SQL oracle generator. */
  private[graft] val ChainEdgeNames: Seq[String] =
    Seq("lineitem_orders_fk", "orders_customer_dim", "customer_nation_dim")

  /** The interior divisor side for extending an interval through edge k
    * (k = 2, 3 in 1-based edge numbering): the edge's LEFT table — the
    * table shared between the segment built so far and the new edge. The
    * classic independence estimate |A⋈B⋈C| ≈ |A⋈B|·|B⋈C|/|B|, stated as
    * a declared (tbl, key) row of the stats store so the oracle replays
    * the same count. */
  private[graft] val ChainDivisorSides: Seq[(String, String)] =
    Seq(("orders", "o_custkey"), ("customer", "c_nationkey"))

  /** One left-deep, cross-product-free join order of the 4-chain: on a
    * chain, a connected join set is always a contiguous interval, so an
    * order IS its chain of growing intervals — two intermediates (sizes
    * 2 and 3) before the full join. The 4 distinct interval chains are
    * the 4 cost-distinct left-deep orders (start-table symmetry folds the
    * 8 permutations onto them). */
  private[graft] final case class ChainOrder(name: String, intervals: Seq[(Int, Int)])
  private[graft] val ChainOrders: Seq[ChainOrder] = Seq(
    ChainOrder("cn_ocn", Seq((3, 4), (2, 4))),
    ChainOrder("lo_loc", Seq((1, 2), (1, 3))),
    ChainOrder("oc_loc", Seq((2, 3), (1, 3))),
    ChainOrder("oc_ocn", Seq((2, 3), (2, 4))))

  /** Estimated cardinality of chain interval [i, j] (1-based tables),
    * composed from the PRICED edges by the canonical left-fold — a
    * function of the interval alone, so the same subset costs the same
    * in every order (the DP's requirement). Negative inner-product
    * estimates clamp at 0 and divisors at 1 (declared, so the integer
    * arithmetic replays in DuckDB without float or sign-semantics
    * boundaries); BigInt intermediates because est·est overflows Long
    * long before 100 TB. */
  private[graft] def chainCard(est: Seq[Long], nDiv: Seq[Long],
                               i: Int, j: Int): BigInt = {
    var acc = BigInt(math.max(est(i - 1), 0L))
    (i + 1 to j - 1).foreach { e =>
      acc = acc * BigInt(math.max(est(e - 1), 0L)) / BigInt(math.max(nDiv(e - 2), 1L))
    }
    acc
  }

  /** The Selinger decision over the enumerated orders: cost = sum of the
    * order's intermediate-interval estimates (the final interval is
    * order-invariant and excluded); deterministic (cost, name) tie-break
    * so engine and oracle can never disagree on equal costs. */
  private[graft] def chainDpVerdict(est: Seq[Long], nDiv: Seq[Long]): (String, BigInt) =
    ChainOrders.map { o =>
      (o.name, o.intervals.map { case (i, j) => chainCard(est, nDiv, i, j) }.sum)
    }.minBy { case (name, cost) => (cost, name) }

  /** Estimated pair count of ONE ad-hoc join from freshly-built signed
    * AMS grids over explicit per-key weight frames — the planAdvisor
    * pricing arithmetic without the persisted store, so a spec can
    * re-price a chain edge under a tightened filter and watch the DP
    * flip (PlanSpec's join_order_dp case). */
  private[graft] def pairEstimate(l: DataFrame, r: DataFrame,
                                  depth: Int = JoinSizeDepth,
                                  width: Int = JoinSizeCrossWidth): Long = {
    val lc = amsCells(l, depth, width)
      .select(col("i"), col("b"), col("cell").as("lc"))
    val rc = amsCells(r, depth, width)
      .select(col("i").as("ri"), col("b").as("rb"), col("cell").as("rc"))
    val rows = lc.join(rc, col("i") === col("ri") && col("b") === col("rb"))
      .groupBy("i").agg(sum(col("lc") * col("rc")).as("row_est"))
    medianRowEstimate(rows, depth).collect()(0).getLong(0)
  }

  /** JOIN-ORDER DP (`join_order_dp`, r13 VERDICT task 3) — the System R
    * dynamic program over the whole 4-table chain, generalizing
    * [[joinOrderAdvisor]]'s one pre-declared 2-way decision: every
    * left-deep, cross-product-free order of lineitem⋈orders⋈customer⋈
    * nation is costed as the sum of its intermediate-result estimates,
    * every estimate composed from the persisted sketch store's priced
    * edges ([[chainCard]] — three est_pairs rows + two divisor counts,
    * all metadata; no table is scanned to DECIDE). The chain then
    * EXECUTES in the winning order and the output carries the edge
    * estimates, the decision, its cost, and the measured cardinality —
    * hash-gated against an oracle that replays the sketch pricing, all
    * four candidate costs, the argmin, and the count from the raw
    * tables. Join associativity makes n_rows order-invariant, so the
    * gate proves the DP changed the PLAN, never the answer.
    *
    * 100 TB: the textbook win — on this schema the DP picks `cn_ocn`
    * (build the tiny customer⋈nation dim first, grow through orders,
    * join the fact table last), the exact plan a cost-based optimizer
    * exists to find; executing `lo_loc` instead would materialize a
    * lineitem-sized intermediate twice. The decision reads five metadata
    * rows; the executed chain aggregates to one row scan-side. */
  def joinOrderDp(spark: SparkSession, sfDir: String): DataFrame = {
    val verdicts = planAdvisor(spark, sfDir)
      .select(col("join_name"), col("est_pairs"), col("left_rows")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val est = ChainEdgeNames.map(verdicts(_)._1)
    // divisor counts: the left-side row counts of the two interior edges
    // (orders via o_custkey, customer via c_nationkey) — already columns
    // of the same verdict rows
    val nDiv = Seq(verdicts("orders_customer_dim")._2,
                   verdicts("customer_nation_dim")._2)
    val (order, cost) = chainDpVerdict(est, nDiv)
    // r14 ADVICE: a BigInt→Long wrap here would diverge from the oracle's
    // HUGEINT (which errors on the CAST instead) — refuse loudly on the
    // engine side too, keeping the overflow-alignment discipline symmetric
    require(cost.isValidLong, s"joinOrderDp: cost $cost exceeds Long — " +
      "align the oracle's HUGEINT cast before widening")
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"))
    val lo = col("l_orderkey") === col("o_orderkey")
    val oc = col("o_custkey") === col("c_custkey")
    val cn = col("c_nationkey") === col("n_nationkey")
    val chained = order match {
      case "lo_loc" => l.join(o, lo).join(c, oc).join(n, cn)
      case "oc_loc" => o.join(c, oc).join(l, lo).join(n, cn)
      case "oc_ocn" => o.join(c, oc).join(n, cn).join(l, lo)
      case _        => c.join(n, cn).join(o, oc).join(l, lo) // cn_ocn
    }
    chained.agg(count(lit(1)).as("n_rows"))
      .select(lit("lineitem_orders_customer_nation").as("chain"),
              lit(est(0)).as("est_lo"), lit(est(1)).as("est_oc"),
              lit(est(2)).as("est_cn"), lit(order).as("join_order"),
              lit(cost.toLong).as("cost_est"), col("n_rows"))
  }

  // ------------------------------------------------------------------
  // System R over the FULL candidate graph (round 14): all five priced
  // edges, six tables — the generalization beyond the declared 4-chain
  // ------------------------------------------------------------------

  /** The candidate graph's edges, named by their [[AdvisorJoins]] row
    * (one definition site with the store and the SQL generators): a TREE
    * over six tables — orders is the hub (lineitem, customer, events),
    * nation hangs off customer, part off lineitem. */
  private[graft] val GraphEdges: Seq[(String, String, String)] = Seq(
    ("customer_nation_dim", "customer", "nation"),
    ("events_orders_mn", "events", "orders"),
    ("lineitem_orders_fk", "lineitem", "orders"),
    ("lineitem_part_dim", "lineitem", "part"),
    ("orders_customer_dim", "orders", "customer"))

  private[graft] val GraphTables: Seq[String] =
    Seq("customer", "events", "lineitem", "nation", "orders", "part")

  /** Canonical stats-store side per vertex — the n(v) the independence
    * formula divides by (each is a non-null key count the store already
    * holds; declared so engine and oracle read the same row). */
  private[graft] val GraphVertexSides: Map[String, (String, String)] = Map(
    "lineitem" -> ("lineitem", "l_orderkey"),
    "orders"   -> ("orders", "o_orderkey"),
    "customer" -> ("customer", "c_custkey"),
    "nation"   -> ("nation", "n_nationkey"),
    "part"     -> ("part", "p_partkey"),
    "events"   -> ("events", "user_id"))

  /** Every left-deep, cross-product-free join order of the graph: start
    * anywhere, each step adds a table adjacent to the set (deterministic
    * enumeration order — sorted start, sorted extensions). On a tree
    * every connected subset is a subtree, so the enumeration IS the
    * Selinger left-deep search space; at six relations it is small
    * enough to enumerate exhaustively (engine and oracle enumerate the
    * SAME list, so the argmin can never diverge). */
  private[graft] lazy val graphOrders: Seq[Vector[String]] = {
    def adj(t: String): Seq[String] = GraphEdges.collect {
      case (_, a, b) if a == t => b
      case (_, a, b) if b == t => a
    }
    def extend(order: Vector[String], remaining: Set[String]): Seq[Vector[String]] =
      if (remaining.isEmpty) Seq(order)
      else remaining.toSeq.sorted
        .filter(t => adj(t).exists(order.contains))
        .flatMap(t => extend(order :+ t, remaining - t))
    GraphTables.flatMap(s => extend(Vector(s), GraphTables.toSet - s))
  }

  /** Independence estimate of a connected subset's join cardinality in
    * CLOSED FORM: ∏ est(edges within S) div ∏_v n(v)^(deg_S(v)−1) — the
    * ∏est/∏n-of-interior-attach-points formula, order-free because it
    * depends only on the subset (the DP's requirement), with ONE integer
    * division at the end so engine (BigInt) and oracle (HUGEINT) cannot
    * disagree on rounding. Estimates clamp at 0, divisors at 1. */
  private[graft] def graphCard(subset: Set[String], est: Map[String, Long],
                               n: Map[String, Long]): BigInt = {
    val edges = GraphEdges.filter(e => subset(e._2) && subset(e._3))
    if (edges.isEmpty) BigInt(0)
    else {
      val num = edges.map(e => BigInt(math.max(est(e._1), 0L))).product
      val den = subset.toSeq.map { v =>
        val d = edges.count(e => e._2 == v || e._3 == v)
        BigInt(math.max(n(v), 1L)).pow(math.max(d - 1, 0))
      }.product
      num / den
    }
  }

  /** The Selinger decision over [[graphOrders]]: cost = Σ card(prefix)
    * over the order's intermediate prefixes (sizes 2..N−1 — the full
    * join is order-invariant and excluded); deterministic
    * (cost, order-string) tie-break. */
  private[graft] def graphDpVerdict(est: Map[String, Long],
                                    n: Map[String, Long]): (Vector[String], BigInt) =
    graphOrders.map { o =>
      val cost = (2 until o.size).map(k => graphCard(o.take(k).toSet, est, n)).sum
      (o, cost)
    }.minBy { case (o, c) => (c, o.mkString(">")) }

  /** JOIN-GRAPH DP (`join_graph_dp`) — [[joinOrderDp]] generalized from
    * the declared 4-chain to the FULL candidate graph the store prices:
    * all five [[AdvisorJoins]] edges over six tables, every left-deep
    * cross-product-free order costed from the persisted sketches alone
    * (five est rows + six count rows — metadata; no table scanned to
    * decide), the winner EXECUTED, the cardinality hash-gated. On this
    * schema the DP walks dims-outward — nation→customer→orders→lineitem→
    * part, fact edges last, the M:N events edge very last — the plan a
    * cost-based optimizer exists to find; starting at events instead
    * would drag a ~fanout-inflated intermediate through every later
    * join. The oracle enumerates the SAME order list with the SAME
    * closed-form costs and replays the count from the raw tables. */
  def joinGraphDp(spark: SparkSession, sfDir: String): DataFrame = {
    val verdicts = planAdvisor(spark, sfDir)
      .select(col("join_name"), col("est_pairs"),
              col("left_rows"), col("right_rows")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val est = GraphEdges.map(e => e._1 -> verdicts(e._1)._1).toMap
    // vertex counts read off the candidate rows that carry each declared
    // side: (tbl, key) appears as the left or right side of some edge
    val n = GraphVertexSides.map { case (v, (t, k)) =>
      val row = AdvisorJoins.collectFirst {
        case (name, lt, lk, _, _) if lt == t && lk == k => (name, true)
        case (name, _, _, rt, rk) if rt == t && rk == k => (name, false)
      }.get
      v -> (if (row._2) verdicts(row._1)._2 else verdicts(row._1)._3)
    }
    val (order, cost) = graphDpVerdict(est, n)
    // same overflow-alignment refusal as joinOrderDp (r14 ADVICE)
    require(cost.isValidLong, s"joinGraphDp: cost $cost exceeds Long — " +
      "align the oracle's HUGEINT cast before widening")
    val frames = Map(
      "lineitem" -> Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_partkey")),
      "orders"   -> Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
      "customer" -> Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey")),
      "nation"   -> Tables.nation(spark, sfDir).select(col("n_nationkey")),
      "part"     -> Tables.part(spark, sfDir).select(col("p_partkey")),
      "events"   -> Tables.events(spark, sfDir).select(col("user_id")))
    val conds = Map(
      "customer_nation_dim" -> (col("c_nationkey") === col("n_nationkey")),
      "events_orders_mn"    -> (col("user_id") === col("o_custkey")),
      "lineitem_orders_fk"  -> (col("l_orderkey") === col("o_orderkey")),
      "lineitem_part_dim"   -> (col("l_partkey") === col("p_partkey")),
      "orders_customer_dim" -> (col("o_custkey") === col("c_custkey")))
    val chained = order.tail.foldLeft(frames(order.head) -> Set(order.head)) {
      case ((df, in), t) =>
        val edge = GraphEdges.find(e =>
          (e._2 == t && in(e._3)) || (e._3 == t && in(e._2))).get
        (df.join(frames(t), conds(edge._1)), in + t)
    }._1
    chained.agg(count(lit(1)).as("n_rows"))
      .select(lit("advisor_graph").as("graph"),
              lit(order.mkString(">")).as("join_order"),
              lit(cost.toLong).as("cost_est"), col("n_rows"))
  }

  /** GRAPH-CARD RECALL (`graph_card_recall`) — [[chainCardRecall]] where
    * the independence model is actually STRESSED: the FK chain's
    * compositions are near-exact by construction (every lineitem has one
    * order, every order one customer), but [[joinGraphDp]]'s costs also
    * compose THROUGH the M:N events edge, where per-key fanouts multiply
    * and independence is a real assumption. One hash-gated row per
    * M:N-containing 3-table subset ({E,O,C} and {E,O,L}): the exact
    * cardinality, the composed estimate ([[graphCard]] — the DP's own
    * arithmetic), the signed permille error.
    *
    * 100 TB: both exact sides are COUNT-VECTOR arithmetic, never pair
    * mass — |E⋈O⋈C| = Σ_orders c_E(custkey)·c_C(custkey) and |E⋈O⋈L| =
    * Σ_orders c_E(custkey)·c_L(orderkey): two key-grain aggregates
    * broadcast-joined through the orders scan, one sum. The fanout
    * product that would materialize millions of joined rows is computed,
    * not produced. */
  def graphCardRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val verdicts = planAdvisor(spark, sfDir)
      .select(col("join_name"), col("est_pairs"),
              col("left_rows"), col("right_rows")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val est = GraphEdges.map(e => e._1 -> verdicts(e._1)._1).toMap
    val n = Map("orders" -> verdicts("lineitem_orders_fk")._3,
                "events" -> verdicts("events_orders_mn")._2,
                "customer" -> verdicts("orders_customer_dim")._3,
                "lineitem" -> verdicts("lineitem_orders_fk")._2,
                "nation" -> verdicts("customer_nation_dim")._3,
                "part" -> verdicts("lineitem_part_dim")._3)
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"))
      .filter(col("o_custkey").isNotNull && col("o_orderkey").isNotNull)
    val evc = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id").as("e_k")).agg(count(lit(1)).as("c_e"))
    val cc = Tables.customer(spark, sfDir)
      .filter(col("c_custkey").isNotNull)
      .groupBy(col("c_custkey").as("c_k")).agg(count(lit(1)).as("c_c"))
    val lc = Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey").isNotNull)
      .groupBy(col("l_orderkey").as("l_k")).agg(count(lit(1)).as("c_l"))
    // both exact subsets in ONE action (r15 — guide §2.6): the two count-
    // vector sums share the orders scan and the broadcast events grid
    // (ReusedExchange), and independent subtrees inside one job overlap
    val exactRows = o.join(broadcast(evc), col("o_custkey") === col("e_k"))
      .join(broadcast(cc), col("o_custkey") === col("c_k"))
      .agg(coalesce(sum(col("c_e") * col("c_c")), lit(0L)).as("x"))
      .select(lit("eoc").as("sub"), col("x"))
      .unionByName(
        o.join(broadcast(evc), col("o_custkey") === col("e_k"))
          .join(lc, col("o_orderkey") === col("l_k"))
          .agg(coalesce(sum(col("c_e") * col("c_l")), lit(0L)).as("x"))
          .select(lit("eol").as("sub"), col("x")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (exactEoc, exactEol) = (exactRows("eoc"), exactRows("eol"))
    def row(name: String, exact: Long, e: BigInt) =
      (name, exact, e.toLong,
       if (exact == 0L) e.toLong * 1000L else ((e - exact) * 1000 / exact).toLong)
    Seq(row("events_orders_customer", exactEoc,
          graphCard(Set("events", "orders", "customer"), est, n)),
        row("events_orders_lineitem", exactEol,
          graphCard(Set("events", "orders", "lineitem"), est, n)))
      .toDF("graph_subset", "exact_pairs", "est_pairs", "err_permille")
      .orderBy("graph_subset")
  }

  /** CHAIN-CARD RECALL (`chain_card_recall`) — the accuracy instrument for
    * the DP's COMPOSED estimates: [[advisorRecall]] prices the base edges,
    * but [[joinOrderDp]]'s decision rides [[chainCard]]'s independence
    * composition (|ABC| ≈ |AB|·|BC|/|B|) — a NEW approximation nothing
    * priced. One hash-gated row per interior 3-table interval: the exact
    * chain cardinality (one aggregate each, no pair mass), the composed
    * estimate, the signed permille error. The measured form of the
    * independence assumption the whole System R tradition leans on. */
  def chainCardRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val verdicts = planAdvisor(spark, sfDir)
      .select(col("join_name"), col("est_pairs"), col("left_rows")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val est = ChainEdgeNames.map(verdicts(_)._1)
    val nDiv = Seq(verdicts("orders_customer_dim")._2,
                   verdicts("customer_nation_dim")._2)
    val l = Tables.lineitem(spark, sfDir).select(col("l_orderkey"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"))
    // both exact intervals in ONE action (r15 — guide §2.6: independent
    // subtrees inside one job back-fill each other's stragglers; two
    // sequential collects pay two scheduling barriers)
    val exactRows = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("x")).select(lit("loc").as("iv"), col("x"))
      .unionByName(
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .agg(count(lit(1)).as("x")).select(lit("ocn").as("iv"), col("x")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (exactLoc, exactOcn) = (exactRows("loc"), exactRows("ocn"))
    def row(name: String, exact: Long, e: BigInt) =
      (name, exact, e.toLong,
       if (exact == 0L) e.toLong * 1000L else ((e - exact) * 1000 / exact).toLong)
    Seq(row("lineitem_orders_customer", exactLoc, chainCard(est, nDiv, 1, 3)),
        row("orders_customer_nation", exactOcn, chainCard(est, nDiv, 2, 4)))
      .toDF("chain_interval", "exact_pairs", "est_pairs", "err_permille")
      .orderBy("chain_interval")
  }

  /** ADVISOR RECALL (`advisor_recall`, r13 VERDICT task 5) — the accuracy
    * instrument for the planner-stats store, the kll_recall shape over
    * [[AdvisorJoins]]: every other approximate family prices its trade,
    * but the AMS store's est-vs-exact error had only surfaced in prose.
    * One hash-gated row per candidate: the exact join cardinality (truth
    * side — a plain join count over the raw tables, each aggregated to
    * one row scan-side), the store's est_pairs, and the signed permille
    * error, oracle-replayed end to end.
    *
    * 100 TB: the truth side NEVER materializes pair mass — the exact
    * join cardinality is Σₖ cₗ(k)·cᵣ(k), computed from the two sides'
    * per-key count vectors (partial-agg to |keys| rows each, one
    * |keys|-grain equi-join, one sum): the M:N candidate's millions of
    * joined rows are never produced, only counted arithmetically
    * (first cut executed the joins and paid 4.3s at sf0.1 — all of it
    * pair-mass row production for a COUNT). The est side reads the
    * metadata store. A production pipeline runs this on a sampled day,
    * not per query — what it buys is a MEASURED error band for every
    * cardinality the advisor family ([[planAdvisor]], [[joinOrderDp]])
    * acts on. */
  def advisorRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val est = planAdvisor(spark, sfDir)
      .select(col("join_name"), col("est_pairs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ONE aggregation pass for all five exact sides (r15 optimization —
    // guide §2.4): the previous form ran 2 aggregates + 1 join + 1 final
    // agg PER candidate (10 exchanges, ~40 AQE stage-jobs); but
    // Σₖ cₗ(k)·cᵣ(k) only needs per-(candidate, key) counts of each side,
    // so the ten tagged key streams union into ONE (join_name, key)
    // aggregate (map-side combined) and the per-candidate sum is a 5-row
    // second aggregate — grid-sized data crosses one exchange. A key on
    // one side only yields cl·0 = 0, exactly the old inner join's absent
    // row; the arithmetic (and the oracle hash) is unchanged.
    val tagged = AdvisorJoins.flatMap { case (name, lt, lk, rt, rk) =>
      Seq(
        advisorTable(spark, sfDir, lt)
          .select(col(lk).cast("long").as("k")).filter(col("k").isNotNull)
          .select(lit(name).as("join_name"), col("k"), lit(1L).as("l"), lit(0L).as("r")),
        advisorTable(spark, sfDir, rt)
          .select(col(rk).cast("long").as("k")).filter(col("k").isNotNull)
          .select(lit(name).as("join_name"), col("k"), lit(0L).as("l"), lit(1L).as("r")))
    }.reduce(_ unionByName _)
    val exact = tagged.groupBy("join_name", "k")
      .agg(sum("l").as("cl"), sum("r").as("cr"))
      .groupBy("join_name")
      .agg(coalesce(sum(col("cl") * col("cr")), lit(0L)).as("exact_pairs"))
    // densify against the declared candidate list: an empty-sided
    // candidate must still emit its row (the old per-candidate agg always
    // produced one)
    val names = AdvisorJoins.map(j => (j._1, est(j._1)))
      .toDF("join_name", "est_pairs")
    names.join(exact, Seq("join_name"), "left")
      .select(col("join_name"),
        coalesce(col("exact_pairs"), lit(0L)).as("exact_pairs"),
        col("est_pairs"))
      .select(col("join_name"), col("exact_pairs"), col("est_pairs"),
        when(col("exact_pairs") === 0L, col("est_pairs") * 1000L)
          .otherwise(expr("(est_pairs - exact_pairs) * 1000 div exact_pairs"))
          .as("err_permille"))
      .orderBy("join_name")
  }

  // ------------------------------------------------------------------
  // Skew-routed join (round 14)
  // ------------------------------------------------------------------

  /** The `join_skew_auto` route cut: salt iff the hottest key holds more
    * than this share of the skewed side's rows (integer permille — the
    * dedup_auto/index_auto declared-cut discipline, replayable in DuckDB
    * with no float boundary). 50‰ = one key owning ≥5% of a table is the
    * single-straggler-task regime where a plain shuffle join's longest
    * task dominates the stage. */
  private[graft] val JoinSaltShareCutPermille = 50L

  /** Salt shard count for the salted route. */
  private[graft] val JoinSaltFactor = 8

  /** The measured decision inputs: (non-null rows, distinct keys, max
    * per-key count) of events.user_id — one aggregate, three longs. */
  private[graft] def joinSkewStats(spark: SparkSession, sfDir: String): (Long, Long, Long) = {
    val r = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("n"), count(lit(1)).as("k"),
           coalesce(max("c"), lit(0L)).as("m"))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The route the measurement implies under the declared cut — BigInt
    * product for the same overflow-alignment reason as
    * [[graft.operators.Similarity.indexRouteOf]]. */
  private[graft] def joinSkewRouteOf(n: Long, maxCount: Long): String =
    if (BigInt(maxCount) * 1000 > BigInt(JoinSaltShareCutPermille) * n) "salted"
    else "plain"

  /** SKEW-ROUTED JOIN (`join_skew_auto`, r13 VERDICT task 4) — the classic
    * scale-killer finally auto-routed: [[skewProfile]] has measured key
    * skew since round 4 and [[graft.operators.Skew]] has proven two-phase
    * salting, but nothing ROUTED a join between plain and salted from the
    * measurement. This does: events⋈orders on the profiled skewed key
    * (user_id = o_custkey) runs plain when the measured top-key share is
    * under the declared cut; over it, the skewed side salts on a
    * key-independent column (`event_id % `[[JoinSaltFactor]]) and the
    * build side replicates across the salt shards — the textbook
    * two-phase salted join, which splits the hot key's probe rows over
    * [[JoinSaltFactor]] tasks. The join result is salt-invariant (every
    * original pair matches in exactly one shard), so the route changes
    * the PLAN, never the answer; the route rides in the output and the
    * oracle replays the decision from per-key counts plus the join from
    * the raw tables. RelationalSpec plants both regimes and proves
    * plain ≡ salted row for row.
    *
    * 100 TB: AQE's skew-join split handles sort-merge stragglers at
    * runtime, but it cannot split a skewed AGGREGATION key and is off in
    * stateful/streaming plans — a measurement-driven salt is the
    * portable form, and the measurement here is one metadata-grain
    * aggregate the profile job already runs. */
  def joinSkewAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val (n, _, maxc) = joinSkewStats(spark, sfDir)
    val route = joinSkewRouteOf(n, maxc)
    val ev = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"))
    val ords = Tables.orders(spark, sfDir)
      .filter(col("o_custkey").isNotNull).select(col("o_custkey"))
    joinSkewJoined(ev, ords, route)
      .withColumn("route", lit(route))
      .orderBy("event_type")
  }

  /** The routed join core over explicit frames — ev(user_id, event_type,
    * event_id) ⋈ ords(o_custkey), aggregated per event_type — so the spec
    * can prove plain ≡ salted on planted regimes. The salted route salts
    * the PROBE side on a key-independent column and replicates the build
    * side across the shards; every original pair matches in exactly one
    * shard, so the multiset of joined rows is identical by construction. */
  private[graft] def joinSkewJoined(ev: DataFrame, ords: DataFrame,
                                    route: String): DataFrame = {
    val joined =
      if (route == "salted") {
        val s = JoinSaltFactor
        val evS = ev.withColumn("_se",
          pmod(coalesce(col("event_id"), lit(0L)), lit(s.toLong)).cast("int"))
        val ordS = ords.withColumn("_so",
          explode(sequence(lit(0), lit(s - 1))))
        evS.join(ordS,
          col("user_id") === col("o_custkey") && col("_se") === col("_so"))
      } else ev.join(ords, col("user_id") === col("o_custkey"))
    joined.groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
  }

  /** SKEW-ROUTED AGGREGATION (`agg_skew_auto`) — [[joinSkewAuto]]'s
    * measurement routing the OTHER skew victim: a HOLISTIC per-key
    * aggregate (exact distinct count) puts every row of a key into one
    * task, the regime [[graft.operators.Skew.saltedCountDistinct]] has
    * proven the two-phase fix for since round 2 — now the fix is taken
    * iff the measured top-key share crosses the same declared cut.
    * Salting is exact here (salt = hash(value) keeps every duplicate
    * value in one shard, so per-shard distinct counts ADD), so the route
    * changes the plan, never the answer; route rides in the output and
    * the oracle replays decision + plain distinct counts.
    * SkewAndFormatsSpec plants both regimes.
    *
    * 100 TB: partial aggregation doesn't help a holistic aggregate — the
    * hot key's full value set converges on one reducer and that task's
    * memory and runtime grow with the key, the straggler/OOM the salt
    * split exists for. Unlike the join case, AQE has NO runtime rescue
    * for aggregation skew, which makes the measurement-driven route the
    * only portable form. */
  def aggSkewAuto(spark: SparkSession, sfDir: String): DataFrame = {
    val (n, _, maxc) = joinSkewStats(spark, sfDir)
    val route = joinSkewRouteOf(n, maxc)
    val ev = Tables.events(spark, sfDir).filter(col("user_id").isNotNull)
    val counts =
      if (route == "salted")
        Skew.saltedCountDistinct(ev, col("user_id"), col("event_type"))
          .select(col("k").as("user_id"), col("n_distinct"))
      else
        ev.groupBy("user_id")
          .agg(count_distinct(col("event_type")).as("n_distinct"))
    counts.withColumn("route", lit(route)).orderBy("user_id")
  }

  /** The evidence row behind [[joinSkewAuto]]'s decision (`join_skew_audit`
    * — the route_audit shape for the join family): measured rows / keys /
    * max key count, the integer top-key share, the declared cut, the
    * verdict. Metadata-grain; hash-gated like the decision. */
  def joinSkewAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (n, keys, maxc) = joinSkewStats(spark, sfDir)
    Seq((n, keys, maxc,
         if (n == 0L) 0L else (BigInt(maxc) * 1000 / n).toLong,
         JoinSaltShareCutPermille, joinSkewRouteOf(n, maxc)))
      .toDF("n_rows", "n_keys", "max_count", "share_permille",
            "cut_permille", "route")
  }
}
