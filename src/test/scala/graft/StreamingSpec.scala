package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming tumbling window matches batch aggregation semantics") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Timestamp, String, Double)]
    val df = src.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.startMemorySink(
      EventStreams.tumblingCounts(df, "1 hour", "10 minutes"), "tumbling_test")
    try {
      src.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:55:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "click", 4.0),
        (ts("2024-01-01 10:30:00"), "view", 8.0))
      q.processAllAvailable()
      val got = spark.table("tumbling_test")
        .select(col("window_start").cast("string"), col("event_type"),
                col("n_events"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got === Set(
        ("2024-01-01 10:00:00", "click", 2L, 3.0),
        ("2024-01-01 11:00:00", "click", 1L, 4.0),
        ("2024-01-01 10:00:00", "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("stateful session counting via mapGroupsWithState") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp)]
    val df = src.toDF().toDF("user_id", "ts")
    val out = EventStreams.sessionCounts(spark, df, gapSeconds = 1800)
    val q = out.writeStream.format("memory").queryName("sessions_test")
      .outputMode(OutputMode.Update()).start()
    try {
      // user 1: two events 10 min apart (1 session) then one 2h later (2nd).
      src.addData((1L, ts("2024-01-01 09:00:00")), (1L, ts("2024-01-01 09:10:00")))
      q.processAllAvailable()
      src.addData((1L, ts("2024-01-01 11:30:00")), (2L, ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      val got = spark.table("sessions_test")
        .groupBy("user_id").agg(max("n_sessions").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 2L, 2L -> 1L))
    } finally q.stop()
  }

  test("completed-session emission via flatMapGroupsWithState") {
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp)]
    val df = src.toDF().toDF("user_id", "ts")
    val out = EventStreams.completedSessions(spark, df, gapSeconds = 1800)
    val q = out.writeStream.format("memory").queryName("fsessions_test")
      .outputMode(OutputMode.Update()).start()
    try {
      // user 1: 9:00 + 9:10 open one session; 11:30 closes it (emit) and
      // opens a second; 14:00 closes the second (emit). user 2 stays open
      // (no emission).
      src.addData((1L, ts("2024-01-01 09:00:00")), (1L, ts("2024-01-01 09:10:00")),
                  (2L, ts("2024-01-01 09:00:00")))
      q.processAllAvailable()
      src.addData((1L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      src.addData((1L, ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      def us(s: String) = ts(s).getTime * 1000L
      val got = spark.table("fsessions_test")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === Set(
        (1L, us("2024-01-01 09:00:00"), us("2024-01-01 09:10:00"), 2L),
        (1L, us("2024-01-01 11:30:00"), us("2024-01-01 11:30:00"), 1L)))
    } finally q.stop()
  }

  test("file-backed events stream plans as a streaming source") {
    val df = EventStreams.eventsStream(spark, sf0001)
    assert(df.isStreaming)
  }

  test("bounded dedup: all three verdicts occur and state is actually evicted") {
    // The declared query's oracle already pins exact values; this gate
    // keeps the FIXTURE honest (all three cases live: single upload,
    // within-horizon dedup, beyond-horizon resurface) and proves the
    // bounded-state claim by watching evictions happen.
    val rows = EventStreams.streamDedupBoundedQuery(spark, sf0001)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val dist = rows.groupBy(identity).map { case (k, v) => k -> v.size }
    assert(dist.keySet === Set((1L, 1L), (2L, 1L), (2L, 2L)),
      s"fixture degenerate — verdicts seen: $dist")
    // bounded state: rerun the same shape with progress introspection and
    // assert the store NEVER holds every distinct fingerprint at once
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val nFps = docs.count()
    val epoch = lit("2024-01-01 00:00:00").cast("timestamp")
    val base = docs.select(col("doc_id"),
      graft.functions.TextFunctions.fingerprintMd5(col("text")).as("fp"),
      (col("doc_id") % 1440).as("m0"))
    val uploads = base.select(col("fp"), col("m0").as("m"))
      .unionByName(base.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 === 1)
        .select(col("fp"), (col("m0") + 20).as("m")))
      .unionByName(base.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 === 0)
        .select(col("fp"), (col("m0") + 600).as("m")))
      .select(col("fp"), timestamp_add("MINUTE", col("m").cast("int"), epoch).as("ts"),
              expr("m div 300").as("seg"))
    val dir = java.nio.file.Files.createTempDirectory("dedup_bounded_spec")
    uploads.select("seg").distinct().collect().map(_.getLong(0)).sorted.foreach { s =>
      EventStreams.stageStreamFile(uploads.filter(col("seg") === s).select("fp", "ts"),
        dir, f"seg$s%03d", 1000000L + s * 1000000L)
    }
    val q = spark.readStream.schema("fp STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .withWatermark("ts", "50 minutes").dropDuplicatesWithinWatermark("fp")
      .writeStream.format("memory").queryName("dedup_bounded_spec")
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val maxState = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal)).max
    assert(maxState < nFps,
      s"state never evicted: held $maxState of $nFps fingerprints — unbounded-dedup behavior")
  }

  test("late audit: watermark drops are real, counted, and match the lagged-filter model") {
    // Re-run the op's exact 3-batch staging with progress introspection:
    // the late filter must actually FIRE (numRowsDroppedByWatermark > 0)
    // — round 9 established that a 2-batch stage never drops anything
    // because Spark's late filter runs one batch behind eviction
    // (eventTimeWatermarkForLateEvents), so this gate keeps the op from
    // silently degenerating into stream_tumbling_append.
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("ts"), col("event_type"), col("event_id"))
    val dir = java.nio.file.Files.createTempDirectory("late_spec")
    EventStreams.stageStreamFile(ev.filter(col("event_id") % 8 =!= 0 && col("event_id") % 8 =!= 4),
                                 dir, "b0", 1000000L)
    EventStreams.stageStreamFile(ev.filter(col("event_id") % 8 === 4), dir, "b1", 2000000L)
    EventStreams.stageStreamFile(ev.filter(col("event_id") % 8 === 0), dir, "b2", 3000000L)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val agg = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.format("memory").queryName("late_spec")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dropped = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped > 0L, "no rows dropped — the late path is not being exercised")

    // the scalar model: batch-2 rows count iff their window was open
    // under the batch-0 watermark; emitted windows close under the final
    val rows = ev.collect().map(r =>
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2)))
    val hourMs = 3600000L; val delayMs = 600000L
    val w0 = rows.filter(r => r._3 % 8 != 0 && r._3 % 8 != 4).map(_._1).max - delayMs
    val wF = rows.map(_._1).max - delayMs
    def hourStart(t: Long) = t - Math.floorMod(t, hourMs)
    val counted = rows.filter(r => r._3 % 8 != 0 || hourStart(r._1) + hourMs > w0)
    val expected = counted.groupBy(r => (hourStart(r._1), r._2))
      .filter { case ((h, _), _) => h + hourMs <= wF }
      .map { case ((h, et), rs) => (h, et, rs.length.toLong) }.toSet
    val got = spark.table("late_spec").collect()
      .map(r => (r.getStruct(0).getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(dropped === rows.count(r => r._3 % 8 == 0 && hourStart(r._1) + hourMs <= w0).toLong,
      "drop count differs from the lagged-filter model")
  }

  test("append-mode tumbling emits exactly the watermark-closed window subset") {
    // Same discipline as the sessions pair: Append withholds only the
    // trailing windows whose end the final watermark has not passed.
    val append = EventStreams.streamTumblingAppendQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val complete = EventStreams.streamTumblingQuery(spark, sf0001).collect().map(_.toSeq)
    val wmMs = graft.sources.Tables.events(spark, sf0001)
      .agg(max(col("ts"))).head().getTimestamp(0).getTime - 600000L
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    val expected = complete.filter { r =>
      fmt.parse(r.head.asInstanceOf[String]).getTime + 3600000L <= wmMs
    }.toSet
    assert(append === expected)
    assert(append.nonEmpty && append.size < complete.size,
      s"degenerate fixture: ${append.size} of ${complete.size} windows closed")
  }

  test("append-mode sliding emits exactly the watermark-closed hop-window subset") {
    // The 4-way Expand under Append: every (window, type) row emits once
    // when the watermark passes window start + 1 hour; the ≤4 trailing
    // open hops per type are withheld.
    val append = EventStreams.streamSlidingAppendQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val complete = EventStreams.streamSlidingQuery(spark, sf0001).collect().map(_.toSeq)
    val wmMs = graft.sources.Tables.events(spark, sf0001)
      .agg(max(col("ts"))).head().getTimestamp(0).getTime - 600000L
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    val expected = complete.filter { r =>
      fmt.parse(r.head.asInstanceOf[String]).getTime + 3600000L <= wmMs
    }.toSet
    assert(append === expected)
    assert(append.nonEmpty && append.size < complete.size,
      s"degenerate fixture: ${append.size} of ${complete.size} hop windows closed")
  }

  test("append-mode sessions emit exactly the watermark-closed subset of complete mode") {
    // The production form: Append emits a session once, when the final
    // watermark (max ts − 10 min) passes its end (last event + 30 min gap);
    // still-open sessions are withheld. The batch session_window aggregate
    // gives every island with its end, so the expected set is a pure filter.
    val append = EventStreams.streamSessionsAppendQuery(spark, sf0001)
      .select("user_id", "start_us", "n_events")
    val batch = graft.operators.Relational.sessionWindowAgg(spark, sf0001)
    val wmUs = graft.sources.Tables.events(spark, sf0001)
      .agg(max(unix_micros(col("ts")))).head().getLong(0) - 600000000L
    val expected = batch.filter(col("end_us") <= wmUs)
      .select("user_id", "start_us", "n_events")
    assert(append.exceptAll(expected).isEmpty && expected.exceptAll(append).isEmpty,
      "append-mode session set != watermark-closed batch sessions")
    // Non-vacuous both ways: some sessions closed, some still open.
    val nAppend = append.count()
    val nAll = batch.count()
    assert(nAppend > 0L && nAppend < nAll,
      s"degenerate fixture: $nAppend of $nAll sessions closed")
  }

  test("bounded replay: stream_tumbling materialization equals the batch query") {
    val streamed = EventStreams.streamTumblingQuery(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.operators.Relational.tumblingWindow(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
  }

  test("bounded replay: stream-static enrich join equals the batch join") {
    val streamed = EventStreams.streamEnrichQuery(spark, sf0001)
      .collect().map(_.toString).sorted.toSeq
    val ev = graft.sources.Tables.events(spark, sf0001)
    val cust = graft.sources.Tables.customer(spark, sf0001)
    val batch = ev.select(col("user_id"), col("value"))
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
           graft.functions.NumericFunctions.duckRound(sum("value"), 4).as("sum_value"))
      .orderBy("c_mktsegment")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === batch)
  }

  test("graft_minhash aggregates correctly under streaming partial merges") {
    // The TypedImperativeAggregate's merge (elementwise min) must hold when
    // a group's rows arrive across MULTIPLE micro-batches — the condition
    // for using the sketch in streaming dedup.
    implicit val sc = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val agg = src.toDF().toDF("doc_id", "s")
      .groupBy("doc_id")
      .agg(call_function("graft_minhash", col("s"), lit(16)).as("sig"))
    val q = agg.writeStream.format("memory").queryName("minhash_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      src.addData((1L, "alpha beta"), (1L, "beta gamma"), (2L, "x y"))
      q.processAllAvailable()
      src.addData((1L, "delta"), (2L, "x y")) // doc 1 grows across batches
      q.processAllAvailable()
      val got = spark.table("minhash_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      val params = graft.operators.Dedup.minhashParams(16)
      val exp1 = graft.operators.Dedup.minhashSignature(
        Seq("alpha beta", "beta gamma", "delta"), params).toSeq
      val exp2 = graft.operators.Dedup.minhashSignature(Seq("x y"), params).toSeq
      assert(got === Map(1L -> exp1, 2L -> exp2))
    } finally q.stop()
  }

  test("approx_count_distinct (HLL) lands within 5% of exact per event type") {
    val ev = graft.sources.Tables.events(spark, sf0001)
    val both = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx"),
           countDistinct(col("user_id")).as("exact"))
      .collect()
    both.foreach { r =>
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e < 0.05, s"${r.getString(0)}: approx=$a exact=$e")
    }
  }

  test("bounded replay: stream_dedup emits exactly the distinct fingerprints") {
    val streamed = EventStreams.streamDedupQuery(spark, sf0001)
      .collect().map(_.getString(0)).toSeq
    val batch = graft.operators.TextAnalysis.fingerprint(spark, sf0001)
      .select("fp").distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(streamed === batch)
    assert(streamed === streamed.sorted)
  }

  test("tableStream reads a Spark-written parquet DIRECTORY source in full") {
    // regression: the symlink staging assumed a single parquet file; a
    // directory source (ScaleProbe's k-times replicas) silently streamed
    // ZERO files, so scale slopes timed an empty stream
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dirstream").toString
    val out = s"$dir/events.parquet"
    graft.sources.Tables.events(spark, sf0001).write.parquet(out)
    val n = spark.read.parquet(out).count()
    val streamed = EventStreams.tableStream(spark, dir, "events")
      .groupBy().agg(count(lit(1)).as("n"))
    val q = streamed.writeStream.format("memory").queryName("dirstream_probe")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dirstream_probe").head().getLong(0)
    spark.catalog.dropTempView("dirstream_probe")
    assert(got === n, s"directory stream carried $got of $n rows")
  }

  test("stream_scd2: versions close across the batch boundary, open tails never emit") {
    import spark.implicits._
    EventStreams.streamScd2Query(spark, sf0001).collect()
    val emitted = spark.table(spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("stream_scd2_")).max)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(emitted.nonEmpty)
    // recompute the split the query used
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"))
    val b = ev.agg(min("us"), max("us")).head()
    val split = (b.getLong(0) + b.getLong(1)) / 2
    // the cross-batch case: opened in batch 0, closed in batch 1
    val crossers = emitted.count { case (_, f, t) => f <= split && t > split }
    assert(crossers > 0, "no version spanned the micro-batch boundary — the cross-batch path went untested")
    // every emission is CLOSED (to > from); the open tail stays in state
    emitted.foreach { case (tpe, f, t) => assert(t > f, s"non-closed emission ($tpe, $f, $t)") }
  }

  test("stream_upsert: a later batch's correction overrides, emissions stay delta-sized") {
    import spark.implicits._
    EventStreams.streamUpsertQuery(spark, sf0001).collect()
    val emitted = spark.table(spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("stream_upsert_")).max)
    val base = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_orderkey").as("k"),
              org.apache.spark.sql.functions.round(col("o_totalprice") * 100)
                .cast("long").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val correctedKeys = base.keySet.filter(k => k % 13 != 5 && k % 7 == 3 && k % 2 == 0)
    // corrected keys: exactly two versions (batch 0 update, batch 1
    // override) ending at +200; uncorrected updates stay one version, +100
    val byKey = emitted.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    correctedKeys.foreach { k =>
      val vs = byKey(k).sortBy(_._4)
      assert(vs.length === 2, s"key $k expected 2 emissions, got ${vs.length}")
      assert(vs.last._3 === base(k) + 200, s"key $k final cents wrong: ${vs.last._3}")
      assert(vs.head._3 === base(k) + 100)
    }
    val plainUpdated = base.keySet.filter(k => k % 13 != 5 && k % 7 == 3 && k % 2 != 0)
    plainUpdated.foreach { k =>
      assert(byKey(k).length === 1 && byKey(k).head._3 === base(k) + 100)
    }
    // stream state is delta-sized: every emission belongs to a changed key
    val changed = base.keySet.filter(k => k % 13 == 5 || k % 7 == 3) ++
      base.keySet.filter(_ % 11 == 2).map(_ + base.keySet.max)
    assert(byKey.keySet.subsetOf(changed), "emissions outside the changelog key set")
  }

  test("stream quantile sketch: state stays <= bins rows, result is integer-exact quantiles") {
    val res = EventStreams.streamQuantileSketchQuery(spark, sf0001, bins = 64)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(res.map(_._1).toSeq === Seq(50, 90, 95, 99))
    // phase-2 streaming state is the bin histogram: <= bins rows however
    // many events streamed through it
    assert(spark.table(spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("stream_quantile_sketch_")).max).count() <= 64)
    // each estimate must land inside the observed value range
    val (mn, mx) = (0.0, 1e7)
    res.foreach { case (_, v) => assert(v >= mn && v <= mx) }
    // midpoint estimates of an equi-width histogram are monotone in q
    assert(res.map(_._2).toSeq === res.map(_._2).sorted.toSeq)
  }

  test("bounded replay: stream_dedup_near equals the batch incremental dedup") {
    // Streaming near-dup ingest (stateless per-row minhash + stream-static
    // index join + dropDuplicates + array-intersect verification) must emit
    // exactly the batch incremental pipeline's verified pair set — jaccard
    // values included (both are the same int/int division).
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = EventStreams.streamNearDupQuery(spark, sf0001)
      .collect().map(key).toSet
    val batch = graft.operators.IncrementalDedup.incrementalDedup(spark, sf0001)
      .collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty) // the split plants cross-split near-dups
  }

  test("bounded replay: stream_quality_filter / stream_source_mix equal their batch forms") {
    // stateless per-row rules and commutative per-source sums — the two
    // cheapest streaming shapes — must reproduce the batch tables exactly
    val sqf = EventStreams.streamQualityFilterQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bqf = graft.operators.TextAnalysis.qualityFilter(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(sqf === bqf)
    val ssm = EventStreams.streamSourceMixQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bsm = graft.operators.TextAnalysis.sourceMix(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(ssm === bsm)
    // stream_winnow: per-row kernel arithmetic — micro-batch boundaries
    // cannot move a selected hash, so the stream equals the batch rows
    val swf = EventStreams.streamWinnowQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bwf = graft.operators.TextAnalysis.winnowFingerprints(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(swf === bwf)
    // stream_mixture_weights: commutative complete-mode sums + batch-side
    // sampler arithmetic equal the batch mixture table
    val smw = EventStreams.streamMixtureWeightsQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bmw = graft.operators.TextAnalysis.mixtureWeights(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(smw === bmw)
    // stream_token_histogram: per-bin commutative sums + batch-side shares
    val sth = EventStreams.streamTokenHistogramQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bth = graft.operators.TextAnalysis.tokenLengthHistogram(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(sth === bth)
    // stream_anomaly_hours: commutative hourly counts in state + the
    // shared holistic median/MAD verdict batch-side
    val sah = EventStreams.streamAnomalyHoursQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bah = graft.operators.Analytics.anomalyHours(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(sah === bah)
    assert(sah.nonEmpty, "no anomalous hour on the fixture — degenerate")
    // stream_ewma_hours: commutative hourly cents sums in state + the
    // shared dyadic EWMA read-out batch-side
    val seh = EventStreams.streamEwmaHoursQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val beh = graft.operators.Analytics.ewmaHours(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(seh === beh)
    assert(seh.nonEmpty, "empty EWMA grid — degenerate")
    // stream_normalize: stateless per-row canonicalization in-flight —
    // row-identical to the batch pass by construction, verified anyway
    val snm = EventStreams.streamNormalizeQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bnm = graft.operators.TextAnalysis.normalizeText(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(snm === bnm)
    assert(snm.exists(_(1).asInstanceOf[Long] == 1L),
      "no doc changed by NFC — the decomposed suffix is broken")
    // stream_join_size: the signed AMS grid maintained from raw weight-1
    // updates equals the batch weighted grid -> identical report; the
    // cell-level identity (associativity) is checked directly too
    val sjs = EventStreams.streamJoinSizeQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bjs = graft.operators.Relational.joinSizeEstimate(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(sjs === bjs)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_partkey").cast("string").as("pk"))
    val rawCells = graft.operators.Relational.amsCells(
        li.select(col("pk"), lit(1L).as("w")),
        graft.operators.Relational.JoinSizeDepth,
        graft.operators.Relational.JoinSizeWidth)
      .collect().map(_.toSeq).toSet
    val weightedCells = graft.operators.Relational.amsCells(
        li.groupBy("pk").agg(count(lit(1)).as("w")),
        graft.operators.Relational.JoinSizeDepth,
        graft.operators.Relational.JoinSizeWidth)
      .collect().map(_.toSeq).toSet
    assert(rawCells === weightedCells,
      "weight-1 and pre-aggregated updates must build bit-identical cells")
    // stream_plan_advisor: the side-keyed grid + counts maintained from
    // the six-table union stream feed the SAME verdict computation the
    // batch store feeds — row-identical advice, estimates included
    val spa = EventStreams.streamPlanAdvisorQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bpa = graft.operators.Relational.planAdvisor(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(spa === bpa,
      "stream-maintained advisor grid must serve the batch store's verdicts")
    // stream_index_audit: the per-cell count grid maintained at ingest
    // (per-row frozen-codebook argmax + associative sums) must read out
    // the identical drift evidence row as the batch audit
    val sia = EventStreams.streamIndexAuditQuery(spark, sf0001)
      .collect().map(_.toSeq)
    val bia = graft.operators.Similarity.indexAudit(spark, sf0001)
      .collect().map(_.toSeq)
    assert(sia.toSeq === bia.toSeq,
      "stream-maintained drift evidence must equal the batch audit row")
    // stream_cusum: the same commutative hourly cents grid in state + the
    // shared closed-form CUSUM read-out batch-side
    val scu = EventStreams.streamCusumQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bcu = graft.operators.Analytics.cusumShift(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(scu === bcu)
    assert(scu.nonEmpty, "empty CUSUM trajectory — degenerate")
    // stream_hll: idempotent register-max states per type + the shared
    // rollup/estimate read-out batch-side
    val shl = EventStreams.streamHllQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bhl = graft.operators.Analytics.hllRollup(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(shl === bhl)
    assert(shl.nonEmpty, "empty HLL rollup — degenerate")
    // stream_boilerplate: per-doc-distinct line sums in state + the shared
    // coverage-filter/reconstruction read-out batch-side
    val sbl = EventStreams.streamBoilerplateQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val bbl = graft.operators.TextAnalysis.boilerplateLines(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(sbl === bbl)
    assert(sbl.exists(_(2).asInstanceOf[Long] > 0L), "no boilerplate caught — degenerate")
  }

  test("bounded replay: stream_decontaminate equals the indexed batch decontamination") {
    // Streaming release-gate: eval docs arriving as a stream, banded
    // stream-static against the persisted containment index and verified
    // by array-intersect, must emit exactly the batch indexed path's pair
    // set — containment values included (same int/int division either way:
    // postings-join count vs distinct-array intersect size).
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val streamed = EventStreams.streamDecontaminateQuery(spark, sf0001)
      .collect().map(key).toSet
    val batch = graft.operators.Dedup.decontaminationIndexed(spark, sf0001)
      .collect().map(key).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty) // the split plants eval-in-train containment
  }

  test("bounded replay: stream_media_ingest catalogs exactly the drop's files") {
    val streamed = EventStreams.streamMediaIngestQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    // the drop = the delta shard of the full catalog, nothing else
    val batchDelta = graft.multimodal.Media.mediaFilesScan(spark, sf0001)
      .collect().map(_.toSeq)
      .filter(r => r.head.asInstanceOf[String]
        .stripPrefix("asset_").stripSuffix(".bin").toLong % 10 == 0)
      .toSet
    assert(streamed === batchDelta)
    assert(streamed.nonEmpty)
  }

  test("packed drop catalogs the same assets as the file-grain drop, byte for byte") {
    // The two drop shapes (file-per-asset vs parquet-packed shards) must
    // agree on every asset's size, digest, and sniffed container — the
    // packed form exists to kill the per-file driver stat tax, not to
    // change semantics. Join keys: file names encode the media_id.
    val packed = EventStreams.streamMediaPackedQuery(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    val fileGrain = EventStreams.streamMediaIngestQuery(spark, sf0001)
      .collect().map { r =>
        val id = r.getString(0).stripPrefix("asset_").stripSuffix(".bin").toLong
        (id, r.getLong(1), r.getString(2), r.getString(3))
      }.toSet
    assert(packed === fileGrain)
    assert(packed.nonEmpty)
  }

  test("bounded replay: stream_takedown equals the batch closure manifest") {
    val streamed = EventStreams.streamTakedownQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Dedup.takedownPropagate(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream_kanon: the per-cell count survives micro-batches; verdicts flip at k") {
    import spark.implicits._
    // k=3. Cell (en,web) gets 2 docs in batch 0 and 2 in batch 1: doc 30 is
    // admitted ONLY if the count carried across the boundary (a batch-local
    // counter would see seen=1 < 3 and suppress BOTH batch-1 docs); cell
    // (fr,web) proves keys are independent and stays under k forever.
    val dir = java.nio.file.Files.createTempDirectory("graft_kanon_stream")
    EventStreams.stageStreamFile(
      Seq(("en", "web", 10L), ("en", "web", 20L), ("fr", "web", 15L))
        .toDF("lang", "source", "doc_id"), dir, "b0", 1000000L)
    EventStreams.stageStreamFile(
      Seq(("en", "web", 30L), ("en", "web", 40L), ("fr", "web", 25L))
        .toDF("lang", "source", "doc_id"), dir, "b1", 2000000L)
    val in = spark.readStream.schema("lang STRING, source STRING, doc_id LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[EventStreams.KanonIn]
    val out = EventStreams.kanonFrom(spark, in, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getInt(4)))
    assert(out.toSet === Set(
      (10L, 1L, 0), (20L, 2L, 0),   // warm-up price: first k-1 suppressed
      (30L, 3L, 1),                 // admitted ONLY via carried state
      (40L, 4L, 1),
      (15L, 1L, 0), (25L, 2L, 0)))  // small cell never admits
  }

  test("stream_noised_release: cumulative counts survive batches; noise redraws per release") {
    import spark.implicits._
    // cell (en,web): 3 docs in batch 0, 2 more in batch 1 → releases at
    // n=3 (rel 1) and n=5 (rel 2) — the second release's count is right
    // ONLY if state carried; cell (fr,web) appears only in batch 1, so its
    // FIRST release happens there (rel 1, not 2 — ordinals number the
    // cell's own non-empty epochs, not global batch ids).
    val dir = java.nio.file.Files.createTempDirectory("graft_noised_stream_spec")
    EventStreams.stageStreamFile(
      Seq(("en", "web", 10L), ("en", "web", 20L), ("en", "web", 30L))
        .toDF("lang", "source", "doc_id"), dir, "b0", 1000000L)
    EventStreams.stageStreamFile(
      Seq(("en", "web", 40L), ("en", "web", 50L), ("fr", "web", 15L))
        .toDF("lang", "source", "doc_id"), dir, "b1", 2000000L)
    val in = spark.readStream.schema("lang STRING, source STRING, doc_id LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[EventStreams.NoisedIn]
    val got = EventStreams.noisedReleaseFrom(spark, in, k = 3, capMag = 16)
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getInt(4)))
    // scalar replay of the declared noise formula
    def release(lang: String, source: String, rel: Long, n: Long): (Long, Int) = {
      val h = graft.operators.TextAnalysis.md5Low64(s"$lang:$source:$rel") & Long.MaxValue
      val sign = if ((h & 1L) == 1L) 1L else -1L
      val g = h >> 1
      val mag = math.min(java.lang.Long.bitCount((g & -g) - 1).toLong, 16L)
      val noisy = math.max(n + sign * mag, 0L)
      (noisy, if (noisy >= 3) 1 else 0)
    }
    val en1 = release("en", "web", 1L, 3L); val en2 = release("en", "web", 2L, 5L)
    val fr1 = release("fr", "web", 1L, 1L)
    assert(got.toSet === Set(
      ("en", 1L, en1._1, en1._2), ("en", 2L, en2._1, en2._2),
      ("fr", 1L, fr1._1, fr1._2)))
    // the epoch rotation is real: the same cell's two draws must come from
    // DIFFERENT hash inputs (equal draws can happen by chance for ONE
    // cell, but the hash inputs differ by construction — assert on the
    // magnitudes across a spread of rels to catch a frozen-seed regression)
    val draws = (1L to 8L).map(r => release("en", "web", r, 100L)._1).toSet
    assert(draws.size > 1, "per-release noise must redraw, not freeze")
    // the true count never appears: output carries only the noisy value
    val cols = EventStreams.streamNoisedReleaseQuery(spark, sf0001).columns.toSeq
    assert(cols === Seq("lang", "source", "release_idx", "noisy_n", "released"))
  }

  test("stream_quota_ingest: the transformWithState budget survives micro-batches") {
    import spark.implicits._
    // batch 0 spends 1500 of source A's 2000-token cap; batch 1's 800-token
    // doc is over budget ONLY if the running total survived the batch
    // boundary (a batch-local counter would see 800 <= 2000 and accept);
    // source B proves budgets are per-key.
    val dir = java.nio.file.Files.createTempDirectory("graft_quota_stream")
    EventStreams.stageStreamFile(
      Seq(("srcA", 1L, 1500L), ("srcB", 2L, 100L))
        .toDF("source", "doc_id", "toks"), dir, "b0", 1000000L)
    EventStreams.stageStreamFile(
      Seq(("srcA", 3L, 800L), ("srcB", 4L, 100L))
        .toDF("source", "doc_id", "toks"), dir, "b1", 2000000L)
    val in = spark.readStream.schema("source STRING, doc_id LONG, toks LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[EventStreams.QuotaIn]
    val out = EventStreams.quotaIngestFrom(spark, in, cap = 2000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getInt(4)))
    assert(out.toSet === Set(
      ("srcA", 1L, 1500L, 1),   // fits
      ("srcA", 3L, 2300L, 0),   // over budget ONLY via carried state
      ("srcB", 2L, 100L, 1),
      ("srcB", 4L, 200L, 1)))
  }

  test("multi-batch stream_decontaminate: cross-batch candidate state, exact containment verdicts") {
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    import spark.implicits._
    val p = IndexParams(buckets = 2)
    val prefix = "graft_corpus_streamdecon"
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    IncrementalDedup.buildIndexFrom(train, prefix, p)
    // one eval doc per micro-batch: 10 is a verbatim copy of train 1, 30 of
    // train 3, 50 is novel; batch 2 REPLAYS doc 10 — the duplicate arrives
    // in a LATER batch, so suppressing it requires candidate-dedup state
    // surviving across batches
    val dir = java.nio.file.Files.createTempDirectory("graft_decon_stream")
    EventStreams.stageStreamFile(
      Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), dir, "b0", 1000000L)
    EventStreams.stageStreamFile(
      Seq((30L, "one two three four five six seven eight nine ten"))
        .toDF("doc_id", "text"), dir, "b1", 2000000L)
    EventStreams.stageStreamFile(
      Seq((50L, "red orange yellow green blue indigo violet pink brown maroon"),
          (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), dir, "b2", 3000000L)
    val evalStream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val out = EventStreams.streamDecontaminateFrom(spark, evalStream, prefix, p, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // verbatim copies are fully contained (1.0); the novel doc emits
    // nothing; the replayed doc 10 emits exactly ONE pair despite arriving
    // twice in different batches
    assert(out.toSet === Set((10L, 1L, 1.0), (30L, 3L, 1.0)))
    assert(out.length === 2, s"cross-batch dedup state failed: ${out.toSeq}")
  }

  test("streaming ingest extends the index: delta 2 detects a near-dup of streamed delta 1") {
    // The closed ingest loop: clean survivors of each streamed batch are
    // appended to the index via foreachBatch, so a LATER stream detects
    // near-dups of EARLIER streamed documents — the streaming twin of
    // WarehouseSpec's batch append-loop test.
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    implicit val sc = spark.sqlContext
    val p = IndexParams(buckets = 2)
    val prefix = "graft_corpus_streamloop"
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    IncrementalDedup.buildIndexFrom(base, prefix, p)
    val text1 = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    // delta 1 is novel: no pairs, appended clean into the index
    val src1 = MemoryStream[(Long, String)]
    src1.addData((100L, text1))
    val out1 = EventStreams.streamIngestToIndex(spark,
      src1.toDF().toDF("doc_id", "text"), prefix, p, 0.8, "stream_ingest_pairs1")
    assert(out1.count() === 0)
    // delta 2 duplicates delta 1 — only the STREAMED append can catch it
    val src2 = MemoryStream[(Long, String)]
    src2.addData((200L, text1))
    val out2 = EventStreams.streamIngestToIndex(spark,
      src2.toDF().toDF("doc_id", "text"), prefix, p, 0.8, "stream_ingest_pairs2")
    assert(out2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((200L, 100L)))
    // and the near-dup delta 2 was NOT appended (it is not a clean survivor)
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 200L).count() === 0)
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 100L).count() === 1)
    // REPLAY SAFETY: re-ingesting delta 1 (a retried batch / restarted
    // stream without checkpoint progress) must be a no-op — the ledger
    // filter keeps already-indexed docs out of both the append and the
    // pair sink, so the index holds ONE copy and Jaccard stays exact.
    val src3 = MemoryStream[(Long, String)]
    src3.addData((100L, text1))
    val out3 = EventStreams.streamIngestToIndex(spark,
      src3.toDF().toDF("doc_id", "text"), prefix, p, 0.8, "stream_ingest_pairs3")
    assert(out3.count() === 0)
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 100L).count() === 1)
    assert(spark.table(s"${prefix}_postings").filter(col("doc_id") === 100L).count() ===
           spark.table(s"${prefix}_sizes").filter(col("doc_id") === 100L)
             .collect().head.getLong(1))
  }

  test("stream_cluster_assign equals the batch nearest-centroid assignment") {
    // The streaming half of the text→vector bridge: per-row hashed
    // embedding + broadcast codebook scoring must land every delta doc in
    // the same cell the batch path assigns, regardless of micro-batching.
    val out = graft.streaming.EventStreams.streamClusterAssignQuery(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val prefix = graft.operators.Similarity.ensureTextIvfIndex(spark, sf0001)
    val batch = graft.operators.Similarity
      .assignCells(
        graft.operators.TextAnalysis.embedDocuments(spark, sf0001)
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("vec_id"),
                  col("emb").cast("array<float>").as("embedding")),
        spark.table(s"${prefix}_cents"))
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(out.keySet === batch.keySet)
    out.foreach { case (id, cell) =>
      assert(cell === batch(id), s"doc $id: stream cell $cell != batch ${batch(id)}")
    }
  }

  test("streamed ingest: intra-batch near-dups caught, stored pairs table duplicate-free under replay") {
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    implicit val sc = spark.sqlContext
    val p = IndexParams(buckets = 2)
    val prefix = "graft_corpus_streamintra"
    IncrementalDedup.buildIndexFrom(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), prefix, p)
    val text = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val pairsTable = "stream_ingest_pairs_intra"
    spark.sql(s"DROP TABLE IF EXISTS `$pairsTable`")
    // ONE batch carrying both near-dups: the index predates the batch, so
    // only the intra-batch self-join can see this pair — without it both
    // docs append as clean and the ledger shields them forever
    val src1 = MemoryStream[(Long, String)]
    src1.addData((300L, text), (301L, text))
    val out1 = EventStreams.streamIngestToIndex(spark,
      src1.toDF().toDF("doc_id", "text"), prefix, p, 0.8, pairsTable)
    assert(out1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((301L, 300L)))
    // keep-the-smaller convention: 300 enters the index, 301 does not
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 300L).count() === 1)
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 301L).count() === 0)
    // REPLAY into the SAME pairs table: 301 re-arrives (retried shard), its
    // pair re-verifies — now against the index, which holds 300 — but the
    // anti-joined append must keep the STORED table itself duplicate-free;
    // serving reads the table directly, with no distinct-on-read to hide
    // accumulation behind
    val src2 = MemoryStream[(Long, String)]
    src2.addData((301L, text))
    EventStreams.streamIngestToIndex(spark,
      src2.toDF().toDF("doc_id", "text"), prefix, p, 0.8, pairsTable)
    val stored = spark.table(pairsTable).collect()
    assert(stored.length === 1, s"stored pairs not unique: ${stored.mkString(";")}")
    assert((stored.head.getLong(0), stored.head.getLong(1)) === ((301L, 300L)))
  }

  test("zero-shingle documents enter the replay ledger: a replayed short doc is not re-appended") {
    // A doc with fewer than n words has NO postings rows, so a sizes table
    // built from the postings aggregate alone would omit it — invisible to
    // the replay ledger, its _sharr row re-appends on every replay. The
    // ledger is built from the docs frame (n_sh = 0) precisely for this.
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    implicit val sc = spark.sqlContext
    val p = IndexParams(buckets = 2)
    val prefix = "graft_corpus_zeroshingle"
    IncrementalDedup.buildIndexFrom(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), prefix, p)
    def ingest(tbl: String): Unit = {
      val src = MemoryStream[(Long, String)]
      src.addData((400L, "two words"))
      EventStreams.streamIngestToIndex(spark,
        src.toDF().toDF("doc_id", "text"), prefix, p, 0.8, tbl)
    }
    ingest("zs_pairs1")
    val sizes = spark.table(s"${prefix}_sizes").filter(col("doc_id") === 400L).collect()
    assert(sizes.length === 1 && sizes.head.getLong(1) === 0L,
      s"zero-shingle doc must hold an n_sh=0 ledger row: ${sizes.mkString}")
    ingest("zs_pairs2") // replay: ledger row must block the re-append
    assert(spark.table(s"${prefix}_sharr").filter(col("doc_id") === 400L).count() === 1)
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 400L).count() === 1)
  }

  test("stream_ingest reuses the fingerprint-gated corpus index; corpus mutation rebuilds") {
    // The driver-gate query must NOT pay the corpus-side index build per
    // invocation: the corpus index is a pure function of the non-delta
    // shard, streamed appends go to a droppable overlay, and reuse is
    // gated on the source fingerprint — so an identical re-run keeps the
    // exact same index files, while a corpus regenerated in place (same
    // path, new mtime) fails the gate and rebuilds.
    import graft.operators.IncrementalDedup
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest_fp")
    val src = new java.io.File(s"$sf0001/documents.parquet")
    val dst = new java.io.File(tmp.toFile, "documents.parquet")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
    val sfDir = tmp.toString
    val p = IncrementalDedup.IndexParams()
    val prefix = IncrementalDedup.indexPrefix(sfDir, p)
    def bandFiles: Set[String] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), s"${prefix}_bands".toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).map(_.getPath.getName).filter(_.startsWith("part-")).toSet
    }
    def run(): Seq[(Long, Long)] =
      EventStreams.streamIngestQuery(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val r1 = run()
    assert(r1.nonEmpty) // the mod-10 split plants cross-split near-dups
    val files1 = bandFiles
    // identical re-run: deterministic result AND zero corpus-index rebuild
    // (rewritten tables get fresh job-UUID part file names, so identical
    // file names prove the table bytes were reused, not rebuilt)
    val r2 = run()
    assert(r2 === r1, "stream_ingest must replay deterministically")
    assert(bandFiles === files1, "unchanged corpus must reuse the index files")
    // the shared corpus index is never mutated by streaming: no streamed
    // delta doc (doc_id % 10 == 0) may appear in the BASE index ledger
    assert(spark.table(s"${prefix}_sizes")
      .filter(col("doc_id") % 10 === 0).count() === 0,
      "streamed docs leaked into the immutable corpus index")
    // corpus regenerated in place: same bytes, new mtime → gate must fail
    assert(dst.setLastModified(dst.lastModified() + 60000))
    val r3 = run()
    assert(r3 === r1)
    assert(bandFiles !== files1, "mutated corpus must rebuild the index")
  }

  test("sustained ingest cadence: 5 micro-batches keep state bounded and compaction restores file fan-in") {
    // The ingest loop at daily-drop cadence: each batch appends one file
    // per touched bucket per index table, so fan-in grows linearly with
    // batch count until compaction resets it — prove the loop survives ≥5
    // batches with correct cross-batch detection, zero leaked persisted
    // blocks, and a compaction pass that restores one-file-per-bucket.
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    val p = IndexParams(buckets = 2)
    val prefix = "graft_corpus_cadence"
    val overlay = "graft_ingest_cadence_ov"
    val pairsTable = "cadence_pairs"
    (IncrementalDedup.tableNames(prefix) ++ IncrementalDedup.tableNames(overlay) :+ pairsTable)
      .foreach(t => graft.sources.Warehouse.dropTableAndLocation(spark, t))
    IncrementalDedup.buildIndexFrom(
      Seq((999L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("doc_id", "text"), prefix, p)
    // 5 batches: batch k carries one novel doc (10k) and, from batch 1 on,
    // one near-dup of the PREVIOUS batch's novel doc (10(k-1)+1) — every
    // batch must detect against survivors streamed ≥1 batch earlier.
    // Letter-only vocab: the tokenizer drops non-letters, so a digit-based
    // batch marker would collapse every batch to the same token stream.
    val vocab = Seq("lorem", "ipsum", "dolor", "sit", "amet",
      "consectetur", "adipiscing", "elit", "sed", "dolore")
    def novel(k: Int) = vocab.map(w => s"$w${('a' + k).toChar}").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_cadence_stream")
    (0 until 5).foreach { k =>
      val rows = Seq((10L * k, novel(k))) ++
        (if (k > 0) Seq((10L * (k - 1) + 1, novel(k - 1))) else Nil)
      EventStreams.stageStreamFile(rows.toDF("doc_id", "text"), dir,
        s"b$k", 1000000L * (k + 1))
    }
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val out = EventStreams.streamIngestToIndex(spark, stream, prefix, p, 0.8,
      pairsTable, overlayPrefix = Some(overlay))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === (1 until 5).map(k => (10L * (k - 1) + 1, 10L * (k - 1))).toSet,
      s"every batch must catch the near-dup of the previous batch's survivor: $out")
    // per-batch localCheckpoint blocks must be released, not accumulated
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore,
      "ingest leaked persisted RDD blocks across micro-batches")
    // base index untouched; overlay holds exactly the 5 clean survivors
    assert(spark.table(s"${prefix}_sizes").count() === 1)
    assert(spark.table(s"${overlay}_sizes").select("doc_id").collect()
      .map(_.getLong(0)).toSet === (0 until 5).map(10L * _).toSet)
    // fan-in grew with cadence (4 appends after the creating batch) —
    // compaction restores the bucket quantum on every overlay table
    val sizesFiles = graft.sources.Warehouse.dataFileCount(spark, s"${overlay}_sizes")
    assert(sizesFiles > p.buckets,
      s"expected append-accumulated fan-in, got $sizesFiles files")
    val keysOf = Map("bands" -> Seq("band", "bhash"), "cbands" -> Seq("band", "bhash"),
      "postings" -> Seq("doc_id", "s"), "sizes" -> Seq("doc_id"), "sharr" -> Seq("doc_id"))
    keysOf.foreach { case (suf, keys) =>
      graft.sources.Warehouse.compactBucketed(spark, s"${overlay}_$suf", keys, p.buckets)
      val files = graft.sources.Warehouse.dataFileCount(spark, s"${overlay}_$suf")
      assert(files <= p.buckets, s"${overlay}_$suf: $files files after compaction")
    }
    // and the compacted overlay still serves: one more batch with a dup of
    // batch 4's survivor must detect it
    val dir2 = java.nio.file.Files.createTempDirectory("graft_cadence_stream2")
    EventStreams.stageStreamFile(Seq((41L, novel(4))).toDF("doc_id", "text"),
      dir2, "b5", 7000000L)
    val out2 = EventStreams.streamIngestToIndex(spark,
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(dir2.toString),
      prefix, p, 0.8, pairsTable, overlayPrefix = Some(overlay))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2.contains((41L, 40L)), s"compacted overlay must still serve: $out2")
  }

  test("a half-committed append refuses to serve: in-flight marker blocks the stream loudly") {
    // The five index-table appends are not atomic; a crash mid-append
    // leaves some tables extended and some not, and every answer computed
    // against that state is silently wrong (doubled postings on replay,
    // missing bands). A restarted stream reuses its prefix WITHOUT the
    // fingerprint gate, so streamIngestToIndex itself must refuse.
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    implicit val sc = spark.sqlContext
    val p = IndexParams(buckets = 2)
    val prefix = "graft_corpus_midappend"
    IncrementalDedup.buildIndexFrom(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), prefix, p)
    // healthy appends must NOT trip the check: marker restored after success
    val src0 = MemoryStream[(Long, String)]
    src0.addData((500L, "lorem ipsum dolor sit amet consectetur"))
    EventStreams.streamIngestToIndex(spark,
      src0.toDF().toDF("doc_id", "text"), prefix, p, 0.8, "midappend_pairs0")
    IncrementalDedup.tableNames(prefix).foreach { t =>
      assert(!graft.sources.Warehouse.storedFingerprint(spark, t)
        .contains(IncrementalDedup.InFlightMarker),
        s"$t kept the in-flight marker after a successful append")
    }
    // simulate the crash window: marker left on one table
    graft.sources.Warehouse.stampFingerprint(spark, s"${prefix}_bands",
      IncrementalDedup.InFlightMarker)
    val src1 = MemoryStream[(Long, String)]
    src1.addData((501L, "one two three four five six"))
    val e = intercept[IllegalArgumentException] {
      EventStreams.streamIngestToIndex(spark,
        src1.toDF().toDF("doc_id", "text"), prefix, p, 0.8, "midappend_pairs1")
    }
    assert(e.getMessage.contains("half-committed"), e.getMessage)
    // recovery is a rebuild, after which the stream serves again
    IncrementalDedup.buildIndexFrom(
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), prefix, p)
    val src2 = MemoryStream[(Long, String)]
    src2.addData((502L, "seven eight nine ten eleven twelve"))
    EventStreams.streamIngestToIndex(spark,
      src2.toDF().toDF("doc_id", "text"), prefix, p, 0.8, "midappend_pairs2")
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 502L).count() === 1)
  }

  test("ingest crash AFTER state commit, BEFORE checkpoint: restart replays to the clean-run state") {
    // The worst crash window for exactly-once: batch 0's five index appends
    // and pair writes are all durable, but the streaming engine never
    // recorded the batch — a restart MUST replay it, and the ledger filter
    // + anti-joined pair append must make that replay a no-op. This is the
    // streaming half of the reference's kill-the-worker test
    // (tests/test_wc.py:165-251): inject the failure, rerun, demand the
    // clean run's exact state.
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    val p = IndexParams(buckets = 2)
    val text1 = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    def stagedDir(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_crash_stream")
      EventStreams.stageStreamFile(
        Seq((100L, text1), (101L, text1)).toDF("doc_id", "text"), dir, "b0", 1000000L)
      EventStreams.stageStreamFile(
        Seq((200L, text1)).toDF("doc_id", "text"), dir, "b1", 2000000L)
      dir.toString
    }
    def fileStream(dir: String) = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(dir)

    // clean, uninterrupted run → the expected end state
    val cleanPrefix = "graft_corpus_crashclean"
    IncrementalDedup.buildIndexFrom(base, cleanPrefix, p)
    val cleanPairs = EventStreams.streamIngestToIndex(spark, fileStream(stagedDir()),
        cleanPrefix, p, 0.8, "crash_clean_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cleanPairs === Set((101L, 100L), (200L, 100L)))

    // crashed run: die right after batch 0's state is fully applied
    val prefix = "graft_corpus_crashtest"
    IncrementalDedup.buildIndexFrom(base, prefix, p)
    val dataDir = stagedDir()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_crash_ckpt").toString
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.streamIngestToIndex(spark, fileStream(dataDir), prefix, p, 0.8,
        "crash_pairs", Some(ckpt),
        _ => if (!failed.getAndSet(true)) throw new RuntimeException("injected crash"))
    }
    // the crash window is real: batch 0's survivor IS durable already
    assert(spark.table(s"${prefix}_sizes").filter(col("doc_id") === 100L).count() === 1)
    // restart from the same checkpoint: batch 0 replays as a no-op, batch 1 runs
    val out = EventStreams.streamIngestToIndex(spark, fileStream(dataDir), prefix, p, 0.8,
      "crash_pairs", Some(ckpt))
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === cleanPairs)
    // and the whole index state equals the clean run's — no doubled postings
    Seq("_sizes", "_postings", "_bands").foreach { suf =>
      assert(spark.table(s"$prefix$suf").count() === spark.table(s"$cleanPrefix$suf").count(),
        s"$suf diverged from the clean run after replay")
    }

    // the same worst-case window in OVERLAY mode (the driver-gate shape:
    // immutable base + droppable overlay): batch 0's overlay append and
    // pair write are durable, the checkpoint never recorded the batch —
    // restart must replay it as a no-op against the base ∪ overlay ledger
    val ovBase = "graft_corpus_crashovbase"
    val overlay = "graft_ingest_crashov_ov"
    (IncrementalDedup.tableNames(overlay) :+ "crash_ov_pairs")
      .foreach(t => graft.sources.Warehouse.dropTableAndLocation(spark, t))
    IncrementalDedup.buildIndexFrom(base, ovBase, p)
    val ovData = stagedDir()
    val ovCkpt = java.nio.file.Files.createTempDirectory("graft_crash_ov_ckpt").toString
    val ovFailed = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.streamIngestToIndex(spark, fileStream(ovData), ovBase, p, 0.8,
        "crash_ov_pairs", Some(ovCkpt),
        _ => if (!ovFailed.getAndSet(true)) throw new RuntimeException("injected crash"),
        overlayPrefix = Some(overlay))
    }
    // the crash window is real: the survivor reached the OVERLAY, base untouched
    assert(spark.table(s"${overlay}_sizes").filter(col("doc_id") === 100L).count() === 1)
    assert(spark.table(s"${ovBase}_sizes").count() === 1)
    val ovOut = EventStreams.streamIngestToIndex(spark, fileStream(ovData), ovBase, p, 0.8,
        "crash_ov_pairs", Some(ovCkpt), overlayPrefix = Some(overlay))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ovOut === cleanPairs)
    // overlay state equals the clean run's index delta — no doubled postings
    Seq("_sizes", "_postings", "_bands").foreach { suf =>
      assert(spark.table(s"$overlay$suf").count() ===
             spark.table(s"$cleanPrefix$suf").count() - spark.table(s"$ovBase$suf").count(),
        s"overlay$suf diverged from the clean run's streamed delta after replay")
    }
  }

  test("streamSnapshotDiffQuery equals the batch snapshotDiff row for row") {
    val streamed = graft.streaming.EventStreams
      .streamSnapshotDiffQuery(spark, sf0001).collect().toSeq
    val batch = graft.operators.Pipeline
      .snapshotDiff(spark, sf0001).collect().toSeq
    assert(streamed === batch)
    // all three statuses actually exercised across the two micro-batches
    assert(streamed.map(_.getString(1)).toSet === Set("added", "removed", "changed"))
  }

  test("stream_metric_corr equals the batch metricCorr row for row") {
    val streamed = graft.streaming.EventStreams
      .streamMetricCorrQuery(spark, sf0001).collect().toSeq
    val batch = graft.operators.TextAnalysis.metricCorr(spark, sf0001).collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stream_join_left: inner pairs preserved, unmatched emit iff evicted") {
    import org.apache.spark.sql.functions._
    val left = graft.streaming.EventStreams
      .streamStreamLeftJoinQuery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val inner = graft.streaming.EventStreams
      .streamStreamJoinQuery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(1), r.getLong(4)))
    // 1. the matched slice IS the inner join, column-for-column
    assert(left.filter(_._4 != -1L).toSet === inner.toSet)
    // 2. sentinels travel together: purchase_id = −1 ⇔ purchase_us = −1
    assert(left.forall(r => (r._4 == -1L) == (r._5 == -1L)))
    // 3. eviction predicate: every unmatched click's horizon is closed
    //    under the final global watermark, and every closed-horizon
    //    unmatched click IS present (none lost in state)
    val ev = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wmUs = math.min(ev("click"), ev("purchase")) - 10L * 60 * 1000000
    val horizon = 30L * 60 * 1000000
    val unmatched = left.filter(_._4 == -1L)
    assert(unmatched.nonEmpty, "fixture must produce unmatched clicks")
    assert(unmatched.forall(_._3 + horizon < wmUs),
      "an unmatched click past the watermark horizon leaked out of state")
    val matchedIds = left.filter(_._4 != -1L).map(_._1).toSet
    val expectedUnmatched = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type") === "click")
      .select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (id, us) => !matchedIds.contains(id) && us + horizon < wmUs }
      .map(_._1).toSet
    assert(unmatched.map(_._1).toSet === expectedUnmatched)
  }

  test("stream_media_dedup: multi-batch stream emits exactly the batch cross-split pairs") {
    // the drop stages as four shards replayed one per micro-batch, so this
    // equality exercises candidate joins + pair dedup across batch
    // boundaries, not a single-batch degenerate run
    val streamed = graft.streaming.EventStreams
      .streamMediaDedupQuery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val batch = graft.multimodal.MediaIndex.mediaDupCrossBatch(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(streamed.nonEmpty, "fixture must produce cross-split pairs")
    assert(streamed.toSeq === batch.toSeq,
      "streamed pair set must equal the batch cross-split check row for row")
    // every pair really crosses the split: one endpoint in the drop shard
    // (id % 10 == 0 in the staged universe), one in the corpus index
    assert(streamed.forall(p => (p._1 % 10 == 0) != (p._2 % 10 == 0)),
      "a pair failed to cross the drop/corpus split")
  }

  test("stream_join_full: matched ≡ inner; each unmatched side ≡ its evicted complement") {
    import org.apache.spark.sql.functions._
    val full = graft.streaming.EventStreams
      .streamStreamFullJoinQuery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val inner = graft.streaming.EventStreams
      .streamStreamJoinQuery(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(1), r.getLong(4)))
    // 1. the fully-populated slice IS the inner join, column-for-column
    assert(full.filter(r => r._1 != -1L && r._4 != -1L).toSet === inner.toSet)
    // 2. sentinels travel together per side, and never on both sides
    assert(full.forall(r => (r._1 == -1L) == (r._3 == -1L)))
    assert(full.forall(r => (r._4 == -1L) == (r._5 == -1L)))
    assert(full.forall(r => !(r._1 == -1L && r._4 == -1L)))
    // 3. eviction predicates, both directions: unmatched clicks close
    //    their match horizon under the final watermark (the left rule);
    //    unmatched purchases close at p_ts itself (a future click has
    //    c_ts > wm and a match needs c_ts <= p_ts) — and every
    //    closed-horizon unmatched row IS present (none lost in state)
    val ev = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wmUs = math.min(ev("click"), ev("purchase")) - 10L * 60 * 1000000
    val horizon = 30L * 60 * 1000000
    val unmatchedC = full.filter(_._4 == -1L)
    val unmatchedP = full.filter(_._1 == -1L)
    assert(unmatchedC.nonEmpty && unmatchedP.nonEmpty,
      "fixture must produce unmatched rows on both sides")
    assert(unmatchedC.forall(_._3 + horizon < wmUs))
    assert(unmatchedP.forall(_._5 < wmUs))
    def sideEvents(t: String) = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type") === t)
      .select(col("event_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mc = inner.map(_._1).toSet
    assert(unmatchedC.map(_._1).toSet ===
      sideEvents("click").filter { case (id, us) =>
        !mc.contains(id) && us + horizon < wmUs }.map(_._1).toSet)
    val mp = inner.map(_._4).toSet
    assert(unmatchedP.map(_._4).toSet ===
      sideEvents("purchase").filter { case (id, us) =>
        !mp.contains(id) && us < wmUs }.map(_._1).toSet)
  }

  test("stream_attribution: evicted-session channel rollup equals the island replay; open sessions really held back") {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.sources.Tables.events(spark, sf0001)
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wm = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) - 600000000L
    val sessions = ev
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("ns", when(col("prev_ts").isNull ||
        (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum("ns").over(running))
      .groupBy("user_id", "sid")
      .agg(min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("channel"),
           (max(unix_micros(col("ts"))) + 1800000000L).as("end_us"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"),
           sum(when(col("event_type") === "purchase",
                    expr("cast(round(value * 100) as bigint)")).otherwise(0L)).as("purch_cents"))
    def rollup(df: org.apache.spark.sql.DataFrame) = df.groupBy("channel")
      .agg(count(lit(1)).as("n_sessions"),
           sum((col("n_purch") > 0).cast("bigint")).as("n_converting"),
           sum("n_purch").as("n_purchases"),
           sum("purch_cents").as("attributed_cents"))
      .collect().map(_.toSeq).toSet
    val replay = rollup(sessions.filter(col("end_us") <= wm))
    val got = EventStreams.streamAttributionQuery(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(got === replay,
      "streamed rollup must equal the island replay under the eviction predicate")
    assert(got.nonEmpty, "no channel attributed — degenerate")
    // the eviction predicate is load-bearing: sessions still open at the
    // final watermark exist and are NOT in the emitted set
    val all = sessions.count()
    val evicted = sessions.filter(col("end_us") <= wm).count()
    assert(evicted < all,
      s"every session closed before the watermark ($evicted of $all) — the fixture cannot exercise eviction")
  }

  test("stream_kll: phase-1 state is the <=49-row stratum histogram; survivors fit the budget; exact when n <= k") {
    val rows = EventStreams.streamKllQuery(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(50L, 90L, 95L, 99L))
    // the phase-1 complete-mode state is the stratum histogram, whose row
    // count = distinct (scope, tz) groups — bounded by the 49 possible
    // trailing-zero counts regardless of stream size (the batch stratified
    // frame IS the materialized content, per the shared oracle)
    val histRows = graft.operators.Analytics.kllRows(
        graft.sources.Tables.events(spark, sf0001).select(
          lit("all").as("scope"),
          col("event_id").cast("string").as("rkey"),
          expr("cast(round(value * 100) as bigint)").as("cents")))
      .select("scope", "tz").distinct().count()
    assert(histRows <= 49L, "stratum histogram state exceeded 49 rows")
    // the emitted survivor set fits the budget, and at sf0.001 (1000
    // events <= k = 1024) the sketch IS the data: level 0, exact order
    // statistics — cross-check one quantile against a scalar sort
    val lvl = rows.head.getLong(2)
    val kept = rows.head.getLong(3)
    assert(kept <= 1024L, s"survivors $kept exceed the budget")
    if (lvl == 0L) {
      val cents = graft.sources.Tables.events(spark, sf0001)
        .select(expr("cast(round(value * 100) as bigint)").as("c"))
        .collect().map(_.getLong(0)).sorted
      assert(kept === cents.length.toLong)
      val r50 = ((50L * cents.length + 99) / 100).toInt
      val est50 = rows.find(_.getLong(0) == 50L).get.getDouble(1)
      assert(est50 === cents(r50 - 1) / 100.0,
        "level-0 sketch must return the exact median")
    }
  }

  test("session boundary fixture guard: no exact-gap adjacent event pair exists in the corpus") {
    // The island-chain batch ops (sessionize / attribution) keep an event
    // EXACTLY `gap` after its predecessor in-session (strict `> gap` starts
    // a new one), and the batch session_window probe pinned the same
    // exact-touch-merges convention (RelationalSpec). The streaming
    // session_window twins share the batch oracles, so an exact-gap pair in
    // the CORPUS would make any engine-side boundary drift invisible until
    // it flipped a driver hash (r11 ADVICE). µs-grained synthetic
    // timestamps make an exact 1800.000000s delta measure-zero — assert
    // that holds for every sf the gates run at, so the assumption is a
    // checked fixture property, not a comment.
    import org.apache.spark.sql.expressions.Window
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")
         if new java.io.File(dir).isDirectory) {
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val exact = graft.sources.Tables.events(spark, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .filter(col("prev_us").isNotNull &&
                unix_micros(col("ts")) - col("prev_us") === 1800000000L)
        .count()
      assert(exact === 0L,
        s"$dir: $exact adjacent event pairs sit exactly on the 30-minute session gap — " +
          "the shared batch/stream session oracles would no longer pin the boundary")
    }
  }

  test("stream_skew_audit: the ingest-maintained bound dominates the exact max; verdicts agree") {
    import graft.operators.Relational
    import graft.streaming.EventStreams
    val row = EventStreams.streamSkewAuditQuery(spark, sf0001).collect()(0)
    val (n, _, maxc) = Relational.joinSkewStats(spark, sf0001)
    assert(row.getLong(0) === n, s"grid row-sum must equal the corpus row count: $row vs $n")
    assert(row.getLong(1) >= maxc,
      s"CMS min-over-rows max-cell must BOUND the exact hottest key: ${row.getLong(1)} < $maxc")
    // at this grid load factor the bound is tight enough that the
    // conservative router agrees with the exact batch audit
    assert(row.getString(4) === Relational.joinSkewRouteOf(n, maxc),
      s"stream verdict diverged from the batch audit: $row")
  }

  test("stream_late_audit stages its micro-batch files under graft.stream.checkpointRoot") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_root")
    spark.conf.set("graft.stream.checkpointRoot", root.toString)
    try SparkEntry.queries("stream_late_audit")(spark, sf0001).collect()
    finally spark.conf.unset("graft.stream.checkpointRoot")
    val staged = root.toFile.listFiles().filter(_.getName.startsWith("graft_late_audit"))
    assert(staged.length === 1, root.toFile.list().toSeq)
    assert(staged.head.list().toSet === Set("b0.parquet", "b1.parquet", "b2.parquet"))
  }
}
