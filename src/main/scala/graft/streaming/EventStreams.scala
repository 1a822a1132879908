package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.functions.NumericFunctions.duckRound
import graft.functions.TextFunctions
import graft.operators.Lineage._

/** Structured Streaming forms of the engine's analytics: the same logical
  * transforms as `graft.operators.Relational`/`Dedup`, expressed over an
  * unbounded source with watermarks for state cleanup.
  *
  * Two of these run inside the driver's correctness gate
  * (`stream_tumbling`, `stream_dedup` in SparkEntry.queries): the bounded
  * testdata is replayed through a real streaming query
  * (`Trigger.AvailableNow` → memory sink) and the final materialization is
  * hash-compared against the batch SQL oracle. Only order-insensitive
  * streaming computations qualify for that (commutative aggregates, set
  * outputs) — per-row streaming state that depends on arrival order
  * (`sessionCounts`) is covered by the deterministic-input test suite
  * instead. At production scale the source line changes to
  * `readStream.format("kafka")...` — transforms and sinks are
  * source-agnostic.
  */
object EventStreams {

  /** Tumbling-window event counts over an unbounded stream. The 10-minute
    * watermark bounds state: windows older than watermark are finalized and
    * dropped (late data beyond it is discarded deterministically). */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** True microseconds of a Timestamp: `getTime` is millisecond-resolution
    * (the sub-ms part lives only in `getNanos`), so `getTime * 1000` alone
    * would silently truncate micro-precision events. */
  private def tsMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000) % 1000

  /** Per-user running session state via mapGroupsWithState: counts sessions
    * separated by >`gapSeconds` of inactivity. Custom state machine — the
    * shape Structured Streaming's built-in windows can't express. */
  final case class SessionState(lastTsMicros: Long, nSessions: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long)

  def sessionCounts(spark: SparkSession, events: DataFrame,
                    gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id").cast("long"),
              col("ts").cast("timestamp"))
      .as[(Long, java.sql.Timestamp)]

    def update(userId: Long, batch: Iterator[(Long, java.sql.Timestamp)],
               state: GroupState[SessionState]): UserSessions = {
      var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
      // Process in event-time order within the batch for deterministic gaps.
      batch.toSeq.sortBy(t => tsMicros(t._2)).foreach { case (_, ts) =>
        val micros = tsMicros(ts)
        val isNew = st.lastTsMicros == Long.MinValue ||
          micros - st.lastTsMicros > gapSeconds * 1000000L
        st = SessionState(micros, st.nSessions + (if (isNew) 1 else 0))
      }
      state.update(st)
      UserSessions(userId, st.nSessions)
    }

    typed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
      .toDF()
  }

  final case class OpenSession(startMicros: Long, lastMicros: Long, n: Long)
  final case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Per-user COMPLETED-session emission via flatMapGroupsWithState — the
    * 0..n-rows-per-group stateful shape `mapGroupsWithState` cannot express:
    * each micro-batch emits one row per session closed by a later event
    * (gap > `gapSeconds`), while the still-open session rides in state.
    * State per user is one fixed-size record regardless of history length —
    * the bound a 100 TB stream needs. */
  def completedSessions(spark: SparkSession, events: DataFrame,
                        gapSeconds: Long = 1800L): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id").cast("long"), col("ts").cast("timestamp"))
      .as[(Long, java.sql.Timestamp)]
    def update(userId: Long, batch: Iterator[(Long, java.sql.Timestamp)],
               state: GroupState[OpenSession]): Iterator[SessionOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var st = state.getOption
      batch.toSeq.sortBy(t => tsMicros(t._2)).foreach { case (_, ts) =>
        val us = tsMicros(ts)
        st match {
          case Some(s) if us - s.lastMicros <= gapSeconds * 1000000L =>
            st = Some(s.copy(lastMicros = us, n = s.n + 1))
          case Some(s) =>
            out += SessionOut(userId, s.startMicros, s.lastMicros, s.n)
            st = Some(OpenSession(us, us, 1))
          case None =>
            st = Some(OpenSession(us, us, 1))
        }
      }
      st.foreach(state.update)
      out.iterator
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
      .toDF()
  }

  /** Wire a streaming frame to an in-memory sink (testing / demo).
    * Returns the running query; results land in table `queryName`. */
  def startMemorySink(df: DataFrame, queryName: String,
                      mode: OutputMode = OutputMode.Complete()): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .start()

  /** File-based streaming source over a driver parquet table — the dir
    * treated as an append-only stream (the local stand-in for a message
    * bus). The schema is read from the source file's footer on the driver
    * (`Tables.parquetSchema`, no Spark job), so the nanos-timestamp
    * `events.ts` arrives as the on-disk long and is converted exactly like
    * `Tables.events` does. */
  // One staged stream directory per (sfDir, table) per JVM: repeated
  // invocations (bench warm+timed, verify, specs) reuse the same symlink
  // dir instead of leaking a fresh temp dir each call.
  private val streamDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def tableStream(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val srcPath = s"$sfDir/$name.parquet"
    // FileStreamSource only accepts directories. The driver testdata is one
    // parquet FILE per table → stage a symlink inside a temp dir (cached
    // per source file, cleaned at JVM exit). A Spark-WRITTEN table
    // (ScaleProbe's k× replicas) is already a directory → stream it
    // directly; symlinking a directory would put the part files one level
    // below the source's non-recursive listing, and the stream silently
    // reads ZERO files — a complete-mode aggregate then returns an empty
    // table, so the probe "measures" an empty stream.
    val dir = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(srcPath)))
      java.nio.file.Paths.get(srcPath)
    else streamDirs.computeIfAbsent(srcPath, { key =>
      val d = scratchTempDir(spark, s"graft_stream_$name")
      val link = d.resolve(s"$name.parquet")
      java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(key))
      // deleteOnExit runs LIFO: register the dir first so the link (deleted
      // first) leaves it empty and the dir delete succeeds
      d.toFile.deleteOnExit()
      link.toFile.deleteOnExit()
      d
    })
    val st = spark.readStream.schema(graft.sources.Tables.parquetSchema(spark, srcPath))
      .parquet(dir.toString)
    // Same ts-vintage normalization as the batch loader (Tables.events):
    // long-nanos and TIMESTAMP_NTZ both become TimestampType, which
    // watermarks/window() require.
    if (name == "events") graft.sources.Tables.normalizeEventTs(st) else st
  }

  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    tableStream(spark, sfDir, "events")

  // Memory-sink tables are session-global; a fresh name per run keeps
  // Verify/Bench (warmup + timed) invocations independent.
  private val runSeq = new AtomicInteger(0)

  // Every prefix that ever got a memory-sink table, so a harness can drop
  // them ALL between measurements — each sink pins its full materialized
  // result in driver memory for as long as its temp view exists.
  private val sinkPrefixes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drop every memory-sink temp view this object has created — the
    * between-queries hygiene hook for harnesses (Bench): sink data stays
    * reachable through the session's temp-view registry until dropped, so a
    * long run accumulates one full result set per streaming query. */
  def dropSinkTables(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val prefixes = sinkPrefixes.asScala.toSet
    if (prefixes.nonEmpty)
      spark.catalog.listTables().collect()
        .filter(t => prefixes.exists(p => t.name.startsWith(s"${p}_")))
        .foreach(t => spark.catalog.dropTempView(t.name))
    unloadStateStores()
  }

  /** Unload every cached state-store provider. A finished bounded-replay
    * query leaves its providers (full HDFSBackedStateStore version maps —
    * the whole aggregate state, in memory) loaded in the executor until the
    * 60s maintenance cycle evicts them; a back-to-back measurement then
    * runs under the previous run's heap, reading GC pressure as query time
    * (observed: stream_sessions ×10 warm 16.5s vs 9.4s cold). Local-mode
    * only concern — a real cluster's checkpoints live across executors and
    * runs don't share a JVM. `StateStore.unloadAll` is `private[sql]`, so
    * reach it reflectively; if the internals move, skip silently (hygiene,
    * not correctness). */
  def unloadStateStores(): Unit =
    try {
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      val obj = cls.getField("MODULE$").get(null)
      cls.getMethod("unloadAll").invoke(obj)
    } catch { case _: Throwable => () }

  /** Root for EPHEMERAL per-run checkpoints (offsets/commits/state of the
    * bounded replays below — per-invocation scratch, deleted on
    * completion, never reused across runs) and for the replays' staged
    * micro-batch files. Each checkpoint commit creates and renames a few
    * small files; what those cost is one `chmod`/`readlink` process per
    * file in Hadoop's local filesystem, removed by
    * [[graft.sources.LocalFs]], not the bytes or their fsync. The root
    * is `graft.stream.checkpointRoot` when set, else
    * [[defaultCheckpointRoot]]. RESTARTABLE checkpoints (the crash-replay
    * fixtures that pass an explicit `checkpointDir`) are untouched —
    * durability is their point, so they stay on the durable store the
    * caller chose. */
  private[graft] def checkpointRoot(spark: SparkSession): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      spark.conf.get("graft.stream.checkpointRoot", defaultCheckpointRoot))
    java.nio.file.Files.createDirectories(root)
    root
  }

  /** The local default of [[checkpointRoot]], resolved once per JVM:
    * /dev/shm (the image's RAM-backed scratch) when it has headroom, else
    * java.io.tmpdir — see [[graft.sources.Warehouse.shmIfRoomy]] for the
    * cluster guidance (point graft.stream.checkpointRoot at node-local
    * NVMe). */
  private[graft] lazy val defaultCheckpointRoot: String =
    graft.sources.Warehouse.shmIfRoomy("graft_ckpt")
      .getOrElse(sys.props("java.io.tmpdir") + "/graft_ckpt")

  /** Fresh ephemeral directory under [[checkpointRoot]] — the staging area
    * for the bounded-replay fixtures' micro-batch drop files, which sit on
    * the TIMED path of every multi-batch streaming query (written,
    * mtime'd, then re-read by FileStreamSource). deleteOnExit, like the
    * /tmp temp dirs it replaces. */
  private[graft] def scratchTempDir(spark: SparkSession,
                                    prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(checkpointRoot(spark), prefix)
    d.toFile.deleteOnExit()
    d
  }

  /** Replay a bounded source through a streaming query to completion and
    * return the final memory-sink table.
    *
    * A micro-batch's fixed cost is its checkpoint files: the offset and
    * commit log entries, plus one delta file per state store per shuffle
    * partition (a stream-stream join has 4 stores), each with its `.crc`
    * and checksum files. So the file count, not the data, scales with
    * SHUFFLE PARTITIONS, and the batch-oriented partition count (sized for
    * scan parallelism) multiplies it — measured 6.2s for a near-empty
    * micro-batch at 32 partitions, when Hadoop's local filesystem still
    * forked a `chmod` or `readlink` process per file (see
    * [[graft.sources.LocalFs]], which removed those processes). Streaming
    * queries therefore plan with their own partition count
    * (`graft.stream.shufflePartitions`, default 8, never raising the
    * session value; with 4 cores the session value 4 is the smaller, so
    * every replay runs at 4) — at production rates you size this to
    * sustained throughput, because it also fixes the state parallelism for
    * the checkpoint's lifetime. */
  private def runToCompletion(spark: SparkSession, streamed: DataFrame,
                              prefix: String, mode: OutputMode,
                              widthOverride: Option[Int] = None): DataFrame = {
    // drop earlier runs' memory-sink tables (full materialized results
    // pinned in driver memory) — keep at most the table being created
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith(s"${prefix}_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    sinkPrefixes.add(prefix)
    val name = s"${prefix}_${runSeq.incrementAndGet()}"
    // Fresh (createTempDirectory — never a resumable leftover: a stale
    // same-name checkpoint would make the replay skip already-committed
    // source files and materialize a PARTIAL table) ephemeral checkpoint
    // on fast local scratch, deleted on completion.
    val ckptDir = java.nio.file.Files.createTempDirectory(checkpointRoot(spark), name)
    try withConf(spark, "spark.sql.shuffle.partitions", streamWidth(spark, widthOverride)) {
      val q = streamed.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally deleteQuietly(ckptDir)
    spark.table(name)
  }

  /** The shuffle width streaming-scoped work plans at (see
    * [[runToCompletion]]): `graft.stream.shufflePartitions` (default 8) or
    * `widthOverride`, never above the session value. */
  private def streamWidth(spark: SparkSession, widthOverride: Option[Int] = None): String =
    math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, widthOverride.getOrElse(
      spark.conf.get("graft.stream.shufflePartitions", "8").toInt)).toString

  /** Runs `body` with session conf `key` set to `value`, then restores the
    * previous value, or unsets the key when it had none. */
  private def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  /** Best-effort recursive delete of a scratch checkpoint dir: state-store
    * providers may still hold open handles on failure paths — hygiene, not
    * correctness. */
  private def deleteQuietly(dir: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => try java.nio.file.Files.deleteIfExists(p)
                      catch { case _: Throwable => () })
    } catch { case _: Throwable => () }

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Driver-verified: the tumbling-window aggregation run as a REAL
    * streaming query over the events table, materialized at end-of-stream.
    * Sums/counts are commutative, so the final complete-mode table is
    * batch-identical regardless of file/batch arrival order. */
  def streamTumblingQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val result = runToCompletion(spark,
      tumblingCounts(eventsStream(spark, sfDir)),
      "stream_tumbling", OutputMode.Complete())
    result
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:00:00").as("hour"),
              col("event_type"), col("n_events"),
              duckRound(col("sum_value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Driver-verified: the PRODUCTION tumbling form — the same hourly
    * aggregate in APPEND mode, where a window row is emitted exactly once
    * when the watermark (max event time − 10 min) passes its end, and its
    * state is evicted at that moment. Complete mode re-emits EVERY window
    * ever seen at each trigger — unusable over an unbounded stream; Append
    * keeps state bounded to the open windows (≤ watermark-delay/window-len
    * per group). Oracle = the batch hourly aggregate restricted to windows
    * with `window_end ≤ final watermark` (the emission rule modeled — the
    * [[streamSessionsAppendQuery]] discipline); the trailing open windows
    * are absent by design. */
  def streamTumblingAppendQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val result = runToCompletion(spark,
      tumblingCounts(eventsStream(spark, sfDir)),
      "stream_tumbling_append", OutputMode.Append())
    result
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:00:00").as("hour"),
              col("event_type"), col("n_events"),
              duckRound(col("sum_value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Driver-verified: LATE-DATA semantics made observable — the one
    * behavior that separates streaming correctness from batch replay. The
    * events table arrives in THREE ordered micro-batches (`event_id mod
    * 8` split, mtime-forced order, `maxFilesPerTrigger=1`): batch 0
    * (id % 8 ∉ {0,4}, 3/4 of events) establishes the watermark; batch 1
    * (id % 8 = 4) is the BRIDGE that propagates it — Spark's late-event
    * filter runs one batch BEHIND eviction (SPARK-24634's two watermarks:
    * `eventTimeWatermarkForLateEvents` is the PREVIOUS batch's value, so
    * with only two batches the filter never sees a non-zero watermark and
    * nothing is ever late — measured, not read); batch 2 (id % 8 = 0) is
    * a time-uniform sample, so most of its rows are LATE under the now-
    * propagated batch-0 watermark and Spark DROPS them
    * (`numRowsDroppedByWatermark`), while its head-of-stream rows land in
    * still-open windows and count. The lag also guarantees consistency:
    * batch 2's late filter equals batch 1's eviction bound, so a
    * surviving row can never target an already-emitted window (no
    * duplicate emission) — the reason Spark lags the filter at all.
    *
    * The oracle models the operational semantics exactly (the
    * `stream_ingest` discipline — sequential CTEs, not a batch
    * approximation): a batch-2 row counts iff its window end is above
    * the batch-0 watermark; emitted windows are those closed under the
    * FINAL watermark (whose max-tracking includes dropped rows). At
    * 100 TB this is the audit a pipeline runs before trusting a
    * streaming aggregate: how much arrived too late to count, and the
    * answer is a modeled number, not a shrug. */
  def streamLateAuditQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("event_id"))
    val dir = scratchTempDir(spark, "graft_late_audit")
    dir.toFile.deleteOnExit()
    stageStreamFile(ev.filter(col("event_id") % 8 =!= 0 && col("event_id") % 8 =!= 4),
                    dir, "b0", 1000000L)
    stageStreamFile(ev.filter(col("event_id") % 8 === 4), dir, "b1", 2000000L)
    stageStreamFile(ev.filter(col("event_id") % 8 === 0), dir, "b2", 3000000L)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("event_type"), col("n_events"))
    runToCompletion(spark, agg, "stream_late_audit", OutputMode.Append())
      .select(date_format(col("ws"), "yyyy-MM-dd HH:00:00").as("hour"),
              col("event_type"), col("n_events"))
      .orderBy("hour", "event_type")
  }

  /** Driver-verified: the HOPPING (sliding) window aggregation as a real
    * streaming query — hourly aggregates advancing every 15 minutes, each
    * event entering 4 overlapping windows via the same Expand the batch
    * form plans. Watermark bounds state to the trailing window span. */
  /** Driver-verified: the PRODUCTION hopping form — [[streamSlidingQuery]]
    * in APPEND mode: each 1-hour/15-min window row is emitted exactly once
    * when the watermark passes its end and its state is evicted at that
    * moment, so state is bounded by the OPEN windows (4 per event type at
    * this overlap) instead of the whole window history Complete mode
    * re-emits every trigger. The [[streamTumblingAppendQuery]] discipline
    * applied to the 4-way Expand: oracle = the batch hop aggregate
    * restricted to `window_end ≤ final watermark`; the trailing open
    * windows are absent BY DESIGN (StreamingSpec proves append =
    * complete ∖ open exactly). */
  def streamSlidingAppendQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    runToCompletion(spark, agg, "stream_sliding_append", OutputMode.Append())
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
              col("event_type"), col("n_events"),
              duckRound(col("sum_value"), 4).as("sum_value"))
      .orderBy("win_start", "event_type")
  }

  def streamSlidingQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    runToCompletion(spark, agg, "stream_sliding", OutputMode.Complete())
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
              col("event_type"), col("n_events"),
              duckRound(col("sum_value"), 4).as("sum_value"))
      .orderBy("win_start", "event_type")
  }

  /** Driver-verified: stream-static enrichment join — the events STREAM
    * joined against the static customer dimension (broadcast per
    * micro-batch; the static side is re-resolvable, so at scale it can be
    * a slowly-changing table) and aggregated per market segment. Inner
    * equi-join + commutative aggregates keep the end-of-stream complete-
    * mode table batch-identical. */
  def streamEnrichQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val customers = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventsStream(spark, sfDir)
      .select(col("user_id"), col("value"))
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    val result = runToCompletion(spark, joined, "stream_enrich", OutputMode.Complete())
    result
      .select(col("c_mktsegment"), col("n_events"),
              duckRound(col("sum_value"), 4).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  /** Driver-verified: STREAM-STREAM inner join — clicks joined to the same
    * user's purchases within the following 30 minutes, both sides unbounded.
    * The event-time bound (`p_ts ∈ [c_ts, c_ts + 30 min]`) plus watermarks
    * is what makes this feasible on infinite streams: each side buffers
    * only rows younger than watermark + range, so join state is bounded by
    * rate × window, not by history. Emitted pairs are a pure set (append
    * mode, no aggregate), so arrival order never shows in the result — the
    * batch SQL join is the exact oracle. */
  def streamStreamJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = eventsStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = eventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
    // width 4, not the stream default 8: a stream-stream join commits FOUR
    // state stores per partition per micro-batch, so partition width sets
    // its checkpoint file count — measured 3.0s at 8 vs 2.2s at 4 while
    // each file still forked a chmod/readlink process (see runToCompletion),
    // and the other stateful queries (one store each) were flat-to-worse at
    // 4 (SURVEY §6.1 measured-and-rejected). With a session width of 4 or
    // less the override does not bind. At production rates width is sized
    // to sustained throughput instead; this is the bounded-replay
    // verification setting.
    val result = runToCompletion(spark, joined, "stream_join", OutputMode.Append(),
      widthOverride = Some(4))
    result.select(col("click_id"), col("purchase_id"), col("user_id"),
                  unix_micros(col("c_ts")).as("click_us"),
                  unix_micros(col("p_ts")).as("purchase_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** Driver-verified: stream-stream LEFT OUTER join — [[streamStreamJoinQuery]]
    * with the unmatched clicks KEPT. The semantics no batch join has: a
    * null-extended row cannot be emitted when the row arrives (a match may
    * still come), so Spark holds it in join state and emits it on STATE
    * EVICTION — the moment the global watermark (min across both sides'
    * `max ts − 10 min`) proves no purchase in `[c_ts, c_ts + 30 min]` can
    * still arrive. Matched pairs stream out immediately, exactly as in the
    * inner form; the outer rows trail by the watermark delay. Clicks whose
    * match horizon is still open at end-of-replay are absent BY DESIGN
    * (the append-mode discipline) — the oracle restricts its unmatched
    * side to `c_ts + 30 min < final watermark`, the eviction predicate.
    * State cost is identical to the inner join (the rows were already
    * buffered; the outer form adds one matched bit), so the 100 TB bound
    * is the same rate × window. */
  def streamStreamLeftJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = eventsStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = eventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
    val result = runToCompletion(spark, joined, "stream_join_left", OutputMode.Append(),
      widthOverride = Some(4))
    // nulls → -1 sentinels: the differential checker's sort contract wants
    // scalar non-null columns, and no real event_id is negative
    result.select(col("click_id"), col("user_id"),
                  unix_micros(col("c_ts")).as("click_us"),
                  coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
                  coalesce(unix_micros(col("p_ts")), lit(-1L)).as("purchase_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** Driver-verified: stream-stream FULL OUTER join — the last cell of the
    * streaming join matrix ([[streamStreamJoinQuery]] inner,
    * [[streamStreamLeftJoinQuery]] left): BOTH unmatched sides are kept,
    * each emitted on its own side's STATE EVICTION. An unmatched click
    * emits when the global watermark proves no purchase in
    * `[c_ts, c_ts + 30 min]` can still arrive (horizon `c_ts + 30 min`
    * below the watermark — exactly the left join's rule); an unmatched
    * purchase emits when no click with `c_ts ∈ [p_ts − 30 min, p_ts]` can
    * still arrive — a future click has `c_ts > watermark`, and matching
    * needs `c_ts ≤ p_ts`, so the purchase's horizon is `p_ts` itself below
    * the watermark. Rows whose horizon is still open at end-of-replay are
    * absent BY DESIGN (append-mode discipline); the oracle restricts each
    * unmatched side to its own eviction predicate (the left join's
    * discipline applied twice, −1 sentinels both ways). State cost is the
    * inner join's (both sides were already buffered; outer adds matched
    * bits), so the 100 TB bound is unchanged: rate × window per side. */
  def streamStreamFullJoinQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val clicks = eventsStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = eventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      "fullOuter")
    val result = runToCompletion(spark, joined, "stream_join_full", OutputMode.Append(),
      widthOverride = Some(4))
    // -1 sentinels BOTH ways (the stream_join_left convention); user_id
    // comes from whichever side is present
    result.select(
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        coalesce(unix_micros(col("c_ts")), lit(-1L)).as("click_us"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(unix_micros(col("p_ts")), lit(-1L)).as("purchase_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** Driver-verified: streaming exact dedup — `dropDuplicates` on the
    * content fingerprint over the documents stream, emitting each distinct
    * fingerprint once (append mode). The emitted SET is order-independent
    * even though which doc arrives first is not, so the query projects the
    * fingerprint only — the deterministic core of streaming dedup. State is
    * one 32-byte digest per distinct document, the same bound a 100 TB
    * streaming ingest pipeline carries. */
  def streamDedupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val distinctFps = tableStream(spark, sfDir, "documents")
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp"))
      .dropDuplicates("fp")
    runToCompletion(spark, distinctFps, "stream_dedup", OutputMode.Append())
      .orderBy("fp")
  }

  /** Driver-verified: BOUNDED-STATE streaming dedup — the production form
    * of [[streamDedupQuery]], whose `dropDuplicates` state grows one
    * digest per distinct document FOREVER (unacceptable over an unbounded
    * 100 TB ingest stream). `dropDuplicatesWithinWatermark` bounds state
    * to the watermark horizon, trading the guarantee down to "duplicates
    * within `delay` of the first upload collapse; a re-upload after the
    * horizon RESURFACES" — which is also the operationally correct
    * behavior for a recrawl (the content is news again).
    *
    * The replay is a RE-UPLOAD ledger derived from the documents table
    * (fixed 1-day span at any corpus size: upload minute = doc_id mod
    * 1440; every 7th doc re-uploads — odd ids +20 min, within the 50-min
    * horizon → deduped; even ids +600 min, beyond it → resurfaces),
    * staged as one file per 300-minute segment so micro-batch boundaries
    * advance the watermark between uploads. Output: per document, uploads
    * seen vs rows emitted — the dedup-vs-resurfaced audit.
    *
    * Oracle = the pinned state machine, measured with MemoryStream probes
    * (round 9), replayed as SQL over the segment running-max:
    *   - state holds the FIRST occurrence's event time; duplicates do
    *     NOT extend it (unlike a refresh-on-access cache);
    *   - a key is evicted once `first_ts + delay ≤ watermark`, the
    *     earliest eviction that keeps the guarantee — AND the eviction
    *     watermark lags one batch exactly like the late filter (state
    *     alive during batch n is whatever survived the watermark of
    *     batch n−1, i.e. the running max through batch n−2 − delay;
    *     measured: with a one-segment re-upload horizon NOTHING ever
    *     resurfaces), so a re-upload in segment s resurfaces iff
    *     `first_m ≤ Mrun(s−2) − 2·delay` — the reason the far horizon
    *     here is TWO segments;
    *   - a re-upload in the SAME segment as its original always dedupes
    *     (state is live within a batch);
    *   - late input drops at `ts ≤ watermark` — unreachable here because
    *     segments are time-contiguous ascending. */
  def streamDedupBoundedQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val epoch = lit("2024-01-01 00:00:00").cast("timestamp")
    val base = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"),
              (col("doc_id") % 1440).as("m0"))
    val uploads = base.select(col("doc_id"), col("fp"), col("m0").as("m"))
      .unionByName(base.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("fp"), (col("m0") + 20).as("m")))
      .unionByName(base.filter(col("doc_id") % 7 === 3 && col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("fp"), (col("m0") + 600).as("m")))
      .select(col("doc_id"), col("fp"),
              timestamp_add("MINUTE", col("m").cast("int"), epoch).as("ts"),
              expr("m div 300").as("seg"))
    val dir = scratchTempDir(spark, "graft_dedup_bounded")
    dir.toFile.deleteOnExit()
    // all segment drop files staged in ONE write job (r15 — guide §1.2:
    // the per-segment loop paid one collect + one job per segment, ~8
    // sequential barriers before the stream even started)
    stageStreamFilesBySeg(uploads.select(col("fp"), col("ts"), col("seg")),
      "seg", dir, s => f"seg$s%03d", s => 1000000L + s * 1000000L)
    val stream = spark.readStream.schema("fp STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val emitted = runToCompletion(spark,
      stream.withWatermark("ts", "50 minutes").dropDuplicatesWithinWatermark("fp"),
      "stream_dedup_bounded", OutputMode.Append())
    emitted.groupBy("fp").agg(count(lit(1)).as("n_emits"))
      .join(uploads.groupBy("fp").agg(min("doc_id").as("doc_id"),
              count(lit(1)).as("n_uploads")), Seq("fp"))
      .select(col("doc_id"), col("n_uploads"), col("n_emits"))
      .orderBy("doc_id")
  }

  /** Driver-verified: streaming QUALITY-GATED export — the ingest-side
    * composition of a stateless quality gate and stateful exact dedup in
    * ONE streaming query: score each arriving document (identical
    * expression tree to the batch `quality_score`), drop below-floor docs
    * before they reach state, dedup survivors on the content fingerprint.
    * Emitted set is (fp, quality) — order-insensitive because equal
    * fingerprints imply equal normalized text and therefore equal
    * scores — so the batch SQL is the exact oracle. State = one digest
    * per distinct KEPT document: the quality gate shrinks streaming state,
    * which is the point of filtering before deduplicating at ingest. */
  def streamExportQuery(spark: SparkSession, sfDir: String,
                        qualityMin: Double = 0.7): DataFrame = {
    val (nWords, quality) = graft.operators.TextAnalysis.qualityCols
    val kept = tableStream(spark, sfDir, "documents")
      .select(TextFunctions.fingerprintMd5(col("text")).as("fp"),
              nWords.as("n_words"), quality.as("quality"))
      .filter(col("n_words") > 0 && col("quality") >= qualityMin)
      .select("fp", "quality")
      .dropDuplicates("fp")
    runToCompletion(spark, kept, "stream_export", OutputMode.Append())
      .orderBy("fp")
  }

  /** Driver-verified: the per-rule QUALITY FILTER on the ingest stream —
    * the decision table ([[graft.operators.TextAnalysis.qualityFilter]])
    * emitted the moment each document lands: all four C4/Gopher-style
    * rules are per-row integer expressions, so the streaming form is
    * STATELESS (append mode, zero state stores — the cheapest possible
    * streaming op) and trivially order-independent: the batch oracle is
    * exact row for row. At ingest this is the gate that runs BEFORE
    * anything stateful: every dropped doc is state the dedup index never
    * carries. */
  def streamQualityFilterQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = TextFunctions.tokenize(col("text"))
    val flagged = tableStream(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(ws).cast("bigint").as("nw"),
        size(filter(ws, w => w.isin(graft.operators.TextAnalysis.Stopwords: _*)))
          .cast("bigint").as("nstop"),
        aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("bigint")).as("totlen"),
        greatest(size(ws) - 2, lit(0)).cast("bigint").as("ngr"),
        size(call_function("graft_shingles", col("text"), lit(3))).cast("bigint").as("ndist"))
      .select(col("doc_id"), col("nw").as("n_words"),
        (col("nw") >= 10).cast("int").as("pass_words"),
        (col("nw") > 0 && col("totlen") >= col("nw") * 3 &&
         col("totlen") <= col("nw") * 8).cast("int").as("pass_word_len"),
        (col("nw") > 0 && col("nstop") * 20 >= col("nw")).cast("int").as("pass_stopwords"),
        (col("ngr") === 0 || col("ndist") * 5 >= col("ngr")).cast("int").as("pass_repetition"))
      .withColumn("keep",
        (col("pass_words") === 1 && col("pass_word_len") === 1 &&
         col("pass_stopwords") === 1 && col("pass_repetition") === 1).cast("int"))
    runToCompletion(spark, flagged, "stream_qfilter", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Driver-verified: arriving documents WINNOW-fingerprinted in-flight —
    * the ingest half of a MOSS-style match registry
    * ([[graft.operators.TextAnalysis.winnowMatches]] is the lookup half):
    * each document landing in the drop folder computes its winnowed
    * fingerprint summary through the same `graft_winnowstats` codegen
    * kernel the batch op uses, with ZERO state and zero shuffle — the
    * selection is per-row scan arithmetic, so the stream is pure Append
    * and the micro-batch boundary cannot change a single selected hash
    * (spec-level guarantee: the kernel sees one document at a time by
    * construction). Output equals the batch `winnow_fingerprints` rows
    * (shared oracle). */
  def streamWinnowQuery(spark: SparkSession, sfDir: String,
                        window: Int = 8, w: Int = 4): DataFrame = {
    val fp = tableStream(spark, sfDir, "documents")
      .select(col("doc_id"),
        call_function("graft_winnowstats", col("text"), lit(window), lit(w)).as("s"))
      .select(col("doc_id"), col("s.n_fp").as("n_fp"), col("s.fp_min").as("fp_min"),
              col("s.fp_max").as("fp_max"), col("s.fp_sum").as("fp_sum"),
              col("s.pos_sum").as("pos_sum"))
    runToCompletion(spark, fp, "stream_winnow", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Driver-verified: the context-length planning HISTOGRAM maintained as
    * the corpus streams in — the complete-mode twin of
    * [[graft.operators.TextAnalysis.tokenLengthHistogram]]: the ⌊log₂⌋
    * bin is scan-side integer arithmetic per arriving document, the
    * per-bin doc/token sums are commutative (≤ ~40 rows of state), and
    * the share columns are presentation math over the final table —
    * batch-side after materialization, exactly as the batch form computes
    * them after its aggregate. Equal row-set (shared oracle). */
  def streamTokenHistogramQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = tableStream(spark, sfDir, "documents")
      .select(TextFunctions.bpeTokenCount(col("text")).as("toks"))
      .withColumn("bin",
        when(col("toks") <= 0, lit(-1L))
          .otherwise(expr("length(bin(toks)) - 1").cast("bigint")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
    val total = org.apache.spark.sql.expressions.Window.partitionBy()
    runToCompletion(spark, binned, "stream_token_histogram", OutputMode.Complete())
      .withColumn("doc_share",
        duckRound(col("n_docs").cast("double") /
          sum("n_docs").over(total).cast("double"), 4))
      .withColumn("token_share",
        duckRound(col("n_tokens").cast("double") /
          sum("n_tokens").over(total).cast("double"), 4))
      .select(col("bin"),
        when(col("bin") < 0, lit(0L))
          .otherwise(expr("shiftleft(1L, cast(bin as int))")).as("lo_tokens"),
        col("n_docs"), col("n_tokens"), col("doc_share"), col("token_share"))
      .orderBy("bin")
  }

  /** Driver-verified: the SAMPLER'S WEIGHTS maintained as the corpus
    * streams in — the complete-mode twin of
    * [[graft.operators.TextAnalysis.mixtureWeights]]: per-source token
    * sums are commutative (fixed-size state, one row per source), and the
    * whole α=0.5 temperature arithmetic (integer-floored weights, exact
    * normalizing sums, boosts, budget epochs) is presentation math over
    * the final \|sources\|-row table — batch-side after materialization,
    * exactly as the batch form computes it after its aggregate. A mixture
    * dashboard that re-weights sources as ingest proceeds, equal row-set
    * to the batch op (shared oracle). */
  def streamMixtureWeightsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = tableStream(spark, sfDir, "documents")
      .select(col("source"), TextFunctions.bpeTokenCount(col("text")).as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    runToCompletion(spark, perSource, "stream_mixture_weights", OutputMode.Complete())
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("bigint"))
      .withColumn("sample_share",
        col("weight").cast("double") / sum("weight").over(w).cast("double"))
      .withColumn("natural_share",
        col("n_tokens").cast("double") / sum("n_tokens").over(w).cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        graft.functions.NumericFunctions.duckRound(col("sample_share"), 6).as("sample_share"),
        graft.functions.NumericFunctions.duckRound(col("natural_share"), 6).as("natural_share"),
        graft.functions.NumericFunctions.duckRound(
          col("sample_share") / col("natural_share"), 4).as("boost"),
        graft.functions.NumericFunctions.duckRound(
          col("sample_share") * lit(1000000.0) / col("n_tokens").cast("double"), 4)
          .as("expected_epochs"))
      .orderBy("source")
  }

  /** Driver-verified: corpus COMPOSITION tracked as the stream arrives —
    * the streaming twin of [[graft.operators.TextAnalysis.sourceMix]]:
    * per-source doc counts, token mass and mean quality run as a
    * complete-mode aggregate (all three commutative — sum/count state per
    * source, the fixed-size state bound a composition dashboard needs);
    * the token SHARE is presentation arithmetic over the final
    * |sources|-row table, computed batch-side after materialization
    * exactly as the batch form computes it after its aggregate. */
  def streamSourceMixQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val q = graft.operators.TextAnalysis.qualityExprs
    val perSource = tableStream(spark, sfDir, "documents")
      .select(col("source"),
              TextFunctions.bpeTokenCount(col("text")).as("toks"),
              when(q.nWords > 0, q.quality).as("quality"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("toks").as("total_tokens"),
           duckRound(avg("quality"), 4).as("avg_quality"))
    runToCompletion(spark, perSource, "stream_source_mix", OutputMode.Complete())
      .withColumn("token_share",
        duckRound(col("total_tokens").cast("double") /
          sum("total_tokens").over(org.apache.spark.sql.expressions.Window.partitionBy()), 4))
      .select("source", "n_docs", "total_tokens", "token_share", "avg_quality")
      .orderBy("source")
  }

  /** Driver-verified: media files CATALOGED as they land — the streaming
    * twin of [[graft.multimodal.Media.mediaFilesScan]]: the staged asset
    * directory replayed through `readStream.format("binaryFile")` (the
    * drop-bucket shape: raw files arrive, the catalog row exists the
    * moment each file is listed). Per-row work is STATELESS — size,
    * hex-md5 digest, magic-byte container sniff — so append mode carries
    * zero state stores and the batch scan's oracle (DuckDB `read_blob`
    * over the same files) is exact row for row.
    *
    * Scope: the stream catalogs the DROP — the delta shard's files staged
    * under [[graft.multimodal.Media.DropFilesRoot]] — not the historical
    * bucket (that is the batch scan's job, and re-cataloging the full
    * corpus per drop would be quadratic over a corpus's life).
    *
    * Honest cost (measured): the streaming file source stats each file on
    * the DRIVER when it builds a micro-batch's file index — ~2 ms/file
    * regardless of trigger batching (the batch scan reads the same files
    * ~20× faster). File-per-asset is therefore the wrong grain for BIG
    * drops; production drops land as packed archives or parquet (the
    * asset-table path every other media op uses), and this operator is
    * the catalog for the raw-drop shape at its honest price. */
  def streamMediaIngestQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.multimodal.Media
    // catalog the DROP (delta shard), not the historical bucket — a stream
    // sees what lands; the full-corpus catalog is the batch scan's job
    val dir = Media.ensureDropFiles(spark, sfDir)
    val cataloged = Media.catalogColumns(spark.readStream
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dir))
    runToCompletion(spark, cataloged, "stream_media", OutputMode.Append())
      .orderBy("file_name")
  }

  /** Driver-verified: the PACKED-drop media ingest — the same delta shard
    * as [[streamMediaIngestQuery]], but landed as a handful of parquet
    * shards (media_id, kind, payload) instead of one file per asset, i.e.
    * the grain a production ingest job actually drops. The streaming file
    * source's per-FILE driver stat tax (~2 ms/file, measured and
    * documented on the raw-drop form) here prices per SHARD — O(4) stats
    * per micro-batch for thousands of assets — so catalog throughput
    * tracks the batch parquet scan. Per-row work is the shared stateless
    * digest + magic-byte sniff ([[graft.multimodal.Media
    * .packedCatalogColumns]]); Append mode, zero state stores. The DuckDB
    * oracle `read_parquet`s THE SAME shards, covering bytes on disk end
    * to end. */
  def streamMediaPackedQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.multimodal.Media
    val dir = Media.ensurePackedDrop(spark, sfDir)
    val cataloged = Media.packedCatalogColumns(spark.readStream
      .schema("media_id BIGINT, kind STRING, payload BINARY")
      .parquet(dir))
    runToCompletion(spark, cataloged, "stream_media_packed", OutputMode.Append())
      .orderBy("media_id")
  }

  /** Driver-verified: LEAKAGE-SAFE SPLIT ASSIGNMENT AT INGEST
    * (`stream_media_split`) — arriving packed drop assets get their
    * train/val/test verdict the moment they land: a STATELESS
    * stream-static join against the release index's persisted copy-
    * component labels (the [[graft.multimodal.MediaIndex.mediaSplit]]
    * rule verbatim — component hash where the asset has verified copies,
    * self-hash where it's a singleton). Zero streaming state; the split
    * an asset receives at ingest equals the batch assignment row for row
    * (membership is a pure function of the persisted labels + content
    * id), so the batch oracle restricted to the drop is shared. */
  def streamMediaSplitQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.multimodal.{Media, MediaIndex}
    val prefix = MediaIndex.buildReleaseIndex(spark, sfDir)
    MediaIndex.requireNotMidAppend(spark, prefix)
    val labels = spark.table(s"${prefix}_labels")
    val dir = Media.ensurePackedDrop(spark, sfDir)
    val assigned = spark.readStream
      .schema("media_id BIGINT, kind STRING, payload BINARY")
      .parquet(dir)
      .select(col("media_id"))
      .join(labels, col("media_id") === col("v"), "left")
      .select(col("media_id"),
              coalesce(col("l"), col("media_id")).as("cluster_id"))
      .withColumn("h",
        pmod(conv(substring(md5(col("cluster_id").cast("string")), 1, 15), 16, 10)
          .cast("bigint"), lit(10L)))
      .select(col("media_id"), col("cluster_id"),
        when(col("h") <= 7, lit("train"))
          .when(col("h") === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
    runToCompletion(spark, assigned, "stream_media_split", OutputMode.Append())
      .orderBy("media_id")
  }

  /** Driver-verified: the MULTIMODAL quality gate applied as assets LAND —
    * the streaming twin of [[graft.multimodal.Media.mediaFilter]] over the
    * binaryFile drop: each arriving container sniffs its kind from the
    * MAGIC BYTES (files carry no trusted envelope), decodes its header
    * through the same [[graft.multimodal.Media.HeaderDecoder]] in a
    * stateless `mapPartitions` (one decoder per partition, streaming-legal
    * — no state, no shuffle), and emits the per-rule verdict flags. An
    * asset is accepted or cut the moment it lands, with the audit flags a
    * curation queue reads; equal rows to the batch gate restricted to the
    * drop (shared rule projection + drop-restricted oracle). */
  def streamMediaFilterQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.multimodal.Media
    import spark.implicits._
    val dir = Media.ensureDropFiles(spark, sfDir)
    val metas = spark.readStream
      .format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .load(dir)
      .select(regexp_extract(col("path"), "asset_0*([0-9]+)", 1)
                .cast("long").as("media_id"),
              col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          Media.HeaderDecoder.decode(Media.MediaAsset(
            id, Media.HeaderDecoder.sniffKind(bytes), bytes))
        }
      }
      .toDF()
    runToCompletion(spark, Media.gateFlags(metas),
        "stream_media_filter", OutputMode.Append())
      .orderBy("media_id")
  }

  /** Driver-verified: the KMV distinct-count SKETCH as a STREAMING
    * aggregate — the claim [[graft.functions.expressions.KmvAgg]] makes
    * ("associative merge → streaming-legal") executed, not asserted: the
    * engine carries one ≤k-value buffer per event type in the state store
    * across micro-batches, exactly the fixed-size state a 100 TB stream
    * needs where a streaming `count(DISTINCT)` is unbounded. The buffer
    * merge is bit-deterministic under any batch split, so the final
    * complete-mode table equals the batch sketch and SHARES its oracle. */
  def streamDistinctSketchQuery(spark: SparkSession, sfDir: String,
                                k: Int = 64): DataFrame = {
    val est = tableStream(spark, sfDir, "events")
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
      .groupBy("event_type")
      .agg(call_function("graft_kmv", col("uid"), lit(k)).as("est_raw"))
    runToCompletion(spark, est, "stream_distinct_sketch", OutputMode.Complete())
      .select(col("event_type"), duckRound(col("est_raw"), 4).as("est_users"))
      .orderBy("event_type")
  }

  /** Driver-verified: the HLL register table maintained as STREAMING
    * state — the fourth sketch's streaming twin, completing the cube's
    * batch×stream matrix (KMV `stream_distinct_sketch`, CMS
    * `stream_freq_sketch`, histogram `stream_quantile_sketch`, now HLL).
    * One complete-mode per-type `graft_hll_state` aggregate (state = 2^p
    * byte-sized registers per type); register max is associative,
    * commutative and IDEMPOTENT, so replayed or re-split micro-batches
    * cannot move a register and the materialized states are bit-identical
    * to the batch ones. The `__all__` rollup and the estimate read-out run
    * batch-side through the SAME code path (`hllReadout`); shares
    * `hll_rollup`'s SQL oracle verbatim. */
  def streamHllQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val perType = tableStream(spark, sfDir, "events")
      .select(col("event_type"), col("user_id").cast("string").as("uid"))
      .groupBy("event_type")
      .agg(call_function("graft_hll_state", col("uid"),
        lit(graft.operators.Analytics.HllP)).as("hll"))
    graft.operators.Analytics.hllReadout(
      runToCompletion(spark, perType, "stream_hll", OutputMode.Complete()))
  }

  /** Driver-verified: ROBUST ANOMALY detection maintained as the stream
    * arrives — [[graft.operators.Analytics.anomalyHours]]'s hourly volume
    * table as a complete-mode streaming aggregate (one count per hour in
    * the state store — state is |hours|, the metadata grain, never event
    * mass), with the median/MAD verdict computed batch-side over the
    * materialized counts by THE SAME code path the batch op uses
    * ([[graft.operators.Analytics.anomalyVerdict]]) — the
    * stream_source_mix discipline: rank statistics are not incremental
    * (a median is holistic over the hour table), but the hour table
    * itself is tiny, so the stream maintains the mass-bearing aggregate
    * and the verdict stays presentation arithmetic. Counts are
    * commutative sums → the final table equals the batch aggregate and
    * the whole query SHARES the batch oracle. */
  /** Driver-verified: the metric-correlation MONITOR maintained in-stream —
    * [[graft.operators.TextAnalysis.metricCorr]]'s per-source moment table
    * as a complete-mode streaming aggregate. The state is the DIAGNOSTIC's
    * sufficient statistics: nine exact int64 sums per source (fixed width,
    * metadata grain — never document mass), and integer sums are
    * commutative, so the final table equals the batch aggregate under any
    * arrival order and the Pearson verdict runs batch-side over the
    * materialized moments through the SAME code path as the batch op (the
    * stream_anomaly_hours discipline). Shares the batch oracle verbatim. */
  def streamMetricCorrQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val moments = TextAnalysis.metricMoments(tableStream(spark, sfDir, "documents"))
    TextAnalysis.metricPearson(
      runToCompletion(spark, moments, "stream_metric_corr", OutputMode.Complete()))
  }

  def streamAnomalyHoursQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val hours = tableStream(spark, sfDir, "events")
      .select(expr("unix_micros(ts) div 3600000000").as("hour_bucket"))
      .groupBy("hour_bucket")
      .agg(count(lit(1)).as("c"))
    graft.operators.Analytics.anomalyVerdict(
      runToCompletion(spark, hours, "stream_anomaly_hours", OutputMode.Complete()))
  }

  /** Driver-verified: the hourly-cents grid behind `ewma_hours` maintained
    * as STREAMING state — a complete-mode (event_type, hour) SUM of cents
    * (associative + commutative, so the materialized grid is bit-identical
    * to the batch one under any micro-batch split), with the dyadic EWMA
    * read-out applied batch-side to the final grid. Shares `ewma_hours`'
    * SQL oracle verbatim. State = the grid itself — |types|·|hours| longs,
    * time-bounded at any corpus size. */
  def streamEwmaHoursQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = graft.operators.Analytics.ewmaHourlyGrid(
      tableStream(spark, sfDir, "events"))
    graft.operators.Analytics.ewmaReadout(
      runToCompletion(spark, grid, "stream_ewma_hours", OutputMode.Complete()))
  }

  /** Driver-verified: the JOIN-SIZE SKETCH maintained IN-STREAM — the
    * signed AMS cell grid behind `join_size_estimate` as one complete-mode
    * SUM over per-row weight-1 updates (each arriving lineitem key signs
    * into depth cells scan-side — stateless arithmetic; the stateful op is
    * the cell sum, state = depth·width longs at ANY volume). Signed-update
    * addition is associative and commutative, so the streamed grid is
    * bit-identical to the batch weighted-update grid under any micro-batch
    * split (the freq_sketch weighted≡raw precedent, spec-gated cell by
    * cell), and the F₂ read-out + exact-truth report run batch-side
    * through the SAME code paths (`amsEstimate`/`joinSizeReport`). This is
    * the claim in join_size_estimate's contract made real: a planner
    * maintains the sketch per ingest batch and answers |A ⋈ B| without
    * ever re-scanning data. Shares the batch oracle verbatim. */
  def streamJoinSizeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Relational
    val updates = tableStream(spark, sfDir, "lineitem")
      .select(col("l_partkey").cast("string").as("pk"), lit(1L).as("w"))
    val cells = Relational.amsCells(updates,
      Relational.JoinSizeDepth, Relational.JoinSizeWidth)
    Relational.joinSizeReport(spark, sfDir,
      Relational.amsEstimate(
        runToCompletion(spark, cells, "stream_join_size", OutputMode.Complete()),
        Relational.JoinSizeDepth))
  }

  /** Driver-verified: the PLAN ADVISOR served from a STREAM-MAINTAINED
    * sketch store (`stream_plan_advisor`, r12 VERDICT item 6) — the
    * advisor's whole decision input (one signed AMS grid per (table, key)
    * side + per-side non-null row counts) maintained as ONE complete-mode
    * streaming aggregate over the UNION of all six advisor tables'
    * streams, each row contributing its depth signed cell updates plus a
    * synthetic count row scan-side
    * ([[graft.operators.Relational.amsUpdatesKeyed]] — stateless per-row
    * arithmetic; the stateful op is the sum, state = sides · (depth ·
    * width + 1) longs at ANY ingest volume). Signed addition is
    * associative + commutative, so the streamed grid is bit-identical to
    * the batch store under any micro-batch split (the stream_join_size
    * precedent, side-keyed), and the verdict read-out runs batch-side
    * through the SAME [[graft.operators.Relational.advisorVerdicts]] the
    * batch advisor uses — sketches maintained at ingest, advice read at
    * plan time with NO batch rebuild. Shares `plan_advisor`'s oracle
    * verbatim (the established twin discipline). */
  def streamPlanAdvisorQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Relational
    val sides = Relational.advisorSides.groupBy(_._1).view.mapValues(_.map(_._2))
    val updates = sides.toSeq.sortBy(_._1).map { case (table, keys) =>
      val src = tableStream(spark, sfDir, table)
      keys.map { k =>
        Relational.amsUpdatesKeyed(
          src.select(lit(table).as("tbl"), lit(k).as("key"),
                     col(k).cast("string").as("pk"))
             .filter(col("pk").isNotNull),
          Relational.JoinSizeDepth, Relational.JoinSizeCrossWidth)
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
    val grid = runToCompletion(spark,
      updates.groupBy("tbl", "key", "i", "b").agg(sum("upd").as("cell")),
      "stream_plan_advisor", OutputMode.Complete())
    Relational.advisorVerdicts(spark,
      grid.filter(col("i") >= 0).select("tbl", "key", "i", "b", "cell"),
      grid.filter(col("i") === -1)
          .select(col("tbl"), col("key"), col("cell").as("n_rows")))
  }

  /** Driver-verified: the NFC canonicalization pass applied IN-FLIGHT —
    * `normalize_text`'s per-row codegen'd pipeline over the streamed
    * corpus: STATELESS (no aggregate, no state store, no watermark — the
    * normalize-at-ingest deployment shape, where text is canonicalized
    * before anything downstream hashes it), so the streamed result is
    * trivially row-identical to the batch pass and shares its SQL oracle
    * verbatim; the presentation sort happens on the materialized sink
    * (an unbounded stream cannot sort). */
  def streamNormalizeQuery(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark,
      graft.operators.TextAnalysis.normalizeCore(
        tableStream(spark, sfDir, "documents")),
      "stream_normalize", OutputMode.Append())
      .orderBy("doc_id")

  /** Driver-verified: PPS SAMPLING AT INGEST — `pps_sample`'s
    * content-digest Bernoulli draw run per ARRIVING document (the
    * `stream_normalize` shape: stateless per-row codegen, append mode, no
    * state store at all). The one corpus-level input — the total weight W
    * normalizing each inclusion probability — is a calibration SCALAR
    * from the static corpus (a ≤1-row bounds read, exactly how a
    * production ingest pins p_i against last epoch's corpus mass rather
    * than a moving target that would make membership arrival-order
    * dependent). Membership is a pure function of content + the pinned W,
    * so the streamed sample equals the batch sample row for row and the
    * batch oracle is shared verbatim. */
  def streamPpsSampleQuery(spark: SparkSession, sfDir: String,
                           target: Int = 64): DataFrame = {
    import graft.functions.TextFunctions.fingerprintMd5
    // coalesce + max(1): an EMPTY documents source must yield an empty
    // sample like the batch twin, not an NPE on the null sum (and the
    // stream emits zero rows regardless, so the pinned divisor is moot)
    val wTotal = math.max(1L,
      graft.sources.Tables.documents(spark, sfDir)
        .agg(coalesce(sum("n_chars"), lit(0L)).as("w"))
        .collect()(0).getLong(0))
    val perRow = tableStream(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"),
        conv(substring(fingerprintMd5(col("text")), 1, 8), 16, 10)
          .cast("bigint").as("u32"))
      .withColumn("thresh",
        expr(s"($target * n_chars * 4294967296) div ${wTotal}L"))
      .filter(col("u32") < col("thresh"))
      .select(col("doc_id"), col("n_chars"), col("u32"),
        least(lit(1000L), expr(s"($target * n_chars * 1000) div ${wTotal}L"))
          .as("p_permille"))
    runToCompletion(spark, perRow, "stream_pps_sample", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Driver-verified: the KLL-STYLE QUANTILE SKETCH maintained in-stream
    * (`stream_kll`) — the FIFTH mergeable-cube member gets its streaming
    * twin like every other (KMV, CMS, histogram, HLL all have one). The
    * [[streamQuantileSketchQuery]] two-absorption discipline: stratum
    * assignment is a pure per-row digest function, so phase 1 absorbs the
    * stream into the ≤49-row STRATUM HISTOGRAM (one complete-mode
    * aggregate — per-tz counts add associatively, so the materialized
    * state is bit-identical to the batch histogram under any micro-batch
    * split) and the level is picked from that state; phase 2 re-absorbs
    * with the STATELESS survivor filter `tz ≥ lvl` (append mode, zero
    * state — survival is per-row content, never order). Production seeds
    * the level from the previous sketch, same as the histogram twin
    * seeds its bounds. Read-out runs batch-side over ≤k survivor rows
    * through the SAME [[graft.operators.Analytics.kllReadout]] the batch
    * ops use; the oracle is the kllCtes chain over events, shared
    * arithmetic end to end. */
  def streamKllQuery(spark: SparkSession, sfDir: String,
                     k: Int = 1024, qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    import graft.operators.Analytics
    def stratified() = Analytics.kllRows(
      tableStream(spark, sfDir, "events").select(
        lit("all").as("scope"),
        col("event_id").cast("string").as("rkey"),
        round(col("value") * 100).cast("long").as("cents")))
    val hist = runToCompletion(spark,
      stratified().groupBy("scope", "tz").agg(count(lit(1)).as("c")),
      "stream_kll_hist", OutputMode.Complete())
    // headOption, not collect()(0): an EMPTY events source has no scope row
    // (kllLevel's densified grid covers existing scopes only) and must
    // yield an empty readout like the batch twin, not an index error
    val lvlRow = Analytics.kllLevel(spark, hist, k).collect().headOption
    if (lvlRow.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Double, Long, Long)]
        .toDF("q", "est_value", "lvl", "n_kept")
    }
    val (lvl, n) = (lvlRow.get.getLong(1), lvlRow.get.getLong(2))
    val survivors = runToCompletion(spark,
      stratified().filter(col("tz") >= lvl),
      "stream_kll_surv", OutputMode.Append())
      .withColumn("lvl", lit(lvl)).withColumn("n", lit(n))
    Analytics.kllReadout(spark, survivors, qs)
      .select(col("q"),
              (col("est_cents").cast("double") / 100.0).as("est_value"),
              col("lvl"), col("n_kept"))
      .orderBy("q")
  }

  /** Driver-verified: DSIR SCORING AT INGEST — `dsir_weights` as the
    * deployed shape: the hashed-n-gram models are TRAINED OFFLINE on the
    * corpus ([[graft.operators.TextAnalysis.dsirModel]] — a
    * metadata-sized Δ array + calibration, the broadcast-model move) and
    * every arriving document is scored per row against those constants
    * via HOFs (`Σ_g Δ(b(g))` inside the row — arithmetic identical to the
    * batch per-bucket form, no streaming aggregate, zero state). Closes
    * the batch×stream matrix for the selection family together with
    * [[streamPpsSampleQuery]]; the batch oracle is shared verbatim. */
  def streamDsirWeightsQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val (delta, cal) = graft.operators.TextAnalysis.dsirModel(spark, sfDir)
    runToCompletion(spark,
      graft.operators.TextAnalysis.dsirScoreRows(
        tableStream(spark, sfDir, "documents"), delta, cal),
      "stream_dsir_weights", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Driver-verified: the CUSUM level-shift monitor maintained in-stream —
    * `cusum_shift`'s (event_type, hour) cents grid as the SAME complete-mode
    * streaming aggregate `stream_ewma_hours` keeps (associative cents sums
    * → the materialized grid is bit-identical to the batch one under any
    * micro-batch split), with the closed-form CUSUM read-out (two running
    * windows over the metadata-sized grid) applied batch-side through the
    * SAME code path as the batch op
    * ([[graft.operators.Analytics.cusumReadout]] — the
    * stream_anomaly_hours discipline: the sequential statistic is holistic
    * over the hour table, but the hour table is tiny, so the stream
    * maintains the mass-bearing aggregate and the statistic stays
    * presentation arithmetic). Shares `cusum_shift`'s SQL oracle verbatim.
    * State = the grid itself — |types|·|hours| longs, time-bounded at any
    * corpus size. */
  def streamCusumQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = graft.operators.Analytics.ewmaHourlyGrid(
      tableStream(spark, sfDir, "events"))
    graft.operators.Analytics.cusumReadout(
      runToCompletion(spark, grid, "stream_cusum", OutputMode.Complete()))
  }

  /** Driver-verified: `boilerplate_lines`' per-(source, line) document
    * frequency maintained as STREAMING state — each arriving page
    * contributes its DISTINCT lines once (a stateless per-row
    * `array_distinct`+explode), so the stateful op is ONE complete-mode
    * SUM: no streaming distinct-aggregate needed, and the materialized
    * frequency table is bit-identical to the batch detector's under any
    * arrival order. The cleaning read-out (coverage filter + per-doc
    * reconstruction) runs batch-side against the final table — the
    * deployed shape: the dictionary absorbs the crawl stream, documents
    * are cleaned against it out of band. Shares `boilerplate_lines`' SQL
    * oracle verbatim. State = the line-frequency table — boilerplate is
    * by definition high-frequency, so distinct lines grow like content,
    * not like volume. */
  def streamBoilerplateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val pages = tableStream(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), TextAnalysis.syntheticPage.as("page"))
    val lineDf = TextAnalysis.boilerplateLineCounts(pages)
    val batchPages = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), TextAnalysis.syntheticPage.as("page"))
    TextAnalysis.cleanWithLineCounts(batchPages,
      runToCompletion(spark, lineDf, "stream_boilerplate", OutputMode.Complete()))
  }

  /** Driver-verified: the Count-Min frequency sketch as STREAMING state —
    * `graft_cms` in a complete-mode global aggregation over the RAW token
    * stream (weight 1 per token), one fixed `depth·width` counter grid in
    * the state store across micro-batches. The batch twin
    * ([[graft.operators.TextAnalysis.freqSketch]]) feeds the same
    * aggregate pre-counted `(word, count)` rows; counter addition is
    * associative and commutative, so both grids are bit-identical under
    * any batch split or arrival order and the streaming final shares the
    * batch form's SQL oracle exactly. Probe selection (top-n by exact
    * count) is corpus metadata, not stream state — it reads the batch
    * side, mirroring how a deployed sketch is queried: the grid absorbs
    * the stream, questions arrive out of band. */
  def streamFreqSketchQuery(spark: SparkSession, sfDir: String,
                            depth: Int = 4, width: Int = 256,
                            topn: Int = 20): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = tableStream(spark, sfDir, "documents")
      .select(explode(TextFunctions.tokenize(col("text"))).as("word"))
    val agg = toks.groupBy()
      .agg(call_function("graft_cms",
        col("word"), lit(1L), lit(depth), lit(width)).as("grid"))
    val grid = runToCompletion(spark, agg, "stream_freq_sketch", OutputMode.Complete())
    val wc = TextAnalysis.wordCounts(
      graft.sources.Tables.documents(spark, sfDir))
    TextAnalysis.cmsEstimates(wc, grid, depth, width, topn)
  }

  /** Driver-verified: the equi-width QUANTILE sketch as streaming state —
    * completing the sketch trio next to [[streamDistinctSketchQuery]] (KMV)
    * and [[streamFreqSketchQuery]] (CMS). Data-dependent binning needs the
    * bounds before the histogram, so the bounded stream is absorbed TWICE
    * — phase 1 a complete-mode global (min, max, n) aggregate (three longs
    * of state), phase 2 the bin histogram parameterized by those bounds
    * (≤`bins` rows of state) — the standard re-scan trade for
    * data-dependent binning; a production deployment seeds the bounds from
    * the previous sketch instead of a first pass. Bin counting is
    * associative/commutative, so the phase-2 state is bit-identical under
    * any batch split and the final histogram equals the batch form's —
    * quantile extraction then runs batch-side over the ≤`bins`-row
    * completed table, integer-exact end-to-end (the
    * [[graft.operators.Analytics.quantileSketch]] discipline), sharing its
    * oracle structure over the event `value` column. */
  def streamQuantileSketchQuery(spark: SparkSession, sfDir: String,
                                bins: Int = 1024,
                                qs: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def cents(df: DataFrame) =
      df.select(round(col("value") * 100).cast("long").as("cents"))
    // headOption + null guard: an EMPTY events source must yield an empty
    // readout like the batch twin (the stream_kll discipline) — head() on
    // a row whose min/max are null would NPE instead
    val bRow = runToCompletion(spark,
      cents(tableStream(spark, sfDir, "events"))
        .agg(min("cents").as("mn"), max("cents").as("mx"), count(lit(1)).as("n")),
      "stream_qsk_bounds", OutputMode.Complete())
      .collect().headOption.filterNot(_.isNullAt(0))
    if (bRow.isEmpty)
      return Seq.empty[(Long, Double)].toDF("q", "est_value")
    val b = bRow.get
    val (mn, mx, n) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val hist = runToCompletion(spark,
      cents(tableStream(spark, sfDir, "events"))
        .select(expr(s"(cents - ${mn}L) * $bins div (${mx}L - ${mn}L + 1)").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt")),
      "stream_quantile_sketch", OutputMode.Complete())
    hist.withColumn("cum", sum("cnt").over(Window.orderBy("bin")))
      .join(broadcast(qs.toDF("q")), col("cum") >= expr(s"(q * ${n}L + 99) div 100"))
      .groupBy("q").agg(min("bin").as("bin"))
      .select(col("q"),
        (expr(s"${mn}L + (2 * bin + 1) * (${mx}L - ${mn}L + 1) div ${2L * bins}")
          .cast("double") / 100.0).as("est_value"))
      .orderBy("q")
  }

  /** Driver-verified: MERGING session windows via the native
    * `session_window` streaming aggregate — dynamic-gap windows that the
    * fixed tumbling/hopping grids can't express: each event opens a
    * [ts, ts+gap) interval and overlapping intervals merge, so a session's
    * extent is data-driven. State per (user, open session) is one window
    * struct. NOTE the output mode: this bounded-replay form materializes
    * in Complete mode, where state is retained regardless of the watermark
    * (complete output re-emits everything); the PRODUCTION form of this
    * query is Update/Append mode, where the declared watermark is what
    * closes and evicts sessions falling fully behind it. End-of-stream
    * materialization is arrival-order independent (merge is
    * associative+commutative over intervals), so the batch
    * island-detection SQL is the exact oracle. Session boundary is
    * HALF-OPEN ([ts, ts+gap)): an event exactly `gap` after the previous
    * one starts a NEW session — the oracle's `>=` mirrors this. */
  def streamSessionsQuery(spark: SparkSession, sfDir: String,
                          gap: String = "30 minutes"): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
    runToCompletion(spark, agg, "stream_sessions", OutputMode.Complete())
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Driver-verified: the PRODUCTION form of [[streamSessionsQuery]] —
    * `session_window` in APPEND mode, where the declared watermark is what
    * closes sessions: a session row is emitted exactly once, when the
    * watermark (max event time − delay) passes its end (`end ≤ watermark`),
    * and its state is evicted at the same moment. This is the shape an
    * unbounded 100 TB stream needs — state is only the OPEN sessions
    * (bounded by active users × gap), never the whole history that
    * Complete mode re-emits every micro-batch.
    *
    * Over the bounded replay the final watermark is `max(ts) − delay`, so
    * the oracle is the batch island-detection SQL restricted to sessions
    * with `last_event + gap ≤ max(ts) − delay` (the `stream_scd2`
    * discipline: oracle models the emission rule, not just the aggregate).
    * Sessions still open at end-of-stream — ending inside the last
    * `delay + gap` — are deliberately absent: on a real stream they are
    * not closed yet, and the no-data micro-batch that AvailableNow runs
    * after the last file is exactly the production watermark tick. */
  def streamSessionsAppendQuery(spark: SparkSession, sfDir: String,
                                gap: String = "30 minutes"): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
    runToCompletion(spark, agg, "stream_sessions_append", OutputMode.Append())
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Driver-verified: FIRST-TOUCH ATTRIBUTION in APPEND mode — the
    * streaming twin of `attribution_touch` under the
    * [[streamSessionsAppendQuery]] eviction discipline: per-session
    * channel (the `min_by` touch over the unique (ts, event_id) key) and
    * conversion aggregates ride the SAME `session_window` state the
    * append-mode session query keeps, a session row is emitted exactly
    * once when the watermark passes its close, and the channel rollup
    * runs batch-side over the emitted (= evicted) sessions — the deployed
    * shape: the stream maintains per-session state, the dashboard
    * aggregates closed sessions. Island-chain ⇔ session_window
    * equivalence is the stream_sessions_append precedent (exact-touch
    * merges on both forms); the oracle is the island SQL restricted to
    * `session_end ≤ final watermark`, rolled up per channel. State =
    * OPEN sessions only (bounded by active users × gap), each carrying
    * three longs + the running touch.
    *
    * Boundary note (r11 ADVICE): the island oracle keeps an event exactly
    * `gap` after its predecessor in-session (strict `>` starts a session);
    * the batch session_window probe pinned the same exact-touch-merges
    * convention. The corpus's µs-grained timestamps make an exact-gap
    * adjacent pair measure-zero, and StreamingSpec's boundary-fixture
    * guard asserts none exists at any gated sf — so the shared oracle pins
    * the boundary rather than assuming it. */
  def streamAttributionQuery(spark: SparkSession, sfDir: String,
                             gap: String = "30 minutes"): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("channel"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"),
           sum(when(col("event_type") === "purchase",
                    expr("cast(round(value * 100) as bigint)")).otherwise(0L)).as("purch_cents"))
    runToCompletion(spark, agg, "stream_attribution", OutputMode.Append())
      .groupBy("channel")
      .agg(count(lit(1)).as("n_sessions"),
           sum((col("n_purch") > 0).cast("bigint")).as("n_converting"),
           sum("n_purch").as("n_purchases"),
           sum("purch_cents").as("attributed_cents"))
      .orderBy("channel")
  }

  /** Driver-verified: STREAMING MEDIA DEDUP — arriving packed media drops
    * checked for re-encoded copies against the PERSISTED media feature
    * index the moment they land, closing the batch×stream matrix for
    * multimodal (the streaming side previously only cataloged/filtered —
    * `stream_media_packed` / `stream_media_filter` — but never deduped).
    * The [[streamDecontaminateQuery]] discipline applied to bytes: each
    * arriving asset is fingerprinted in-flight (one typed map — the same
    * kernel the index build ran ONCE over the corpus; the drop pays only
    * its own bytes), candidates come from a STATELESS stream-static join
    * of its winnow fingerprints against the store's cold postings, and
    * verification is one codegen'd `array_intersect` + permille-L1 per
    * candidate — no streaming aggregate; the only state is the
    * (drop, store) pair-dedup key, watermark-boundable at production.
    * Emitted set == the batch cross-split check (order-free), proven by
    * StreamingSpec against [[graft.multimodal.MediaIndex.mediaDupCrossBatch]]
    * and hash-gated by the full SQL byte replay. */
  def streamMediaDedupQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.multimodal.{Media, MediaIndex}
    val prefix = MediaIndex.buildIndex(spark, sfDir, "corp")
    MediaIndex.requireNotMidAppend(spark, prefix)
    val dropDir = Media.ensurePackedEncodedDrop(spark, sfDir)
    val drops = spark.readStream
      .schema("media_id BIGINT, kind STRING, payload BINARY")
      .option("maxFilesPerTrigger", "1")
      .parquet(dropDir)
    val verified = MediaIndex.crossPairsCore(MediaIndex.dropFeatures(drops), prefix)
    runToCompletion(spark, verified, "stream_media_dedup", OutputMode.Append())
      .orderBy("canonical_id", "dup_id")
  }

  /** Driver-verified: DYNAMIC-GAP sessions in APPEND mode — the streaming
    * twin of [[graft.operators.Relational.sessionWindowDynamic]] under the
    * [[streamSessionsAppendQuery]] eviction discipline: the gap is a
    * per-ROW expression over the event type, a session row is emitted
    * exactly once when the watermark passes its (max event-end) close, and
    * still-open sessions are absent by design. State = open sessions only,
    * bounded by active users × max gap — the same production bound as the
    * fixed-gap form; the dynamic gap changes WHICH sessions stay open, not
    * the bound's shape. Oracle = the dynamic island SQL restricted to
    * `session_end ≤ final watermark`. */
  def streamSessionDynamicQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"),
               session_window(col("ts"), graft.operators.Relational.dynamicGapCol))
      .agg(count(lit(1)).as("n_events"))
    runToCompletion(spark, agg, "stream_session_dynamic", OutputMode.Append())
      .select(col("user_id"),
              unix_micros(col("session_window.start")).as("start_us"),
              unix_micros(col("session_window.end")).as("end_us"),
              col("n_events"))
      .orderBy("user_id", "start_us")
  }

  /** Driver-verified: streaming CLUSTER ASSIGNMENT of arriving documents —
    * each delta doc is hashed-embedded PER ROW in the stream
    * (`graft_hash_embed`, stateless scan-side kernel, zero shuffle) and
    * classified to its nearest centroid by a per-row FOLD over the
    * persisted text codebook, staged at plan time as a literal (√N
    * centroids × dim floats — broadcast-probe-staging scale, KBs): the
    * whole classification is a STATELESS append-mode map — no explode, no
    * streaming aggregate, no state store, nothing re-emitted per batch.
    * (An earlier form joined the codebook and argmax'd in a Complete-mode
    * aggregate; Complete mode rewrites the ENTIRE result every micro-batch
    * — a non-starter over an unbounded stream, and the state it carried
    * was pure waste since the verdict is per-row.) The ascending fold
    * replaces the best cell only on a STRICTLY greater cosine, so ties
    * resolve to the smallest cell — the same `max(struct(cos, -cent_id))`
    * rule as the batch family, and the batch assignment SQL stays the
    * exact oracle — the streaming half of the text→vector bridge: route
    * arriving documents to topic/quality cells the moment they land. */
  def streamClusterAssignQuery(spark: SparkSession, sfDir: String,
                               dim: Int = 64): DataFrame = {
    import graft.operators.{IncrementalDedup, Similarity}
    val prefix = Similarity.ensureTextIvfIndex(spark, sfDir, dim)
    val cents = spark.table(s"${prefix}_cents").orderBy("cent_id")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    val ids = typedLit(cents.map(_._1).toSeq)
    val embs = typedLit(cents.map(_._2.toSeq).toSeq)
    val best = aggregate(
      sequence(lit(0), lit(cents.length - 1)),
      struct(lit(-2.0).as("cos"), lit(0).as("idx")),
      (acc, i) => {
        val c = graft.functions.VectorFunctions.cosine(
          col("emb"), element_at(embs, i + 1))
        when(c > acc("cos"), struct(c.as("cos"), i.as("idx"))).otherwise(acc)
      })
    val assigned = tableStream(spark, sfDir, "documents")
      .filter(col("doc_id") % IncrementalDedup.DeltaMod === 0)
      .select(col("doc_id"),
              call_function("graft_hash_embed", col("text"), lit(dim))
                .cast("array<float>").as("emb"))
      .select(col("doc_id"), best.as("m"))
      .select(col("doc_id"),
              element_at(ids, col("m.idx") + 1).as("cell"),
              duckRound(col("m.cos"), 6).as("cos"))
    runToCompletion(spark, assigned, "stream_cluster", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Driver-verified: the ANN index's DRIFT EVIDENCE maintained AT INGEST
    * (`stream_index_audit`) — `index_audit`'s row as the newest family's
    * streaming cell: every arriving vector is argmax-assigned PER ROW
    * against the persisted auto-index's FROZEN codebook (the
    * [[streamClusterAssignQuery]] fold — stateless scan arithmetic, the
    * ≤√N-row codebook staged as a plan-time literal, strict-> ascending
    * fold ⟹ the batch `max_by(cent_id, struct(cos, -cent_id))` tie rule),
    * and the ONE stateful op is the per-cell count sum: complete mode,
    * state = ≤|cells| longs at ANY ingest volume — the metadata-grain
    * contract, and exactly how a production monitor watches an index
    * WITHOUT batch re-scans. The audit read-out (max cell, total, integer
    * skew permille, declared cut, route) runs batch-side over the
    * completed ≤k-row grid through the same integer arithmetic as
    * [[graft.operators.Similarity.indexAudit]]; its oracle is shared
    * verbatim, so the streamed evidence row is hash-gated against the
    * full batch replay every round. */
  /** Driver-verified: the SKEW ROUTER'S EVIDENCE MAINTAINED AT INGEST
    * (`stream_skew_audit`) — the stream_index_audit discipline applied to
    * the join/agg skew family: exact per-key counts are unbounded state
    * (|keys| grows with the corpus), so the deployed monitor maintains
    * the CMS grid instead (ONE complete-mode `graft_cms` aggregate —
    * state = depth·width longs at ANY ingest volume, the metadata-grain
    * contract) and reads out a PROVABLE UPPER BOUND on the hottest key:
    * per depth row, the max cell is ≥ every key's count (a key's whole
    * count lands in one cell per row); the min over rows is the
    * tightest such bound — the standard CMS max-frequency bound. The
    * route applies the same declared cut to the bound, making this a
    * deliberately CONSERVATIVE router (overestimate ⟹ salts early, never
    * misses real skew); at the driver grids' load factors (≤~1.5
    * keys/cell) the bound tracks the exact max closely and the verdict
    * agrees with the batch audit (spec-gated). Oracle replays the grid
    * cells, the row-max/min-bound, and the integer arithmetic from the
    * raw events. */
  def streamSkewAuditQuery(spark: SparkSession, sfDir: String,
                           depth: Int = 4, width: Int = 1024): DataFrame = {
    import graft.operators.Relational
    val agg = tableStream(spark, sfDir, "events")
      .filter(col("user_id").isNotNull)
      .groupBy()
      .agg(call_function("graft_cms",
        col("user_id").cast("string"), lit(1L), lit(depth), lit(width)).as("grid"))
    val grid = runToCompletion(spark, agg, "stream_skew_audit", OutputMode.Complete())
    // degenerate-source guard (the stream_kll discipline): zero sink rows
    // must yield the zero audit row, not an empty frame
    if (grid.isEmpty) {
      import spark.implicits._
      return Seq((0L, 0L, 0L, Relational.JoinSaltShareCutPermille, "plain"))
        .toDF("n_rows", "est_max_count", "share_bound_permille",
              "cut_permille", "route")
    }
    // each depth row sums to n (every update adds its weight once per row)
    val n = expr(s"aggregate(slice(grid, 1, $width), 0L, (a, x) -> a + x)")
    val rowMaxes = (0 until depth).map(i =>
      array_max(slice(col("grid"), i * width + 1, width)))
    grid.select(coalesce(n, lit(0L)).as("n_rows"),
                coalesce(least(rowMaxes: _*), lit(0L)).as("est_max_count"))
      .select(col("n_rows"), col("est_max_count"),
        when(col("n_rows") === 0L, lit(0L))
          .otherwise(expr("cast(est_max_count as decimal(38,0)) * 1000 div n_rows"))
          .as("share_bound_permille"),
        lit(Relational.JoinSaltShareCutPermille).as("cut_permille"),
        when(col("est_max_count").cast("decimal(38,0)") * 1000 >
               col("n_rows").cast("decimal(38,0)") * Relational.JoinSaltShareCutPermille,
             "salted").otherwise("plain").as("route"))
  }

  def streamIndexAuditQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Similarity
    val prefix = Similarity.ensureAutoIndex(spark, sfDir)
    val cents = spark.table(s"${prefix}_cents").orderBy("cent_id")
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    // Degenerate-source guard (the stream_kll/stream_pps discipline): with
    // an EMPTY codebook the fold below would build sequence(0, -1) and
    // element_at(ids, 0) — a runtime throw instead of an audit row. A store
    // with zero trained cells has nothing to audit: emit the zero row the
    // batch read-out would produce from an empty grid.
    if (cents.isEmpty) {
      import spark.implicits._
      return Seq((0L, 0L, 0L, 0L, Similarity.IndexAutoSkewX * 1000L, "append"))
        .toDF("trained_cells", "n_vecs", "max_cell", "skew_permille",
              "cut_permille", "route")
    }
    val ids = typedLit(cents.map(_._1).toSeq)
    val embs = typedLit(cents.map(_._2.toSeq).toSeq)
    val best = aggregate(
      sequence(lit(0), lit(cents.length - 1)),
      struct(lit(-2.0).as("cos"), lit(0).as("idx")),
      (acc, i) => {
        val c = graft.functions.VectorFunctions.cosine(
          col("embedding"), element_at(embs, i + 1))
        when(c > acc("cos"), struct(c.as("cos"), i.as("idx"))).otherwise(acc)
      })
    val counts = runToCompletion(spark,
      tableStream(spark, sfDir, "embeddings")
        .select(best.as("m"))
        .select(element_at(ids, col("m.idx") + 1).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n")),
      "stream_index_audit", OutputMode.Complete())
    val k = cents.length.toLong
    counts.agg(coalesce(sum("n"), lit(0L)).as("n_vecs"),
               coalesce(max("n"), lit(0L)).as("max_cell"))
      .select(lit(k).as("trained_cells"), col("n_vecs"), col("max_cell"),
        // decimal(38,0) intermediates: max_cell·k·1000 can exceed Long at
        // extreme scale and Spark wraps silently while DuckDB errors — the
        // same alignment fix as Similarity.indexAudit's BigInt (the oracle
        // computes in HUGEINT). `div` on decimals still yields a LONG and
        // the quotient ≤ k·1000 always fits.
        when(col("n_vecs") === 0L, lit(0L))
          .otherwise(expr(s"cast(max_cell as decimal(38,0)) * ${k}L * 1000 div n_vecs"))
          .as("skew_permille"),
        lit(Similarity.IndexAutoSkewX * 1000L).as("cut_permille"),
        when(col("max_cell").cast("decimal(38,0)") * k >
               col("n_vecs").cast("decimal(38,0)") * Similarity.IndexAutoSkewX,
             "rebuild").otherwise("append").as("route"))
  }

  /** Driver-verified: streaming NEAR-dup dedup — the incremental-ingest
    * pipeline ([[graft.operators.IncrementalDedup]]) run as a real
    * streaming query. Each arriving delta document is fingerprinted
    * STATELESSLY in the stream (`graft_minhash_arr` per-row signature →
    * `graft_bands`, zero shuffle), candidates come from a stream-static
    * join against the persisted bucketed band index, the single stateful
    * operator is `dropDuplicates(doc_a, doc_b)` (candidate pairs found via
    * several bands emit once), and verification is one codegen'd
    * `array_intersect` per pair against the store's shingle-array table —
    * exact Jaccard, no streaming aggregate needed. The emitted verified
    * pair set is order-independent, so the batch incremental-dedup oracle
    * is the exact oracle. State = one (doc_a, doc_b) key per candidate
    * pair; at production scale the watermark on ingest time bounds it. */
  def streamNearDupQuery(spark: SparkSession, sfDir: String,
                         threshold: Double = 0.8): DataFrame = {
    import graft.operators.IncrementalDedup
    val p = IncrementalDedup.IndexParams()
    // ensureShingleArrays builds-or-reuses the WHOLE index (sharr included)
    val sharr = IncrementalDedup.ensureShingleArrays(spark, sfDir, p)
    val prefix = IncrementalDedup.indexPrefix(sfDir, p)
    val deltaBands = tableStream(spark, sfDir, "documents")
      .filter(col("doc_id") % IncrementalDedup.DeltaMod === 0)
      .select(col("doc_id").as("doc_a"),
              call_function("graft_shingles", col("text"), lit(p.n)).as("s_arr"))
      .select(col("doc_a"), col("s_arr"),
              posexplode(call_function("graft_bands",
                call_function("graft_minhash_arr", col("s_arr"),
                  lit(p.numBands * p.rowsPerBand)),
                lit(p.numBands), lit(p.rowsPerBand))))
      .toDF("doc_a", "s_arr", "band", "bhash")
    val candidates = deltaBands
      .join(spark.table(s"${prefix}_bands").withColumnRenamed("doc_id", "doc_b"),
            Seq("band", "bhash"))
      .select("doc_a", "doc_b", "s_arr")
      .dropDuplicates("doc_a", "doc_b")
    val verified = candidates
      .join(spark.table(sharr)
              .withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("s_arr", "s_arr_b"),
            Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("s_arr"), col("s_arr_b"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (size(col("s_arr")) + size(col("s_arr_b")) - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // prefix deliberately NOT "stream_dedup_*": runToCompletion clears old
    // sink tables by prefix, and a shared prefix would cross-delete.
    runToCompletion(spark, verified, "stream_neardup", OutputMode.Append())
      .orderBy("doc_a", "doc_b")
  }

  /** Driver-verified: DECONTAMINATION as the eval shard STREAMS IN — the
    * streaming twin of [[graft.operators.IncrementalDedup
    * .decontaminateAgainstIndex]]: benchmark/eval documents arrive as a
    * stream and are checked for containment in the PERSISTED training
    * corpus index the moment they land (the release-gate shape: "is this
    * new eval set already in our training data?"). Candidates come from a
    * STATELESS stream-static join of the eval doc's wide containment bands
    * (64×2) against the persisted `_cbands` table; asymmetric containment
    * |eval ∩ train| / |eval| is then verified per candidate against the
    * store's shingle-array table with one codegen'd `array_intersect` — no
    * streaming aggregate, no unbounded state (the only state is the
    * candidate-pair dedup key, watermark-boundable at production). The
    * emitted pair set is order-independent, so the batch exact-containment
    * oracle is THE oracle (same banding-recall argument as
    * `decontaminate_indexed`: at containment ≥ 0.6 every qualifying pair
    * bands into a candidate on this corpus). */
  def streamDecontaminateQuery(spark: SparkSession, sfDir: String,
                               threshold: Double = 0.6): DataFrame = {
    import graft.operators.IncrementalDedup
    val p = IncrementalDedup.IndexParams()
    IncrementalDedup.ensureShingleArrays(spark, sfDir, p)
    val evalStream = tableStream(spark, sfDir, "documents")
      .filter(col("doc_id") % IncrementalDedup.DeltaMod === 0)
    streamDecontaminateFrom(spark, evalStream,
      IncrementalDedup.indexPrefix(sfDir, p), p, threshold)
  }

  /** [[streamDecontaminateQuery]] over an explicit eval stream and index
    * prefix — the form the multi-batch specs drive directly (the index at
    * `prefix` must be built, e.g. via `IncrementalDedup.buildIndexFrom`). */
  private[graft] def streamDecontaminateFrom(
      spark: SparkSession, evalDocs: DataFrame, prefix: String,
      p: graft.operators.IncrementalDedup.IndexParams,
      threshold: Double): DataFrame = {
    val evalBands = evalDocs
      .select(col("doc_id").as("eval_id"),
              call_function("graft_shingles", col("text"), lit(p.n)).as("s_arr"))
      .select(col("eval_id"), col("s_arr"),
              posexplode(call_function("graft_bands",
                call_function("graft_minhash_arr", col("s_arr"),
                  lit(p.cBands * p.cRows)),
                lit(p.cBands), lit(p.cRows))))
      .toDF("eval_id", "s_arr", "band", "bhash")
    val candidates = evalBands
      .join(spark.table(s"${prefix}_cbands").withColumnRenamed("doc_id", "train_id"),
            Seq("band", "bhash"))
      .select("eval_id", "train_id", "s_arr")
      .dropDuplicates("eval_id", "train_id")
    val verified = candidates
      .join(spark.table(s"${prefix}_sharr")
              .withColumnRenamed("doc_id", "train_id")
              .withColumnRenamed("s_arr", "s_arr_b"),
            Seq("train_id"))
      .withColumn("inter", size(array_intersect(col("s_arr"), col("s_arr_b"))))
      .select(col("eval_id"), col("train_id"),
        (col("inter").cast("double") / size(col("s_arr")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
    runToCompletion(spark, verified, "stream_decon", OutputMode.Append())
      .orderBy("eval_id", "train_id")
  }

  /** Driver-verified: TAKEDOWN REQUESTS processed as they arrive — the
    * compliance-queue twin of [[graft.operators.Dedup.takedownPropagate]]:
    * each request (here: the matched sources' docs replayed as the request
    * feed) resolves its duplicate cluster against the PERSISTED label
    * table and pulls every member into the removal manifest the moment it
    * lands — two STATELESS stream-static joins; the only state is the
    * manifest dedup key (two requests touching one cluster emit its
    * members once). Emitted set == the batch manifest (order-free), so
    * the batch closure oracle is exact. */
  def streamTakedownQuery(spark: SparkSession, sfDir: String,
                          sources: Seq[String] = Seq("src3", "src13")): DataFrame = {
    import graft.operators.Dedup
    val labels = spark.table(Dedup.ensureClusterLabels(spark, sfDir))
    val labeled = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .join(labels, col("doc_id") === col("v"), "left")
      .select(col("doc_id"), col("source"),
              coalesce(col("l"), col("doc_id")).as("cluster_id"))
    val requests = tableStream(spark, sfDir, "documents")
      .filter(col("source").isin(sources: _*))
      .select(col("doc_id").as("req_doc"))
    val manifest = requests
      .join(labeled.select(col("doc_id").as("req_doc"), col("cluster_id")),
            Seq("req_doc"))
      .select("cluster_id")
      .join(labeled, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("source").isin(sources: _*), "direct")
          .otherwise("cluster").as("reason"))
      .dropDuplicates("doc_id")
    runToCompletion(spark, manifest, "stream_takedown", OutputMode.Append())
      .orderBy("doc_id")
  }

  final case class QuotaIn(source: String, doc_id: Long, toks: Long)
  final case class QuotaOut(source: String, doc_id: Long, toks: Long,
                            cum_tokens: Long, accepted: Int)

  /** Per-source token-budget state for [[streamQuotaIngestQuery]] — the
    * `transformWithState` (Spark 4 arbitrary-state API) processor: one
    * `ValueState[Long]` per source holds tokens consumed so far; each
    * arriving doc adds its mass and is accepted iff the running total
    * stays under `cap`. Within a batch rows are consumed in doc_id order
    * so bounded replay is deterministic; across batches the state value
    * IS the contract (proven by the multi-batch spec). */
  class QuotaProcessor(cap: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, QuotaIn, QuotaOut] {
    @transient private var used: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      used = getHandle.getValueState[Long]("used",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[QuotaIn],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[QuotaOut] = {
      var u = if (used.exists()) used.get() else 0L
      val out = rows.toArray.sortBy(_.doc_id).map { r =>
        u += r.toks
        QuotaOut(r.source, r.doc_id, r.toks, u, if (u <= cap) 1 else 0)
      }
      used.update(u)
      out.iterator
    }
  }

  /** Driver-verified: MIXTURE-QUOTA enforcement AT INGEST — the online
    * counterpart of `mixture_sample`: each source has a token budget, and
    * every arriving document either fits the remaining budget (accepted)
    * or finds it exhausted — decided the moment the doc lands, which no
    * stateless filter and no windowed aggregate can express (the verdict
    * depends on the running total across ALL previous batches). This is
    * the Spark 4 `transformWithState` API carrying the state: one
    * ValueState[Long] per source (fixed-size at any corpus scale),
    * RocksDB-backed as the API requires.
    *
    * Determinism contract: budget is consumed in ARRIVAL order — the real
    * quota semantics — and the bounded replay arrives in doc_id order, so
    * the batch prefix-sum over (source ORDER BY doc_id) is the exact
    * oracle; production arrival order changes WHICH docs win the budget,
    * never how much of it is spent. */
  def streamQuotaIngestQuery(spark: SparkSession, sfDir: String,
                             cap: Long = 2000L): DataFrame = {
    import spark.implicits._
    val in = tableStream(spark, sfDir, "documents")
      .select(col("source"), col("doc_id"),
              TextFunctions.bpeTokenCount(col("text")).as("toks"))
      .as[QuotaIn]
    quotaIngestFrom(spark, in, cap)
  }

  /** [[streamQuotaIngestQuery]] over an explicit `QuotaIn` stream — the
    * form the multi-batch state spec drives. */
  private[graft] def quotaIngestFrom(spark: SparkSession,
                                     in: org.apache.spark.sql.Dataset[QuotaIn],
                                     cap: Long): DataFrame = {
    import spark.implicits._
    withConf(spark, "spark.sql.streaming.stateStore.providerClass", RocksDbProvider) {
      val out = in.groupByKey(_.source)
        .transformWithState(new QuotaProcessor(cap),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
      runToCompletion(spark, out.toDF(), "stream_quota", OutputMode.Append())
        .orderBy("source", "doc_id")
    }
  }

  final case class KanonIn(lang: String, source: String, doc_id: Long)
  final case class KanonOut(doc_id: Long, lang: String, source: String,
                            cell_seen: Long, admitted: Int)

  /** Per-cell running count for [[streamKanonQuery]]: one `ValueState[Long]`
    * per (lang, source) quasi-identifier cell — fixed-size state at any
    * corpus scale (|cells| values, thousands not billions). Rows are
    * consumed in doc_id order within a batch so the bounded replay is
    * deterministic ([[QuotaProcessor]] discipline); the count surviving
    * the batch boundary IS the contract the multi-batch spec proves. */
  class KanonProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, KanonIn, KanonOut] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[KanonIn],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[KanonOut] = {
      var n = if (seen.exists()) seen.get() else 0L
      val out = rows.toArray.sortBy(_.doc_id).map { r =>
        n += 1
        KanonOut(r.doc_id, r.lang, r.source, n, if (n >= k) 1 else 0)
      }
      seen.update(n)
      out.iterator
    }
  }

  /** Driver-verified: K-ANONYMITY gate AT INGEST — the streaming twin of
    * [[graft.operators.TextAnalysis.kanonSuppress]], and the one privacy
    * op that genuinely needs arbitrary state: a document's verdict depends
    * on how many documents its (lang, source) quasi-identifier cell has
    * EVER held, across every previous micro-batch — no stateless filter or
    * windowed aggregate can express it. One `ValueState[Long]` per cell
    * via `transformWithState`, RocksDB-backed.
    *
    * The honest streaming trade, modeled in the oracle rather than papered
    * over: a doc that lands while its cell still holds fewer than k docs
    * is SUPPRESSED (`admitted = 0`) even if the cell later fills — the
    * gate cannot see the future, so the first k−1 docs of every
    * ultimately-large cell are the price of deciding at ingest (a release
    * pipeline re-admits them with the batch [[TextAnalysis.kanonSuppress]]
    * pass at publish time). Budget-order contract as [[streamQuotaIngestQuery]]:
    * the bounded replay arrives in doc_id order, so the exact oracle is
    * `row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) >= k`;
    * production arrival order changes WHICH docs pay the warm-up price,
    * never how many. 100 TB: state is |cells| longs, output is one row per
    * doc emitted as it lands (Append), nothing corpus-sized accumulates. */
  /** Shared with the SQL oracle (one definition site). */
  val KanonK = 5

  def streamKanonQuery(spark: SparkSession, sfDir: String,
                       k: Int = KanonK): DataFrame = {
    import spark.implicits._
    val in = tableStream(spark, sfDir, "documents")
      .select(col("lang"), col("source"), col("doc_id"))
      .as[KanonIn]
    kanonFrom(spark, in, k)
  }

  /** [[streamKanonQuery]] over an explicit `KanonIn` stream — the form the
    * multi-batch state spec drives. */
  private[graft] def kanonFrom(spark: SparkSession,
                               in: org.apache.spark.sql.Dataset[KanonIn],
                               k: Int): DataFrame = {
    import spark.implicits._
    withConf(spark, "spark.sql.streaming.stateStore.providerClass", RocksDbProvider) {
      val out = in.groupByKey(r => r.lang + "\u0001" + r.source)
        .transformWithState(new KanonProcessor(k),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
      runToCompletion(spark, out.toDF(), "stream_kanon", OutputMode.Append())
        .orderBy("doc_id")
    }
  }

  final case class NoisedIn(lang: String, source: String, doc_id: Long)
  final case class NrState(n: Long, rel: Long)
  final case class NoisedOut(lang: String, source: String, release_idx: Long,
                             noisy_n: Long, released: Int)

  /** Per-cell (cumulative count, release ordinal) for
    * [[streamNoisedReleaseQuery]] — the [[KanonProcessor]] state shape
    * plus the ordinal that seeds each release's fresh noise draw. */
  class NoisedReleaseProcessor(k: Int, capMag: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, NoisedIn, NoisedOut] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[NrState] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[NrState]("nr",
        org.apache.spark.sql.Encoders.product[NrState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[NoisedIn],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[NoisedOut] = {
      // only the COUNT matters (no per-row output, no ordering
      // sensitivity), so stream the iterator — a hot cell's batch slice
      // never materializes (the KanonProcessor buffers because it emits
      // per row in doc_id order; this op emits one row per cell)
      val r0 = rows.next()
      var batchN = 1L
      while (rows.hasNext) { rows.next(); batchN += 1 }
      val prev = if (st.exists()) st.get() else NrState(0L, 0L)
      val n = prev.n + batchN
      val rel = prev.rel + 1
      st.update(NrState(n, rel))
      // the per-release noise draw: the batch noisedRelease formula with
      // the release ordinal rotated into the hash input — a fresh
      // Geometric(1/2) per epoch, bit-for-bit replayable in SQL
      val h = graft.operators.TextAnalysis.md5Low64(
        s"${r0.lang}:${r0.source}:$rel") & Long.MaxValue
      val sign = if ((h & 1L) == 1L) 1L else -1L
      val g = h >> 1
      val mag = math.min(java.lang.Long.bitCount((g & -g) - 1).toLong, capMag.toLong)
      val noisy = math.max(n + sign * mag, 0L)
      Iterator.single(NoisedOut(r0.lang, r0.source, rel, noisy,
                                if (noisy >= k) 1 else 0))
    }
  }

  /** Epoch count for the bounded replay of [[streamNoisedReleaseQuery]] —
    * the documents land in this many mod-class drop files, one per
    * micro-batch. Shared with the SQL oracle (one definition site). */
  val NoisedReleaseEpochs = 3

  /** Driver-verified: SEEDED-NOISE cell release AT EACH DROP — the
    * streaming twin of [[graft.operators.TextAnalysis.noisedRelease]],
    * completing the release-side privacy family's streaming coverage
    * ([[streamKanonQuery]] gates per-doc admission; this publishes the
    * per-cell AGGREGATE view as drops land): after every micro-batch, each
    * (lang, source) cell that received documents releases its cumulative
    * count with FRESH two-sided-geometric noise — the release ordinal is
    * rotated into the noise hash, which is exactly the epoch-rotation
    * contract the batch op documents and this op demonstrates (the same
    * cell's draw differs between its releases; a fixed draw would let two
    * consecutive releases be differenced to the exact delta). The true
    * count never appears in the output; the size threshold re-applies to
    * each noisy value. CONTINUAL-OBSERVATION ε-accounting (noise across
    * epochs composes) is the caller's, as in the batch op.
    *
    * The honest streaming trades, declared: a cell releases only at drops
    * where it RECEIVED documents (absence produces no heartbeat row —
    * emitting one would itself leak "nothing arrived"), and release
    * ordinals are per-cell appearance counts, so the bounded replay's
    * epochs (doc_id mod [[NoisedReleaseEpochs]] drop files, the
    * [[streamSnapshotDiffQuery]] staging) make the oracle exact: per cell,
    * cumulative counts over its non-empty epochs, numbered consecutively.
    * 100 TB: state is |cells| (long, long) pairs; each batch's work is the
    * arriving rows plus one emission per touched cell — nothing
    * corpus-sized accumulates. */
  def streamNoisedReleaseQuery(spark: SparkSession, sfDir: String,
      k: Int = graft.operators.TextAnalysis.NoisedReleaseK,
      capMag: Int = graft.operators.TextAnalysis.NoisedReleaseCap): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"), col("doc_id"))
    val dir = scratchTempDir(spark, "graft_noised_stream")
    dir.toFile.deleteOnExit()
    for (e <- 0 until NoisedReleaseEpochs)
      stageStreamFile(docs.filter(col("doc_id") % NoisedReleaseEpochs === e),
                      dir, s"e$e", (e + 1) * 1000000L)
    val in = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .as[NoisedIn]
    noisedReleaseFrom(spark, in, k, capMag)
  }

  /** [[streamNoisedReleaseQuery]] over an explicit stream — the form the
    * spec drives with its own staged batches. */
  private[graft] def noisedReleaseFrom(spark: SparkSession,
      in: org.apache.spark.sql.Dataset[NoisedIn],
      k: Int, capMag: Int): DataFrame = {
    import spark.implicits._
    withConf(spark, "spark.sql.streaming.stateStore.providerClass", RocksDbProvider) {
      val out = in.groupByKey(r => r.lang + "\u0001" + r.source)
        .transformWithState(new NoisedReleaseProcessor(k, capMag),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
      runToCompletion(spark, out.toDF(), "stream_noised", OutputMode.Append())
        .orderBy("lang", "source", "release_idx")
    }
  }

  final case class Scd2St(lastType: String, fromUs: Long)
  final case class Scd2Out(event_type: String, valid_from_us: Long, valid_to_us: Long)

  /** Driver-verified: SNAPSHOT DIFF as the new corpus drop STREAMS IN —
    * the streaming twin of [[graft.operators.Pipeline.snapshotDiff]]
    * (same mod-class state-B derivation, same oracle). `added`/`changed`
    * are decided per row the moment a drop file lands: a STATELESS
    * stream-static join against the old snapshot's (id, md5) frame — no
    * state stores, nothing accumulates, so drop size never pressures
    * memory. `unchanged` rows are emitted (not dropped) so the sink's id
    * set is the arrived-B universe; `removed` — undecidable before the
    * drop ends, since absence has no arrival event — is one end-of-stream
    * anti-join over fingerprints. Final frame = batch snapshotDiff,
    * row for row. */
  def streamSnapshotDiffQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.select(col("doc_id"), md5(col("text")).as("sig_a"))
    // coalesce: an empty documents table pins 0 instead of NPE-ing on the
    // null max; the derived streams are then empty and so is the diff
    val mxk = docs.agg(coalesce(max("doc_id"), lit(0L))).head().getLong(0)
    // state B: the same mod-class derivation as the batch snapshot_diff
    val b = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 3, concat(col("text"), lit(" (rev2)")))
              .otherwise(col("text"))).as("sig_b"))
      .unionByName(docs.filter(col("doc_id") % 11 === 2)
        .select((col("doc_id") + lit(mxk)).as("doc_id"),
                md5(col("text")).as("sig_b")))
    val dir = scratchTempDir(spark, "graft_snapdiff_stream")
    dir.toFile.deleteOnExit()
    stageStreamFile(b.filter(col("doc_id") % 2 === 0), dir, "b0", 1000000L)
    stageStreamFile(b.filter(col("doc_id") % 2 === 1), dir, "b1", 2000000L)
    val stream = spark.readStream.schema(b.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    // added/changed are per-ROW decidable the moment a drop file lands:
    // a stateless stream-static join against the old snapshot's
    // fingerprint frame (zero state stores — nothing accumulates).
    // `unchanged` rows are EMITTED, not dropped: the sink's id set is the
    // arrived-B universe the end-of-drop pass needs.
    val statused = stream.join(a, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("sig_a").isNull, lit("added"))
          .when(col("sig_a") =!= col("sig_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
    val emitted = runToCompletion(spark, statused, "stream_snapdiff",
                                  OutputMode.Append())
    // `removed` is NOT incrementally decidable — absence from a drop is
    // only known when the drop ends — so it is one end-of-stream anti-join
    // of the old snapshot against the arrived ids (fingerprint-sized).
    val removed = a.join(emitted, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("removed").as("status"))
    emitted.filter(col("status") =!= "unchanged")
      .unionByName(removed)
      .orderBy("doc_id")
  }

  /** Driver-verified: SCD TYPE-2 versions derived IN-STREAM — the
    * streaming twin of [[graft.operators.Pipeline.scd2History]], closing
    * the CDC×streaming matrix (merge has [[streamUpsertQuery]], history
    * has this): the event feed arrives in two time-split micro-batches,
    * per-user `flatMapGroupsWithState` keeps ONE fixed-size record (the
    * open version) regardless of history length, consecutive duplicate
    * changes collapse in-state, and a version row is EMITTED the moment a
    * later change closes it — including versions opened in batch 0 and
    * closed in batch 1, the cross-batch case a per-batch window can't
    * see. Open versions ride in state and are never emitted (a stream has
    * no end), so the contract is the batch derivation restricted to
    * CLOSED versions — exactly what the shared oracle selects
    * (`valid_to IS NOT NULL`). Order: (us, event_id) within a batch by
    * explicit sort, across batches by the time split. */
  def streamScd2Query(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("us"), col("event_type"))
    // coalesce: empty events pin a zero split instead of NPE on null
    // bounds; both staged shards are then empty and the result is empty
    val b = ev.agg(coalesce(min("us"), lit(0L)).as("mn"),
                   coalesce(max("us"), lit(0L)).as("mx")).head()
    val split = (b.getLong(0) + b.getLong(1)) / 2
    val dir = scratchTempDir(spark, "graft_scd2_stream")
    dir.toFile.deleteOnExit()
    stageStreamFile(ev.filter(col("us") <= split), dir, "b0", 1000000L)
    stageStreamFile(ev.filter(col("us") > split), dir, "b1", 2000000L)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    def update(userId: Long, rows: Iterator[org.apache.spark.sql.Row],
               state: GroupState[Scd2St]): Iterator[Scd2Out] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Out]
      var st = state.getOption.orNull
      rows.toSeq.sortBy(r => (r.getLong(2), r.getLong(1))).foreach { r =>
        val (us, tpe) = (r.getLong(2), r.getString(3))
        if (st == null) st = Scd2St(tpe, us)
        else if (st.lastType != tpe) {
          out += Scd2Out(st.lastType, st.fromUs, us)
          st = Scd2St(tpe, us)
        } // duplicate change: collapses, no version
      }
      if (st != null) state.update(st)
      out.iterator
    }
    val versions = stream.groupByKey(_.getLong(0))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
    runToCompletion(spark, versions.toDF(), "stream_scd2", OutputMode.Append())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_versions"),
           sum(col("valid_to_us") - col("valid_from_us")).as("dwell_us"))
      .orderBy("event_type")
  }

  final case class CdcRow(k: Long, op: String, st: String, c: Long, seq: Long)
  final case class CdcState(op: String, st: String, c: Long, version: Long)
  final case class CdcOut(k: Long, op: String, st: String, c: Long, version: Long)

  /** Driver-verified: CDC consumed THROUGH a streaming query — the
    * Kafka-changelog-consumer production shape next to the batch
    * [[graft.operators.Pipeline.mergeUpsert]]: the changelog arrives in
    * micro-batches (two ordered file drops; batch 1 carries CORRECTIONS
    * that override batch 0's updates for half the updated keys), a
    * `flatMapGroupsWithState` state machine keeps LAST-WRITE-WINS state
    * per key (seq order within a batch, arrival order across batches —
    * exactly a compacted-topic consumer), and each batch emits the key's
    * post-batch state with a monotone version. The stream's state is
    * DELTA-sized (changed keys only), never the snapshot — the merge with
    * the full corpus happens once at read time against the bucketed
    * snapshot table ([[graft.operators.Pipeline.applyChangelog]], big
    * side never shuffles), which is how a 100 TB warehouse consumes CDC:
    * bounded stream state, snapshot join deferred to the query.
    * Output: the merged per-status accounting; the oracle replays the
    * net changelog (corrections applied) over the raw source. */
  def streamUpsertQuery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val base = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
              round(col("o_totalprice") * 100).cast("long").as("c"))
    // the same fingerprint-gated bucketed snapshot mergeUpsert uses
    val snapTable = s"graft_orders_snap_${graft.sources.Warehouse.pathToken(sfDir)}"
    val fp = graft.sources.Warehouse.sourceFingerprint(sfDir, "orders")
    graft.sources.Warehouse.ensureDerivedTables(spark, Seq(snapTable), fp) {
      graft.sources.Warehouse.writeBucketed(
        base.select(col("k").as("o_orderkey"), col("st").as("o_orderstatus"),
                    col("c").as("snap_cents")),
        Seq("o_orderkey"), snapTable, 8)
    }
    // coalesce: empty orders pin 0 instead of NPE on the null max
    val mxk = base.agg(coalesce(max("k"), lit(0L))).head().getLong(0)
    val chg0 = base.filter(col("k") % 13 === 5)
        .select(col("k"), lit("D").as("op"), col("st"), col("c"), lit(0L).as("seq"))
      .unionByName(base.filter(col("k") % 13 =!= 5 && col("k") % 7 === 3)
        .select(col("k"), lit("U").as("op"), col("st"),
                (col("c") + 100).as("c"), lit(1L).as("seq")))
      .unionByName(base.filter(col("k") % 11 === 2)
        .select((col("k") + mxk).as("k"), lit("I").as("op"), col("st"),
                col("c"), lit(2L).as("seq")))
    // batch-1 corrections: half the updated keys get a LATER absolute value
    val chg1 = base.filter(col("k") % 13 =!= 5 && col("k") % 7 === 3 && col("k") % 2 === 0)
      .select(col("k"), lit("U").as("op"), col("st"),
              (col("c") + 200).as("c"), lit(3L).as("seq"))
    val dir = scratchTempDir(spark, "graft_cdc_stream")
    dir.toFile.deleteOnExit()
    stageStreamFile(chg0, dir, "b0", 1000000L)
    stageStreamFile(chg1, dir, "b1", 2000000L)
    val stream = spark.readStream.schema(chg0.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    def update(key: Long, rows: Iterator[org.apache.spark.sql.Row],
               state: GroupState[CdcState]): Iterator[CdcOut] = {
      var st = state.getOption.getOrElse(CdcState(null, null, 0L, 0L))
      rows.toSeq.sortBy(_.getLong(4)).foreach { r =>
        st = CdcState(r.getString(1), r.getString(2), r.getLong(3), st.version + 1)
      }
      state.update(st)
      Iterator.single(CdcOut(key, st.op, st.st, st.c, st.version))
    }
    val applied = stream.groupByKey(_.getLong(0))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
    val emitted = runToCompletion(spark, applied.toDF(), "stream_upsert",
                                  OutputMode.Update())
    // net changelog = each key's highest-version emission (delta-sized)
    val net = emitted
      .withColumn("rn", row_number().over(
        Window.partitionBy("k").orderBy(col("version").desc)))
      .filter(col("rn") === 1)
      .select(col("k").as("o_orderkey"), col("op"),
              col("st").as("chg_status"), col("c").as("chg_cents"))
    graft.operators.Pipeline.applyChangelog(spark.table(snapTable), net)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
           sum(col("from_chg").cast("long")).as("n_from_changelog"),
           sum("cents").as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** Driver-contract form of the closed ingest loop ([[streamIngestToIndex]])
    * — the whole cycle as ONE oracle-checked query: the corpus index is
    * (re)built from the non-delta shard, the delta shard arrives as a real
    * file stream in TWO micro-batches (`(doc_id div 10) % 2` split, file
    * mtimes forcing batch order, `maxFilesPerTrigger=1` forcing the cut),
    * and the returned frame is the accumulated verified-pair table.
    *
    * What the oracle must therefore model — and does, as sequential CTEs:
    * batch-0 docs pair against the corpus AND each other (intra-batch,
    * larger id flagged); batch-0's clean survivors join the index; batch-1
    * docs pair against corpus ∪ clean batch-0 AND each other. A batch-1
    * near-dup of a FLAGGED batch-0 doc is correctly absent (the dup never
    * entered the index) — the oracle states the loop's exact operational
    * semantics, not a batch approximation of them.
    *
    * Deterministic replay without the 8-second tax: the loop MUTATES an
    * index, so every invocation must start from the corpus-only state —
    * but the corpus side is a pure function of the (unchanging) non-delta
    * shard, so it lives in the SHARED fingerprint-gated corpus index
    * ([[graft.operators.IncrementalDedup.buildIndex]], reused across
    * invocations and across the `dedup_incremental`/`stream_neardup`
    * family; a corpus regenerated in place fails the fingerprint gate and
    * rebuilds — spec-asserted). The streamed survivors go to a separate
    * OVERLAY index instead, and only that overlay plus the pairs table —
    * both O(delta) — are dropped and rebuilt per invocation. */
  def streamIngestQuery(spark: SparkSession, sfDir: String,
                        threshold: Double = 0.8): DataFrame = {
    import graft.operators.IncrementalDedup
    val p = IncrementalDedup.IndexParams()
    val prefix = IncrementalDedup.indexPrefix(sfDir, p)
    val overlay = s"graft_ingest_${graft.sources.Warehouse.pathToken(sfDir)}_ov"
    val pairsTable = s"${overlay.stripSuffix("_ov")}_pairs"
    // dropTableAndLocation, not bare DROP: a previous JVM's pairs table is
    // invisible to this catalog but its location survives, and the first
    // in-stream saveAsTable would refuse it (the index tables go through
    // writeBucketed, which clears its own orphans)
    (IncrementalDedup.tableNames(overlay) :+ pairsTable)
      .foreach(t => graft.sources.Warehouse.dropTableAndLocation(spark, t))
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val delta = docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
    // two single-file parquet drops with ordered mtimes: FileStreamSource
    // processes oldest-first, maxFilesPerTrigger=1 cuts one batch per file
    val dir = scratchTempDir(spark, "graft_ingest_stream")
    dir.toFile.deleteOnExit()
    stageStreamFile(delta.filter(expr("(doc_id div 10) % 2 = 0")), dir, "b0", 1000000L)
    stageStreamFile(delta.filter(expr("(doc_id div 10) % 2 = 1")), dir, "b1", 2000000L)
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    // the corpus-side index build (shingle explode + minhash aggregate over
    // the whole corpus) runs at the session's scan-sized parallelism — but
    // only when the fingerprint gate says the persisted index is stale
    IncrementalDedup.buildIndex(spark, sfDir, p)
    // ...the micro-batches are a few hundred docs each, where scan-sized
    // shuffle partitions multiply pure fixed overhead — same argument as
    // runToCompletion: streaming-scoped work plans at the streaming
    // partition count. (Bucket counts are unaffected; every result here is
    // partition-independent.)
    withConf(spark, "spark.sql.shuffle.partitions", streamWidth(spark)) {
      streamIngestToIndex(spark, stream, prefix, p, threshold, pairsTable,
        overlayPrefix = Some(overlay))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** Drop one single-file parquet batch into a file-stream directory with
    * a controlled modification time — FileStreamSource processes files
    * oldest-first, so staged mtimes define micro-batch order exactly. */
  /** Stage EVERY micro-batch drop file of a segmented fixture in ONE
    * write job: `repartition(segCol)` pins each segment to one task (equal
    * keys hash together), `partitionBy(segCol)` writes one part file per
    * segment directory, and the parts are renamed flat with ordered
    * mtimes — the [[stageStreamFile]] contract (oldest-first listing =
    * micro-batch order) at one scheduling barrier instead of one per
    * segment. Partition columns are directory-encoded, so the part files
    * carry exactly the non-seg columns, like the per-segment `select`
    * they replace. Returns the staged segment ids, ascending. */
  private[graft] def stageStreamFilesBySeg(rows: DataFrame, segCol: String,
      dir: java.nio.file.Path, name: Long => String,
      mtime: Long => Long): Seq[Long] = {
    val tmp = dir.resolve("_stage")
    rows.repartition(col(segCol)).write.partitionBy(segCol).parquet(tmp.toString)
    val segs = tmp.toFile.listFiles()
      .filter(_.getName.startsWith(s"$segCol="))
      .map(_.getName.stripPrefix(s"$segCol=").toLong).sorted.toSeq
    segs.foreach { s =>
      val sd = tmp.resolve(s"$segCol=$s")
      // EXACTLY one part file per segment dir, asserted loudly (r15
      // ADVICE): repartition(col(segCol)) guarantees it today, but a
      // future writer/AQE change producing two parts would otherwise
      // silently DROP rows from the staged stream — fail instead.
      val parts = sd.toFile.listFiles().filter(_.getName.startsWith("part-"))
      require(parts.length == 1,
        s"stageStreamFilesBySeg: expected exactly 1 part file in $sd, " +
          s"found ${parts.length} — the one-task-per-segment invariant broke")
      val part = parts.head
      val dest = dir.resolve(s"${name(s)}.parquet").toFile
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(mtime(s))
      dest.deleteOnExit()
      sd.toFile.listFiles().foreach(_.delete()); sd.toFile.delete()
    }
    tmp.toFile.listFiles().foreach(_.delete()); tmp.toFile.delete()
    segs
  }

  private[graft] def stageStreamFile(df: DataFrame, dir: java.nio.file.Path,
                                     name: String, mtime: Long): Unit = {
    val tmp = dir.resolve(s"${name}_w")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.startsWith("part-")).get
    val dest = dir.resolve(s"$name.parquet").toFile
    java.nio.file.Files.move(part.toPath, dest.toPath)
    dest.setLastModified(mtime)
    tmp.toFile.listFiles().foreach(_.delete()); tmp.toFile.delete()
    dest.deleteOnExit()
  }

  /** Streaming ingest loop WITH index extension — the closed production
    * cycle [[streamNearDupQuery]] only detects half of: per micro-batch,
    * arriving documents are verified against the persisted index
    * ([[graft.operators.IncrementalDedup.deltaAgainst]] — LSH candidates,
    * exact-Jaccard verification, store side bucket-local), verified pairs
    * land in the durable `pairsTable`, and the batch's CLEAN survivors are
    * appended into the index ([[graft.operators.IncrementalDedup
    * .appendToIndex]], in-flight-marker protected). A later delta — next
    * micro-batch, next stream, or the batch path — then detects near-dups
    * of earlier streamed documents.
    *
    * `foreachBatch` is the right streaming construct here: index
    * maintenance is a per-micro-batch transactional side effect (append
    * five bucketed tables + restore fingerprints) that no declarative sink
    * can express, while everything inside the batch function stays plain
    * DataFrame code shared with the batch path. Within one micro-batch,
    * documents are checked BOTH against the index as it stood at batch
    * start (deltaAgainst) AND against each other
    * ([[graft.operators.IncrementalDedup.selfPairs]]) — without the
    * intra-batch pass, two near-dups arriving together would both append
    * as clean and the `_sizes` ledger would shield them from detection
    * forever. Cross-batch dups are caught because each batch's survivors
    * extend the index before the next batch runs.
    * Returns the accumulated verified-pair table. */
  def streamIngestToIndex(spark: SparkSession, docs: DataFrame, prefix: String,
                          p: graft.operators.IncrementalDedup.IndexParams,
                          threshold: Double, pairsTable: String,
                          checkpointDir: Option[String] = None,
                          onBatchCommitted: Long => Unit = _ => (),
                          overlayPrefix: Option[String] = None): DataFrame = {
    import graft.operators.IncrementalDedup
    // overlayPrefix splits the index into an IMMUTABLE read-only base
    // (`prefix` — shareable, fingerprint-gated elsewhere) and a mutable
    // overlay that receives every append; verification reads base ∪
    // overlay by running the bucket-local candidate join against EACH
    // (a union of the two bucketed scans would lose the outputPartitioning
    // and re-shuffle the corpus-sized store per micro-batch — two
    // bucket-local joins cost only the O(batch) probe side twice, and a
    // doc lives in exactly one index so no pair is double-counted).
    // None = classic mode: `prefix` itself is appended to.
    val writeTo = overlayPrefix.getOrElse(prefix)
    // a checkpoint-restarted stream reuses its prefix WITHOUT re-running
    // the fingerprint gate — refuse a half-committed index loudly instead
    // of silently double-counting replayed postings
    IncrementalDedup.requireNotMidAppend(spark, prefix)
    overlayPrefix.foreach(ov => IncrementalDedup.requireNotMidAppend(spark, ov))
    def readPrefixes: Seq[String] = prefix +: overlayPrefix.filter(ov =>
      IncrementalDedup.tableNames(ov).forall(spark.catalog.tableExists)).toSeq
    val writer = docs.writeStream
      .trigger(Trigger.AvailableNow())
    // checkpointDir makes the stream RESTARTABLE: a crash between the
    // batch's table writes and the checkpoint commit replays the batch on
    // restart, and the ledger filter + anti-joined pair append make the
    // replay a no-op (spec: injected crash via onBatchCommitted — the
    // fault-injection seam, called after state is applied but before the
    // engine records the batch — then restart from the same checkpoint).
    // Without one, the checkpoint is per-run EPHEMERAL scratch, so it goes
    // on the fast local root (fresh dir — see runToCompletion) instead of
    // Spark's java.io.tmpdir temp default.
    val ephemeralCkpt =
      if (checkpointDir.isEmpty)
        Some(java.nio.file.Files.createTempDirectory(checkpointRoot(spark), "ingest"))
      else None
    checkpointDir.orElse(ephemeralCkpt.map(_.toString))
      .foreach(d => writer.option("checkpointLocation", d))
    val writerQ = writer
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch's lineage-cut blocks are released at
        // batch end — an unbounded stream must not accumulate one block
        // set per micro-batch for the checkpoint's lifetime
        val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
        // REPLAY SAFETY: a retried micro-batch or a restarted stream must
        // not re-append documents the index already holds — duplicated
        // postings would inflate every later intersection count, a silent
        // wrong Jaccard. The index's own `_sizes` table is the
        // processed-document ledger: filtering the batch against it makes
        // the append idempotent at document granularity with or without a
        // configured checkpoint location. (Checkpointed because it is
        // read twice: verification and the clean-side anti join.)
        // base and (if created yet) overlay — resolved per batch, because
        // the overlay typically comes into existence at batch 0's append
        val pfxs = readPrefixes
        // fresh stays an EAGER checkpoint: the verify plan references it
        // from several INDEPENDENT stages (postings, bands, sizes) that
        // Spark runs concurrently within one job, and a lazy frame raced
        // by concurrent first-uses would recompute the ledger anti-join —
        // a corpus-store scan — once per branch.
        val fresh = batch.join(
          pfxs.map(pfx => spark.table(s"${pfx}_sizes").select(col("doc_id")))
            .reduce(_ unionByName _),
          Seq("doc_id"), "left_anti")
          .cutLineage()
        // index pairs (batch vs each store) ∪ intra-batch pairs (batch vs
        // itself, doc_a > doc_b so doc_a is the dropped side in both).
        // Lazy cut (r16, guide §1.2): pairs is read three times
        // downstream, and the pairs write is the first action to touch
        // it — on this thread, with a single reference in that plan.
        val pairs = pfxs
          .map(pfx => IncrementalDedup.deltaAgainst(spark, fresh, pfx, p, threshold))
          .reduce(_ unionByName _)
          .unionByName(IncrementalDedup.selfPairs(fresh, p, threshold))
          .cutLineageLazily()
        // IDEMPOTENT append: a replayed batch's documents fail the ledger
        // filter and never reach the index, but their pairs would be
        // re-verified and re-written — anti-join against the stored pair
        // KEYS first, so the table itself stays duplicate-free and serving
        // it needs no distinct-on-read (which over an ever-growing append
        // table is a deferred cost that compounds with stream lifetime).
        val newPairs =
          if (spark.catalog.tableExists(pairsTable))
            pairs.join(spark.table(pairsTable).select("doc_a", "doc_b"),
              Seq("doc_a", "doc_b"), "left_anti")
          else pairs
        newPairs.write.mode(org.apache.spark.sql.SaveMode.Append).saveAsTable(pairsTable)
        // appendOrCreate truncates this anti-join once (cacheInput) so the
        // five concurrent index-table writes read materialized rows
        val clean = fresh.join(
          pairs.select(col("doc_a").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        IncrementalDedup.appendOrCreate(clean, writeTo, p)
        // foreachBatch executes under a CLONED SparkSession: the appends
        // above refresh the clone's relation cache only, so the calling
        // session — whose `spark.table` handles serve the next batch's
        // candidate join — must be refreshed explicitly or it keeps the
        // pre-append file listing and silently misses streamed documents.
        (IncrementalDedup.tableNames(writeTo) :+ pairsTable)
          .foreach(spark.catalog.refreshTable)
        (spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore)
          .foreach(id => spark.sparkContext.getPersistentRDDs
            .get(id).foreach(_.unpersist(blocking = false)))
        onBatchCommitted(batchId)
      }
    // cleanup in a FINALLY (r15 ADVICE): a failing stream must not leak
    // its RAM-backed ephemeral checkpoint dir — leaked tmpfs bytes
    // accumulate across failed runs on the shm-rooted default
    try {
      val q = writerQ.start()
      q.awaitTermination()
    } finally ephemeralCkpt.foreach(deleteQuietly)
    if (spark.catalog.tableExists(pairsTable)) {
      // the pair appends also happened under the cloned session; the
      // per-batch refresh above covers batches that fired, but a run whose
      // batches all no-op'd still needs a current relation here
      spark.catalog.refreshTable(pairsTable)
      // no distinct: the anti-joined append keeps the stored pair set
      // unique by construction (spec-asserted on the TABLE, not the read)
      spark.table(pairsTable)
    } else {
      // no batch ever fired: an EMPTY pair frame with the real schema, so
      // downstream projections/unions resolve instead of throwing
      import spark.implicits._
      Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
    }
  }
}
