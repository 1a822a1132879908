package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch nanoseconds, so
  * harness timers and Spark's millisecond event times share one clock.
  * `parent` is -1 until resolved by time (see [[Tracer.spans]]). */
final case class Span(id: Long, var parent: Long, layer: String, name: String,
                      start: Long, var end: Long)

/** Per-layer counters and spans, gathered only through public listener
  * interfaces: [[SparkListener]] (scheduler, executor, storage),
  * [[QueryExecutionListener]] (Catalyst phases) and
  * [[StreamingQueryListener]] (micro-batch phases and state).
  *
  * Attached only while a traced pass runs, so untraced passes in the same
  * JVM pay nothing and their difference is the tracing overhead. Jobs are
  * tied to the query phase through the `perfbench.span` local property set
  * on the calling thread; jobs from other threads (stream execution) fall
  * back to the phase that is running, since queries run one at a time. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val all = mutable.ArrayBuffer[Span]()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()

  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  @volatile var current: Long = -1L

  def open(parent: Long, layer: String, name: String, start: Long = nowNs()): Span = {
    val s = Span(ids.incrementAndGet(), parent, layer, name, start, -1L)
    all.synchronized(all += s)
    s
  }
  def close(s: Span): Unit = s.end = nowNs()

  // ---- counters for the current window (one pass) ----
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters.synchronized(counters(k) += v)
  private def max(k: String, v: Double): Unit =
    counters.synchronized(counters(k) = math.max(counters(k), v))
  def note(k: String, v: Double): Unit = add(k, v)

  private val jobSpans = mutable.Map[Int, Span]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val stageJob = mutable.Map[Int, Span]()
  private val stagesRun = mutable.Set[Int]()
  private val blocks = mutable.Map[String, Long]()
  private val rddsSeen = mutable.Set[Int]()
  private val streamStart = mutable.Map[String, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      val parent = prop.map(_.toLong).getOrElse(current)
      val s = open(parent, "scheduler", s"job ${e.jobId}", e.time * 1000000L)
      jobSpans(e.jobId) = s
      jobStages(e.jobId) = e.stageIds
      e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = s)
      add("scheduler.jobs", 1)
      add("scheduler.stages", e.stageIds.size)
      if (prop.exists(p => buildSpans.contains(p.toLong)) ||
          (prop.isEmpty && buildSpans.contains(current)))
        add("operators.build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpans.remove(e.jobId).foreach(_.end = e.time * 1000000L)
      jobStages.remove(e.jobId).foreach { st =>
        add("scheduler.stages_skipped", st.count(id => !stagesRun.contains(id)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stagesRun += i.stageId
      val parent = stageJob.get(i.stageId).map(_.id).getOrElse(current)
      val start = i.submissionTime.getOrElse(0L) * 1000000L
      val s = open(parent, "executor", s"stage ${i.stageId}", start)
      s.end = i.completionTime.getOrElse(0L) * 1000000L
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("scheduler.tasks", 1)
      if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) add("scheduler.task_retries", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("executor.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("executor.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("executor.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("executor.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("executor.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        max("executor.peak_task_mb", m.peakExecutionMemory / 1048576.0)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.foreach { rdd =>
        val key = b.blockId.name
        if (b.storageLevel.isValid) {
          blocks(key) = b.memSize + b.diskSize
          rddsSeen += rdd.rddId
        } else blocks.remove(key)
        max("storage.blocks_peak_mb", blocks.values.sum / 1048576.0)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit = {
      add("catalyst.executions", 1)
      val phases = qe.tracker.phases
      def dur(p: String) = phases.get(p).map(x => (x.endTimeMs - x.startTimeMs) / 1e3).getOrElse(0.0)
      add("catalyst.analysis_s", dur("analysis"))
      add("catalyst.optimization_s", dur("optimization"))
      add("catalyst.planning_s", dur("planning"))
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min * 1000000L
        val planned = phases.values.map(_.endTimeMs).max * 1000000L
        // the execution itself shows as the jobs it runs, not as Catalyst time
        val qs = open(-1L, "catalyst", s"execution $funcName", start)
        qs.end = planned
        phases.foreach { case (p, x) =>
          val ps = open(qs.id, "catalyst", p, x.startTimeMs * 1000000L)
          ps.end = x.endTimeMs * 1000000L
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    private def epochNs(iso: String): Long =
      java.time.Instant.parse(iso).toEpochMilli * 1000000L
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      streamStart.synchronized(streamStart(e.runId.toString) = epochNs(e.timestamp))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val ts = epochNs(p.timestamp)
      streamStart.synchronized(streamStart.remove(p.runId.toString))
        .foreach(s0 => add("streaming.start_s", math.max(0L, ts - s0) / 1e9))
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      add("streaming.trigger_s", d.getOrElse("triggerExecution", 0.0))
      add("streaming.latest_offset_s", d.getOrElse("latestOffset", 0.0))
      add("streaming.query_planning_s", d.getOrElse("queryPlanning", 0.0))
      add("streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
      add("streaming.wal_commit_s", d.getOrElse("walCommit", 0.0))
      add("streaming.commit_offsets_s", d.getOrElse("commitOffsets", 0.0))
      max("streaming.state_peak_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)
      val s = open(-1L, "streaming", s"batch ${p.batchId}", ts)
      s.end = ts + (d.getOrElse("triggerExecution", 0.0) * 1e9).toLong
    }
  }

  /** Spans of query build phases: jobs they start are driver-side
    * barriers taken before the result is acted on. */
  private val buildSpans = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]().asScala
  def markBuild(s: Span): Unit = buildSpans += s.id

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    Tracer.drainBus(spark)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Counters of the window that just ended, then reset. Job busy time
    * and what follows from it come from the job spans (`run.py`). */
  def takeWindow(): Map[String, Double] = {
    Tracer.drainBus(spark)
    counters.synchronized {
      counters("storage.rdds_persisted") = rddsSeen.size.toDouble
      rddsSeen.clear()
      val snap = counters.toMap
      counters.clear()
      snap
    }
  }

  /** Every span, with unresolved parents (Catalyst executions, streaming
    * batches, jobs from untagged threads) given the innermost harness span
    * (action, build, query, pass, run) whose interval holds their start.
    * A job that starts inside a streaming batch of its own query phase is
    * moved under that batch: stream threads inherit the phase's tag, but
    * the batch is what ran the job. */
  def spans: Seq[Span] = {
    val spansNow = all.synchronized(all.toList)
    def holds(f: Span, t: Long) = f.start <= t && (f.end < 0 || t <= f.end)
    val frames = spansNow.filter(s => s.layer == "harness" || s.layer == "operators")
    spansNow.foreach { s =>
      if (s.parent == -1L && s.layer != "harness") {
        val holders = frames.filter(holds(_, s.start))
        if (holders.nonEmpty) s.parent = holders.maxBy(_.start).id
      }
    }
    val batches = spansNow.filter(_.layer == "streaming")
    spansNow.filter(_.layer == "scheduler").foreach { j =>
      batches.find(b => b.parent == j.parent && holds(b, j.start)).foreach(b => j.parent = b.id)
    }
    spansNow
  }
}

object Tracer {
  /** Wait until the listener bus has delivered every queued event. The
    * method is package-private in Scala but public in bytecode; without it
    * the counters miss a query's trailing task-end events. */
  def drainBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .foreach(_.invoke(bus))
    } catch { case _: Throwable => () }
}
