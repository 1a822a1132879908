package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-query execution counters from one `SparkListener` and one
  * `StreamingQueryListener` on `spark`: `reset()` before a query,
  * `snapshot()` after it. Every driver-side action is a job, every
  * non-reused exchange a stage; peaks are per TASK (the executor-memory
  * sizing unit: a task whose hash map outgrows its slice of executor memory
  * is what spills or OOMs at scale), not summed across concurrent tasks.
  * Listener events arrive asynchronously, so both calls first drain the
  * listener bus: `reset()` keeps the previous query's trailing events out,
  * `snapshot()` waits for the last tasks of the query just run. */
final class QueryTrace(spark: SparkSession) {
  private var jobs, stages, tasks, batches = 0
  private var shuffleRead, shuffleWrite, peakTask, spilled, peakState = 0L

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      QueryTrace.this.synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      QueryTrace.this.synchronized {
        stages += 1
        tasks += info.numTasks
        shuffleRead += info.taskMetrics.shuffleReadMetrics.totalBytesRead
        shuffleWrite += info.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) QueryTrace.this.synchronized {
        peakTask = math.max(peakTask, m.peakExecutionMemory)
        spilled += m.memoryBytesSpilled
      }
    }
  }
  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val bytes = e.progress.stateOperators.map(_.memoryUsedBytes).sum
      QueryTrace.this.synchronized {
        batches += 1
        peakState = math.max(peakState, bytes)
      }
    }
  }
  spark.sparkContext.addSparkListener(taskListener)
  spark.streams.addListener(streamListener)

  // LiveListenerBus.waitUntilEmpty is private[spark] but public in
  // bytecode, so reflection reaches it without shading a package. It gives
  // up after Spark's 10 s timeout; the counters then miss trailing events
  // and the caller's run goes on.
  private val flush: () => Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    val waitUntilEmpty = bus.getClass.getMethod("waitUntilEmpty")
    () => try waitUntilEmpty.invoke(bus) catch {
      case _: java.lang.reflect.InvocationTargetException => ()
    }
  }

  def reset(): Unit = {
    flush()
    synchronized {
      jobs = 0; stages = 0; tasks = 0; batches = 0
      shuffleRead = 0L; shuffleWrite = 0L; peakTask = 0L; spilled = 0L; peakState = 0L
    }
  }

  def snapshot(): QueryTrace.Snapshot = {
    flush()
    synchronized {
      QueryTrace.Snapshot(jobs, stages, tasks, shuffleRead, shuffleWrite,
        peakTask, spilled, peakState, batches)
    }
  }

  /** Detach both listeners (a trace on a shared session must not outlive its caller). */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(taskListener)
    spark.streams.removeListener(streamListener)
  }
}

object QueryTrace {
  /** Counters since the last `reset()`; byte fields are bytes. */
  final case class Snapshot(jobs: Int, stages: Int, tasks: Int,
                            shuffleReadBytes: Long, shuffleWriteBytes: Long,
                            peakTaskBytes: Long, spilledBytes: Long,
                            peakStateBytes: Long, batches: Int)
}
