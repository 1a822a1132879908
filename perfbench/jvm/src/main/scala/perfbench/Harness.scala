package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine side of the benchmark: one JVM per run, launched by
  * `perfbench/run.py` with every root under that run's directory.
  *
  *   java ... perfbench.Harness <config.properties>
  *
  * Set-up is the session plus a warm-up pass at sf0.001 (JIT, codegen);
  * the JVM then prints `PERFBENCH_READY`, and the launcher times launch to
  * ready. Then come one cold pass and `warm_passes` warm passes over the
  * workload's queries in a seeded order, one query at a time. Each query
  * is timed as its build call (`SparkEntry.queries(name)(spark, dir)`)
  * plus its action, a [[Digest]] over every output row and column.
  *
  * With `trace=1`, the cold pass and half the warm passes run with
  * [[Tracer]] attached; the other warm passes are untraced, so the two
  * medians give the tracing overhead. With `gate=1`, each query's output
  * is then written as parquet for the launcher's DuckDB oracle check.
  *
  * Results go to `<out>/result.json` (and `<out>/spans.json` when traced).
  */
object Harness {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val cfg = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try cfg.load(in) finally in.close()
    def get(k: String): String =
      Option(cfg.getProperty(k)).getOrElse(sys.error(s"config key '$k' missing"))

    val cpus = get("cpus").toInt
    val queries = get("queries").split(',').toSeq.filter(_.nonEmpty)
    val input = get("input")
    val warmInput = get("warm_input")
    val out = Paths.get(get("out"))
    Files.createDirectories(out)

    val spark = session(cpus, get("local_dir"), get("checkpoint_root"))
    val sessionUpS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val entries = graft.SparkEntry.queries
    val missing = queries.filterNot(entries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    // warm-up: JIT and whole-stage codegen for every query's plans
    val warmErrors = mutable.LinkedHashMap[String, String]()
    queries.sorted.foreach { q =>
      val t0 = System.nanoTime()
      try Digest.of(entries(q)(spark, warmInput))
      catch { case e: Throwable => warmErrors(q) = describe(e) }
      isolate(spark)
      System.err.println(f"[harness] warm-up $q ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    System.err.println(f"[harness] session up at $sessionUpS%.2fs, warm-up done at " +
      f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2fs of JVM uptime")
    println("PERFBENCH_READY")
    System.out.flush()

    val seed = get("seed").toLong
    val warmPasses = get("warm_passes").toInt
    val trace = get("trace") == "1"
    val tracer = new Tracer(spark)
    val run = tracer.open(-1L, "harness", "run")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    def runPass(pass: Int, traced: Boolean): Unit = {
      val order = new scala.util.Random(seed * 7919L + pass).shuffle(queries)
      val storedBefore = if (traced && pass == 0) storedBytes(spark) else 0L
      val rebuilds0 = graft.sources.Warehouse.artifactRebuildCount
      val gc0 = gcSeconds
      if (traced) tracer.attach()
      val ps = tracer.open(run.id, "harness", s"pass $pass")
      order.foreach { q =>
        val qs = tracer.open(ps.id, "harness", s"query $q")
        tracer.current = qs.id
        var buildS = 0.0
        var actionS = 0.0
        var digest: Option[String] = None
        var error: Option[String] = None
        val bs = tracer.open(qs.id, "operators", "build")
        tracer.markBuild(bs)
        tracer.current = bs.id
        spark.sparkContext.setLocalProperty("perfbench.span", bs.id.toString)
        val t0 = System.nanoTime()
        try {
          val df = entries(q)(spark, input)
          val t1 = System.nanoTime()
          buildS = (t1 - t0) / 1e9
          tracer.close(bs)
          val as = tracer.open(qs.id, "operators", "action")
          tracer.current = as.id
          spark.sparkContext.setLocalProperty("perfbench.span", as.id.toString)
          try digest = Some(Digest.of(df))
          finally {
            actionS = (System.nanoTime() - t1) / 1e9
            tracer.close(as)
          }
        } catch { case e: Throwable =>
          if (bs.end < 0) { buildS = (System.nanoTime() - t0) / 1e9; tracer.close(bs) }
          error = Some(describe(e))
        }
        spark.sparkContext.setLocalProperty("perfbench.span", null)
        tracer.current = ps.id
        tracer.close(qs)
        isolate(spark)
        if (traced) {
          tracer.note("operators.build_s", buildS)
          tracer.note("operators.action_s", actionS)
        }
        samples += Map("pass" -> pass, "query" -> q, "build_s" -> buildS, "action_s" -> actionS,
          "digest" -> digest, "error" -> error)
      }
      tracer.close(ps)
      val wall = (ps.end - ps.start) / 1e9
      val layers: Map[String, Double] = if (!traced) Map.empty else {
        tracer.detach()
        val w = tracer.takeWindow()
        w ++ Map(
          "warehouse.rebuilds" -> (graft.sources.Warehouse.artifactRebuildCount - rebuilds0).toDouble,
          "warehouse.written_mb" -> (if (pass == 0) (storedBytes(spark) - storedBefore) / 1048576.0 else 0.0),
          "jvm.gc_s" -> (gcSeconds - gc0))
      }
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wall, "layers" -> layers)
    }

    val cpu0 = osBean.getProcessCpuTime
    runPass(0, traced = trace)
    // traced warm passes in ABBA order (untraced, traced, traced, untraced,
    // ...) so neither side gains from what warms up over the run; with
    // only two, the traced one comes second
    (1 to warmPasses).foreach(p => runPass(p, traced = trace && p % 4 >= 2))
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    // the peak of the timed passes, before the gate's writes and the kernel probes
    val rssPeakMb = vmHwmMb
    tracer.close(run)

    val extra = mutable.LinkedHashMap[String, Double]()
    if (trace) {
      extra("warehouse.gate_check_ms") = gateCheckMs(spark)
      extra ++= Kernels.throughput(spark, input)
      extra("jvm.heap_after_gc_mb") = heapAfterGcMb
      json.writeValue(out.resolve("spans.json").toFile, tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end)))
    }

    val gate = mutable.LinkedHashMap[String, Map[String, Any]]()
    if (get("gate") == "1") {
      val gateDir = out.resolve("gate")
      queries.sorted.foreach { q =>
        val dir = gateDir.resolve(q).toString
        val entry = try {
          val df = entries(q)(spark, input)
          df.coalesce(1).write.mode("overwrite").parquet(dir)
          Map[String, Any]("digest" -> Digest.of(spark.read.parquet(dir)),
                           "live_digest" -> Digest.of(df), "error" -> None)
        } catch { case e: Throwable => Map[String, Any]("digest" -> None, "error" -> Some(describe(e))) }
        gate(q) = entry
        isolate(spark)
      }
      json.writeValue(gateDir.resolve("oracle_sql.json").toFile,
        queries.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, null)).toMap)
    }

    val result = Map[String, Any](
      "cpu_s" -> cpuS,
      "rss_peak_mb" -> rssPeakMb,
      "warm_errors" -> warmErrors,
      "samples" -> samples,
      "passes" -> passes,
      "extra" -> extra,
      "gate" -> gate)
    json.writeValue(out.resolve("result.json").toFile, result)
    spark.stop()
  }

  /** The session recipe of the engine's own bench (`graft.Bench`), with
    * every scratch root set explicitly by the launcher. */
  def session(cpus: Int, localDir: String, checkpointRoot: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("graft.stream.checkpointRoot", checkpointRoot)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Release what one query leaves behind before the next starts: stray
    * streams, memory-sink views, cached Datasets, persisted RDD blocks
    * (`localCheckpoint` blocks live only there) and loaded state stores. */
  def isolate(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    graft.streaming.EventStreams.dropSinkTables(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  private def heapAfterGcMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def vmHwmMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Bytes under the warehouse root and java.io.tmpdir (staged roots). */
  private def storedBytes(spark: SparkSession): Long = {
    def size(f: File): Long =
      if (Files.isSymbolicLink(f.toPath)) 0L
      else if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    size(new File(wh)) + size(new File(System.getProperty("java.io.tmpdir")))
  }

  /** Median milliseconds of the fingerprint gate's two catalog calls per
    * derived table: `tableExists` and `Warehouse.storedFingerprint`. */
  private def gateCheckMs(spark: SparkSession): Double = {
    val tables = spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name).toSeq
    val ms = for (t <- tables; _ <- 1 to 3) yield {
      val t0 = System.nanoTime()
      if (spark.catalog.tableExists(t)) graft.sources.Warehouse.storedFingerprint(spark, t)
      (System.nanoTime() - t0) / 1e6
    }
    if (ms.isEmpty) 0.0 else ms.sorted.apply(ms.size / 2)
  }
}
