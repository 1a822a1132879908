package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A warmup pass at sf0.001 runs every query first so
  * the timed numbers measure the operators, not JVM/codegen JIT warmup
  * (the generated code per plan is identical across scale factors). */
object Bench {

  /** The one local-session recipe every measurement tool shares (Bench,
    * Probe, ScaleProbe): identical configs are what make their
    * numbers comparable — a flag added in one tool but not another would
    * make cross-tool deltas measurement artifacts. */
  def localSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle/blockmgr scratch on the fastest node-local storage (guide
      // §6 — the local-mode equivalent of pointing spark.local.dir at NVMe
      // on a cluster): this image's /tmp sits on the VM disk, whose small-
      // file latency is both slow and VOLATILE (measured 3–8× swings on
      // identical code — the r14 record-window streaming phantoms), while
      // /dev/shm is RAM-backed. Headroom-checked (r16): tmpfs only above a
      // free-space floor (Warehouse.shmIfRoomy) — shuffle spill on a tight
      // shm would compete with memory and ENOSPC. Override:
      // SPARK_GRAFT_LOCAL_DIR (on a cluster: node-local NVMe).
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        graft.sources.Warehouse.shmIfRoomy("graft_local")
          .getOrElse(System.getProperty("java.io.tmpdir"))))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release session state one query can leave behind for the next — the
    * r5 bench-tail diagnosis: queries are correct and their plans are
    * gated, but a single shared session accumulates (a) RDD-level persisted
    * blocks from `localCheckpoint` lineage truncation (invisible to
    * `catalog.clearCache`, which only tracks Dataset-level persists),
    * (b) memory-sink tables pinning full streaming results in the driver,
    * and (c) loaded streaming state-store providers plus their maintenance
    * thread. In the 8 GiB bench JVM that pushes the heap into sustained GC,
    * taxing every query that runs AFTER the accumulation — which in sorted
    * order is exactly the alphabetical tail behind the `stream_*` block.
    * Isolation makes each query's time a function of the query, not of its
    * position in the run order. */
  def isolateQueryState(spark: SparkSession): Unit = {
    // stray streams (defensive: queries run AvailableNow to termination)
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    // memory-sink temp views — each pins a materialized result
    graft.streaming.EventStreams.dropSinkTables(spark)
    // Dataset-level cache entries, then RDD-level persists (localCheckpoint
    // blocks live ONLY here — they never register with the CacheManager)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // reliable-mode lineage cuts keep their blocks as files instead
    graft.operators.Lineage.dropCheckpointFiles(spark)
    // unload state-store providers and park the maintenance thread; the
    // next streaming query restarts both lazily
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  /** Fixed CPU workload, timed — the host-noise detector: bench numbers
    * from a contended host (CPU steal, co-tenant load) inflate uniformly
    * and are indistinguishable from code regressions after the fact
    * (measured drift up to 1.4× across identical-code runs). A
    * deterministic busy-loop timed at run START and END puts the machine
    * state in the output: calib ≈ its quiet-host value ⇒ trust the run;
    * calib inflated ⇒ scale expectations accordingly. `threads` > 1 probes
    * parallel contention the way the local[n] executor experiences it.
    * Quiet-host reference on this image: ~0.55–0.65s single / ~1.0s at 16. */
  private def calibrate(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => {
        var s = 0L; var i = 0L
        while (i < 1500000000L) { s += i; i += 1 }
        if (s == 42L) System.err.print("") // defeat dead-code elimination
      })
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed small-file I/O workload, timed — the I/O-SHAPED calib probe
    * (r14 VERDICT task 1): the CPU busy-loop is blind to I/O pressure,
    * and the r14 bench-of-record window ran 7/54 streaming queries
    * 1.5–2.4× hot with calib16 reading QUIET — the streaming family is
    * (was, before the r15 fast-scratch move) the checkpoint-I/O-bound
    * cohort. This probe times the exact pattern a checkpoint commit pays
    * — write + fsync + rename + delete of small files — on java.io.tmpdir
    * (the VM-disk path whose latency was observed swinging 3–8× between
    * windows), so BenchDiff can attribute an I/O-hot window instead of
    * flagging phantoms. Quiet-host reference on this image: ~0.05–0.3s;
    * a disturbed window reads seconds. */
  private[graft] def calibrateIo(): Double =
    calibrateIoAt(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))

  /** [[calibrateIo]] against the ACTIVE engine scratch root (r15 ADVICE):
    * after the fast-scratch move, the timed engine I/O (shuffle scratch,
    * stream checkpoints, staged fixtures) runs on the shm-backed root, so
    * the tmpdir probe alone no longer samples any path the benchmarked
    * queries touch — emit both, and BenchDiff can attribute disturbance on
    * the path the engine actually uses. */
  private[graft] def calibrateIoScratch(): Double = {
    val root = java.nio.file.Paths.get(
      graft.streaming.EventStreams.defaultCheckpointRoot)
    java.nio.file.Files.createDirectories(root)
    calibrateIoAt(root)
  }

  private def calibrateIoAt(base: java.nio.file.Path): Double = {
    import java.nio.file.{Files, StandardOpenOption}
    val dir = Files.createTempDirectory(base, "graft_calib_io")
    val buf = new Array[Byte](65536)
    java.util.Arrays.fill(buf, 7.toByte)
    val t0 = System.nanoTime()
    (1 to 32).foreach { i =>
      val p = dir.resolve(s"f$i")
      val ch = java.nio.channels.FileChannel.open(p,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(true); ch.close()
      val q = dir.resolve(s"g$i")
      Files.move(p, q)
      Files.delete(q)
    }
    val t = (System.nanoTime() - t0) / 1e9
    try Files.delete(dir) catch { case _: Throwable => () }
    t
  }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }
  private def usedHeapMb: Long =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed >> 20

  /** Where the warm-up pass reads; Probe warms on the same inputs. */
  private[graft] val warmDir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Pre-seal /tmp hygiene — the r12 lesson turned into code: dead staged
    // versions and abandoned ×10-probe corpora inflated binaryFile-heavy
    // media queries 1.5–2× (5 phantom flags in the first r12 close run)
    // and the fix was applied by hand that round. Vacuum BEFORE the warmup
    // pass (live versions are never touched; a rebuild forced by a swept
    // dead version would land in warmup, not a timed pass) and put the
    // bytes in the artifact so the machine state is auditable afterwards.
    // The sweep is skipped entirely while a live ScaleProbe holds its
    // marker — the "safe only when no probe is running" contract is now
    // code, not a comment: a concurrent sweep would delete the probe's
    // staged corpus mid-measurement.
    val (tmpBefore, tmpAfter) = {
      val b = graft.sources.Warehouse.tmpBytes()
      if (graft.sources.Warehouse.probeMarkerLive()) {
        System.err.println(s"[bench] pre-seal vacuum SKIPPED: live ScaleProbe marker held (tmp ${b >> 20}MB)")
        (b, b)
      } else {
        graft.multimodal.Media.vacuumStagedRoots(keep = 0)
        val swept = graft.sources.Warehouse.sweepScaleProbeDirs()
        val a = graft.sources.Warehouse.tmpBytes()
        System.err.println(s"[bench] pre-seal vacuum: tmp ${b >> 20}MB -> ${a >> 20}MB, scale-probe dirs swept=$swept")
        (b, a)
      }
    }
    // shm leak accounting (r15 ADVICE): the engine's ephemeral I/O roots
    // moved to tmpfs, so the leak audit must watch tmpfs too — measured at
    // run start and end (a leaked checkpoint of a failed stream shows as
    // growth across the run). graft_local is excluded: it is the LIVE
    // Spark blockmgr scratch, owned and shutdown-deleted by the context.
    def shmAudit() = graft.sources.Warehouse.shmBytes("graft_ckpt") +
      graft.sources.Warehouse.shmBytes("graft_scratch")
    val shmBefore = shmAudit()
    val spark = localSession(cpus)
    // Warehouse-side twin of the /tmp sweep: derived tables whose ×10-probe
    // staged corpus is long gone accumulate ~18 MB per generation and are
    // referenced by nothing (r13 VERDICT task 7).
    if (!graft.sources.Warehouse.probeMarkerLive()) {
      val dropped = graft.sources.Warehouse.vacuumOrphanedProbeTables(spark)
      if (dropped.nonEmpty)
        System.err.println(s"[bench] orphaned probe tables dropped: ${dropped.size}")
    }
    // NonFatal only: an OOM or a linkage error during warm-up must stop the
    // run, not read as "warm-up done" and leave the timed passes on a
    // broken JVM
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case NonFatal(_) => () }
      }
    isolateQueryState(spark)
    val calibStart1 = calibrate(1)
    val calibStart16 = calibrate(16)
    val calibStartIo = calibrateIo()
    val calibStartIoScratch = calibrateIoScratch()
    // A failing query must be VISIBLE in the output, not a fast time: its
    // entry becomes "err:<class>" and the failure count is reported at the
    // top level, so a regression can't masquerade as a speedup.
    //
    // Sorted-key order + min over TWO FULL PASSES per query: a plain Map's
    // iteration order shifts whenever an entry is added, so one-time costs
    // (first parquet footer read, broadcast warmup) would land on different
    // queries each round, and a single timing can't tell transient machine
    // interference from a real regression. Sorted order makes rounds
    // comparable. The two samples come from two passes over the WHOLE query
    // list — NOT back-to-back repeats: r6's driver run showed two queries
    // 4–6× slower that were unreproducible on a calibration-quiet host with
    // identical code (repetition_score 0.557s driver vs 0.106s local,
    // range_join 0.773s vs 0.206s), i.e. a multi-second host-interference
    // window taxing BOTH back-to-back samples of whichever query it landed
    // on. Pass-separated samples are ~40s apart, so one interference window
    // can inflate at most one of them and the min stays clean.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val trace = new QueryTrace(spark)
    // per-query peak memory, max'd over passes (a peak is a capacity
    // requirement — the larger observation is the binding one)
    val peakExec = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val spilled = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val peakState = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    // per-(query, pass) fingerprint-gate MISSES: a query timed while a gated
    // artifact store rebuilds measures the rebuild, not the plan (r11's
    // corpus_export anomaly — 2.1× in the final artifact only, 0.41–0.44s in
    // all five earlier seals). The flag makes that state observable per
    // sample, so BenchDiff can discard rebuild-tainted samples explicitly.
    val rebuilds = scala.collection.mutable.Map[(String, Int), Long]().withDefaultValue(0L)
    def runPass(pass: Int, only: Option[Set[String]] = None): Map[String, (Option[String], Double)] =
      ordered.filter { case (name, _) => only.forall(_.contains(name)) }
             .map { case (name, fn) =>
        val gc0 = gcMillis
        trace.reset()
        val rb0 = graft.sources.Warehouse.artifactRebuildCount
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        val t = (System.nanoTime() - t0) / 1e9
        val c = trace.snapshot()
        val rb = graft.sources.Warehouse.artifactRebuildCount - rb0
        peakExec(name) = math.max(peakExec(name), c.peakTaskBytes)
        spilled(name) = math.max(spilled(name), c.spilledBytes)
        peakState(name) = math.max(peakState(name), c.peakStateBytes)
        rebuilds((name, pass)) = rb
        // per-query telemetry BEFORE isolation, so the cost a query leaves
        // behind (heap growth, GC tax it caused) is attributed to it
        System.err.println(f"[bench:p$pass] $name%-28s t=$t%7.3fs gc=+${gcMillis - gc0}%4dms heap=${usedHeapMb}%5dMB exec=${c.peakTaskBytes >> 20}%4dMB state=${c.peakStateBytes >> 10}%6dKB rebuilds=$rb")
        isolateQueryState(spark)
        name -> (err, t)
      }.toMap
    val pass1 = runPass(1)
    val pass2 = runPass(2)
    // THIRD sample for two variance classes (r13 VERDICT task 6):
    //  (a) sub-0.35s queries — on a total of a few hundred ms, two samples
    //      40s apart still leave a ~25% min-of-two band: hll_rollup read
    //      0.17→0.21-0.30s across four r13 windows on code untouched since
    //      r11, flagged twice, both adjudicated host variance;
    //  (b) queries with only ONE clean sample — a pass that paid a
    //      fingerprint-gated rebuild is excluded from the min, so a query
    //      whose store rebuilds every p1 (media_dup_indexed: the pre-seal
    //      vacuum re-stages its packed root, r14 opening flag) is
    //      effectively single-sampled and inherits the full host-noise
    //      band with no min to clip it.
    // One more sample restores min-of-two-clean for ~15-20s of bench time;
    // big two-clean-sample queries keep two, where a third costs real
    // wall-clock for noise min-of-two already handles.
    val pass3Names = ordered.collect { case (name, _)
      if pass1(name)._1.isEmpty && pass2(name)._1.isEmpty &&
         (math.min(pass1(name)._2, pass2(name)._2) < 0.35 ||
          (rebuilds((name, 1)) > 0L) != (rebuilds((name, 2)) > 0L)) => name }.toSet
    val pass3 = runPass(3, Some(pass3Names))
    val results = ordered.map { case (name, _) =>
      val (e1, t1) = pass1(name)
      val (e2, t2) = pass2(name)
      // a pass-3 sample is used only when clean: no error, no artifact
      // rebuild landing in it (the rebuild-taint rule applied per sample)
      val t3 = pass3.get(name).collect {
        case (None, t) if rebuilds((name, 3)) == 0L => t
      }
      // one failing pass must not mask the other's success (that would
      // convert the interference this design suppresses into a reported
      // failure) — but it must not vanish either: it counts as `flaky`.
      // Both passes failing is a real failure.
      (e1, e2) match {
        case (None, None) =>
          (name, None: Option[String], (Seq(t1, t2) ++ t3).min,
           pass3.get(name).exists(_._1.isDefined))
        case (None, Some(e)) =>
          System.err.println(s"[bench] $name: pass-2 run failed ($e); reporting pass-1 time")
          (name, None: Option[String], t1, true)
        case (Some(e), None) =>
          System.err.println(s"[bench] $name: pass-1 run failed ($e); reporting pass-2 time")
          (name, None: Option[String], t2, true)
        case (Some(e), Some(_)) => (name, Some(e): Option[String], t1, false)
      }
    }
    val qs = results.map {
      case (k, None, v, _) => s"\"" + k + "\":" + v
      case (k, Some(e), _, _) => s"\"" + k + "\":\"err:" + e + "\""
    }.mkString("{", ",", "}")
    val failed = results.count(_._2.isDefined)
    val flaky = results.count(_._4)
    val total = results.collect { case (_, None, v, _) => v }.sum
    val calibEnd1 = calibrate(1)
    val calibEndIo = calibrateIo()
    val calibEndIoScratch = calibrateIoScratch()
    val calib = f""""calib":{"start1":$calibStart1%.3f,"start16":$calibStart16%.3f,"start_io":$calibStartIo%.3f,"start_io_scratch":$calibStartIoScratch%.3f,"end1":$calibEnd1%.3f,"end_io":$calibEndIo%.3f,"end_io_scratch":$calibEndIoScratch%.3f}"""
    // commit stamp computed up front so BOTH the artifact and the
    // driver-facing trailer carry it (r14 VERDICT task 7: the driver's
    // BENCH_r*.json keeps only a log tail — a tail-stable single-line
    // summary with totals, calib and commit makes the cross-round record
    // self-contained even when the full per-query line is truncated away)
    val commit = try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.nonEmpty) s""""commit":"$out",""" else ""
    } catch { case _: Throwable => "" }
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"flaky":$flaky,$calib,"queries":$qs,"sf":"$sfDir"}""")
    // The single-line map above can exceed a log tail's budget (r6 lost the
    // head of the per-query map: dedup_* through full_outer were
    // unrecoverable). Re-emit the SAME data in sorted ~20-entry chunks, one
    // self-describing JSON line each, so ANY captured tail window contains
    // whole parseable lines covering a known key range.
    val chunkEntries = results.sortBy(_._1).map {
      case (k, None, v, _) => s"\"" + k + "\":" + v
      case (k, Some(e), _, _) => s"\"" + k + "\":\"err:" + e + "\""
    }
    val chunks = chunkEntries.grouped(20).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_chunk","chunk":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    // Compact trailer for harnesses that capture only the LAST lines of
    // output — commit-stamped (task 7) so a tail alone identifies the run.
    println(s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,"flaky":$flaky,$calib,${commit}"sf":"$sfDir"}""")
    // BUILDER-OWNED full artifact — the r9 lesson: the driver's BENCH_r*.json
    // keeps only a truncated log tail, so cross-round per-query comparison
    // required hand-recovering chunk lines and the 1.2× r9/r8 total turned
    // out to be pure host calib. This file keeps EVERYTHING a later
    // [[graft.tools.BenchDiff]] needs to normalize out host speed and name
    // real regressions: both raw pass times, the min, the calib triple, and
    // the per-query memory peaks (the measured form of the 100 TB
    // state-bound claims). Path override: SPARK_GRAFT_BENCH_FULL; tag a
    // sealed run `bench/full_r<N>.json` and commit it.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench/full_latest.json")
    // (commit stamp computed above, shared with the trailer — it is what
    // lets BenchDiff's paired host estimator attribute carried queries to
    // unchanged implementing files via `git diff` between the two
    // artifacts' commits, r13 VERDICT task 1)
    val perQuery = results.sortBy(_._1).map { case (k, e, v, _) =>
      val err = e.map(x => s""","err":"$x"""").getOrElse("")
      // rebuilds_p3 alongside p3 (r14 ADVICE): a pass-3 sample that paid a
      // fingerprint-gated rebuild is excluded from sec, and the artifact
      // must let a reader reconstruct which samples were clean
      val p3 = pass3.get(k).collect { case (None, t) =>
        s""","p3":$t,"rebuilds_p3":${rebuilds((k, 3))}""" }.getOrElse("")
      val rb = s""","rebuilds_p1":${rebuilds((k, 1))},"rebuilds_p2":${rebuilds((k, 2))},"artifacts_rebuilt":${if (rebuilds((k, 1)) + rebuilds((k, 2)) > 0) "true" else "false"}"""
      s""""$k":{"sec":$v,"p1":${pass1(k)._2},"p2":${pass2(k)._2}$p3,"peak_exec_mb":${peakExec(k) >> 20},"spill_mb":${spilled(k) >> 20},"peak_state_kb":${peakState(k) >> 10}$rb$err}"""
    }.mkString("{", ",", "}")
    val shmAfter = shmAudit()
    val fullJson =
      s"""{"sf":"$sfDir","cpus":$cpus,${commit}"total_sec":$total,"failed":$failed,"flaky":$flaky,$calib,
         |"tmp_bytes_before":$tmpBefore,"tmp_bytes_after":$tmpAfter,
         |"shm_bytes_before":$shmBefore,"shm_bytes_after":$shmAfter,
         |"queries":$perQuery}""".stripMargin
    try {
      val p = java.nio.file.Paths.get(fullPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, fullJson.getBytes("UTF-8"))
      System.err.println(s"[bench] full artifact -> $fullPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full artifact write failed: $e")
    }
    spark.stop()
  }
}
