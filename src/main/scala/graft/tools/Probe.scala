package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal
import graft.{Bench, QueryTrace, SparkEntry}

/** Per-query drill-down of the declared queries, on Bench's session recipe,
  * inputs, warm-up and state isolation. Two modes:
  *
  *  - `time <q,…|all> [reps]`: per query, one warm rep at sf0.001, then
  *    `reps` (default 3) timed `count()`s, the action Bench times. One line
  *    per rep: wall time, rows and the [[graft.QueryTrace]] counters. At
  *    bench scale the data is tiny, so job and stage counts are the cost
  *    model; a count is evidence only when it repeats across reps.
  *  - `plan <q,…|all> [outDir suffix]`: collects each query's frame, which
  *    drives that frame's own QueryExecution so AQE finalizes its plan (a
  *    `df.count()` plans a new Dataset and leaves `df`'s plan initial).
  *    Prints the formatted explain and the final executed plan, or writes
  *    both to `<outDir>/<q>_<suffix>.txt`, then one audit line: exchanges,
  *    join strategies, codegen spans and scan filter pushdown, the marks of
  *    a plan that would not survive a 100× scale-up.
  *
  * Usage: `runMain graft.tools.Probe <time|plan> <q,…|all> [...]`, with
  * SPARK_GRAFT_SF_DIR (default sf0.1) and SPARK_GRAFT_CPUS (default 4) as
  * in Bench. */
object Probe {
  private val usage = "usage: Probe time <q,…|all> [reps] | Probe plan <q,…|all> [outDir suffix]"

  /** Runs one probe on `spark`; prints each line as it is produced and
    * returns them all. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Seq[String] = {
    require(args.length >= 2, usage)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query ${unknown.mkString(", ")}; known: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    val out = Seq.newBuilder[String]
    def emit(line: String): Unit = { println(line); out += line }
    (args.head, args.drop(2)) match {
      case ("time", Seq()) => time(spark, sfDir, names, 3, emit)
      case ("time", Seq(reps)) => time(spark, sfDir, names, reps.toInt, emit)
      case ("plan", Seq()) => plan(spark, sfDir, names, None, emit)
      case ("plan", Seq(dir, suffix)) => plan(spark, sfDir, names, Some((Paths.get(dir), suffix)), emit)
      case _ => throw new IllegalArgumentException(usage)
    }
    out.result()
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int,
                   emit: String => Unit): Unit = {
    val trace = new QueryTrace(spark)
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // NonFatal only: an OOM or a linkage error must surface, not read as
      // "warm-up done"; a skipped warm rep leaves rep 1 cold, so say so
      try fn(spark, Bench.warmDir).count()
      catch { case NonFatal(e) =>
        emit(s"[probe] $name warm rep failed (${e.getClass.getSimpleName}); rep 1 runs cold")
      }
      Bench.isolateQueryState(spark)
      (1 to reps).foreach { rep =>
        trace.reset()
        val t0 = System.nanoTime()
        val rows = try fn(spark, sfDir).count().toString
          catch { case NonFatal(e) => s"FAILED:${e.getClass.getSimpleName}" }
        val t = (System.nanoTime() - t0) / 1e9
        val c = trace.snapshot()
        emit(f"[probe] $name%-28s rep=$rep t=$t%7.3fs rows=$rows jobs=${c.jobs} " +
          s"stages=${c.stages} tasks=${c.tasks} shuffle_read=${c.shuffleReadBytes} " +
          s"shuffle_write=${c.shuffleWriteBytes} peak_task=${c.peakTaskBytes} " +
          s"spill=${c.spilledBytes} peak_state=${c.peakStateBytes} batches=${c.batches}")
        Bench.isolateQueryState(spark)
      }
    } finally trace.close()
  }

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String],
                   dest: Option[(Path, String)], emit: String => Unit): Unit = {
    dest.foreach { case (dir, _) => Files.createDirectories(dir) }
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        val executed = df.queryExecution.executedPlan.toString
        val text = s"== explain(formatted) ==\n${df.queryExecution.explainString(FormattedMode)}\n" +
          s"== executedPlan (AQE-final) ==\n$executed\n"
        dest match {
          case Some((dir, suffix)) =>
            val file = dir.resolve(s"${name}_$suffix.txt")
            Files.write(file, text.getBytes(UTF_8))
            emit(s"[probe] wrote $file")
          case None => emit(text)
        }
        emit(f"[audit] $name%-22s ${audit(executed)}")
      } catch { case NonFatal(e) =>
        emit(f"[audit] $name%-22s ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(60)}")
      }
      Bench.isolateQueryState(spark)
    }
  }

  private def audit(plan: String): String = {
    def n(p: String) = p.r.findAllIn(plan).size
    Seq(
      if (n("CartesianProduct") > 0) "CARTESIAN!" else "",
      if (n("BroadcastNestedLoopJoin") > 0) "BNLJ" else "",
      s"xchg=${n("Exchange") - n("ReusedExchange") - n("BroadcastExchange")}",
      s"bcast=${n("BroadcastExchange")}",
      s"smj=${n("SortMergeJoin")}",
      s"bhj=${n("BroadcastHashJoin")}",
      // operators inside WholeStageCodegen render as "*(stageId) Op"
      s"wsc=${n("\\*\\(\\d+\\)")}",
      if (plan.contains("PushedFilters: [")
          && !plan.replaceAll("PushedFilters: \\[\\]", "").contains("PushedFilters: [")) ""
      else if (plan.contains("PushedFilters")) "pushed" else ""
    ).filter(_.nonEmpty).mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try run(spark, sfDir, args.toSeq) finally spark.stop()
  }
}
