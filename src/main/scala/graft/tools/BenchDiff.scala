package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Cross-round bench comparison, host-normalized — the round-9 lesson
  * institutionalized: the sealed r9 total read 1.2× r8, and proving it was
  * pure host contention (calib 1.210 vs 1.050, overlap median exactly the
  * calib delta) required hand-recovering truncated log chunks. This tool
  * joins two bench artifacts, divides out the host-speed ratio, and names
  * any per-query regression that survives the normalization — so "slower"
  * means the CODE got slower, not the host got busier.
  *
  * Usage: runMain graft.tools.BenchDiff <old.json> <new.json> [threshold]
  *
  * Accepts both artifact shapes:
  *   - the full builder artifact Bench writes (`bench/full_r<N>.json`):
  *     queries are objects `{"sec":…,"p1":…,…}`, calib at `calib.start16`
  *   - the legacy one-line map (`{"queries":{"q1":sec,…},"calib":{…}}`)
  *     recovered from a driver BENCH_r*.json tail
  *
  * TWO host-factor estimators (r13 VERDICT task 1 — the round-13 "complete"
  * seal proved one is not enough: its calib16 read 0.527, the QUIETEST of
  * the round, while raw per-query medians ran 1.10× the close seal — the
  * 16-thread busy loop and the Spark workload disagreed about the window,
  * and pairing that artifact against the r12 seal manufactured 7 phantom
  * survivors on code untouched since ≤r12):
  *
  *   1. calibRatio = newCalib16/oldCalib16 — the deterministic busy-loop,
  *      measured OUTSIDE the workload. Catches uniform CPU contention but
  *      is blind to contention shapes the loop doesn't exercise (memory
  *      bandwidth, page cache, scheduler interference bursts).
  *   2. pairedFactor = median raw new/old ratio over CARRIED queries whose
  *      implementing files are unchanged between the two artifacts'
  *      commits — a paired, workload-shaped estimate: unchanged code cannot
  *      have a code regression, so its median ratio IS the host factor as
  *      the workload experiences it. Attribution: each artifact stamps its
  *      `commit`; `git diff --name-only` between them names changed
  *      src/main files; a query's implementing files are the graft objects
  *      its SparkEntry registration block references. When either artifact
  *      predates the commit stamp (or git is unavailable) the sample falls
  *      back to ALL carried queries — still robust while real regressions
  *      are sparse (the median over ~300 queries moves only if >half
  *      regress), and the report says which sample was used.
  *
  * A query regresses when its raw ratio AND BOTH normalized ratios exceed
  * the threshold (default 1.5), and either side is ≥0.2s — below that,
  * constant per-query overhead dominates and a ratio is noise. The
  * conjunction is the honest test under an uncertain host model: when the
  * host got busier, raw inflates and the normalizations correct it down
  * (the r9 case); when the host got quieter, normalized inflates and raw is
  * the trustworthy side; when calib16 and the workload disagree (the r13
  * case), the paired factor arbitrates — a genuine code regression is
  * slower under ALL THREE.
  *
  * Exit code 1 iff regressions were found, so the tool can gate a round.
  */
object BenchDiff {
  final case class Row(q: String, oldSec: Double, newSec: Double,
                       raw: Double, normCalib: Double, normPaired: Double)
  final case class Diff(common: Seq[String], calibOld: Double, calibNew: Double,
                        calibRatio: Double, pairedFactor: Double, pairedSample: Int,
                        pairedAttributed: Boolean, rows: Seq[Row],
                        rebuildExcluded: Seq[Row], bandExcluded: Seq[Row],
                        regressions: Seq[Row])

  private def calibOf(root: JsonNode): Double = {
    val c = root.path("calib")
    if (c.has("start16")) c.get("start16").asDouble
    else if (c.has("start1")) c.get("start1").asDouble
    else 1.0
  }

  /** Queries whose timed samples were rebuild-tainted in BOTH passes of the
    * new artifact (`rebuilds_p1` and `rebuilds_p2` both > 0) — then even the
    * min-time sample includes a fingerprint-gated artifact rebuild, and the
    * number measures store construction, not the plan (r11's corpus_export
    * adjudication made structural). With one clean pass the min already
    * selects it, so only the both-tainted case is excluded. Artifacts
    * predating the flag yield the empty set. */
  private def rebuildTaintedOf(root: JsonNode): Set[String] =
    root.path("queries").properties().asScala.collect {
      case e if e.getValue.isObject &&
        e.getValue.path("rebuilds_p1").asLong(0L) > 0L &&
        e.getValue.path("rebuilds_p2").asLong(0L) > 0L => e.getKey
    }.toSet

  /** query -> seconds, from either artifact shape; failed entries dropped
    * in BOTH shapes ("err:*" strings in the legacy map, objects carrying
    * an "err" field in the full artifact — a failed query's "sec" is its
    * time-to-exception, and comparing that against a real runtime would
    * let a break masquerade as a speedup or a fix read as a regression). */
  private def timesOf(root: JsonNode): Map[String, Double] =
    root.path("queries").properties().asScala.flatMap { e =>
      val v = e.getValue
      if (v.isNumber) Some(e.getKey -> v.asDouble)
      else if (v.isObject && v.has("sec") && !v.has("err"))
        Some(e.getKey -> v.get("sec").asDouble)
      else None
    }.toMap

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Minimum attributed-sample size before the paired estimator trusts the
    * file-unchanged restriction; below it (a huge refactor touched nearly
    * every file) the estimator falls back to all carried queries. */
  val MinPairedSample = 8

  /** The comparison core, separated from the CLI so BenchDiffSpec can gate
    * it on fixtures: given the two parsed artifacts, the adjudicated-band
    * registry, and (optionally) the set of carried queries whose
    * implementing files are unchanged between the artifacts' commits,
    * compute both host factors and the surviving regressions. */
  def diff(oldRoot: JsonNode, newRoot: JsonNode, threshold: Double,
           adjudicated: Map[String, Adjudicated.Entry],
           unchangedQueries: Option[Set[String]]): Diff = {
    val oldT = timesOf(oldRoot)
    val newT = timesOf(newRoot)
    val calibRatio = calibOf(newRoot) / calibOf(oldRoot)
    val common = oldT.keySet.intersect(newT.keySet).toSeq.sorted
    require(common.nonEmpty, "no overlapping queries between the two artifacts")

    // Paired, workload-shaped host factor (estimator 2). Noise floor: a
    // carried query must be ≥0.1s on at least one side for its ratio to
    // measure the host rather than per-query constant overhead jitter.
    val measurable = common.filter(q => oldT(q) >= 0.1 || newT(q) >= 0.1)
    val attributedSample = unchangedQueries
      .map(u => measurable.filter(u.contains))
      .filter(_.size >= MinPairedSample)
    val pairedSample = attributedSample.getOrElse(measurable)
    val pairedFactor =
      if (pairedSample.nonEmpty) median(pairedSample.map(q => newT(q) / oldT(q)))
      else calibRatio

    val rows = common.map { q =>
      val o = oldT(q); val n = newT(q)
      Row(q, o, n, n / o, (n / calibRatio) / o, (n / pairedFactor) / o)
    }
    val overThreshold = rows.filter { r =>
      math.min(r.raw, math.min(r.normCalib, r.normPaired)) > threshold &&
        (r.oldSec >= 0.2 || r.newSec >= 0.2)
    }
    val tainted = rebuildTaintedOf(newRoot)
    val (rebuildExcluded, survivors0) = overThreshold.partition(r => tainted.contains(r.q))
    // bench/adjudicated.md declared-band exclusion: an already-adjudicated
    // deliberate trade whose NEW time sits inside its declared band stops
    // surviving every cross-round diff and burying real signal (r12
    // VERDICT item 7 — compaction_plan's fixed two-level overhead).
    // Outside the band it still flags.
    val (bandExcluded, regressions) = survivors0.partition { r =>
      adjudicated.get(r.q).flatMap(_.bandSec).exists { case (lo, hi) => r.newSec >= lo && r.newSec <= hi }
    }
    Diff(common, calibOf(oldRoot), calibOf(newRoot), calibRatio, pairedFactor,
      pairedSample.size, attributedSample.isDefined, rows,
      rebuildExcluded, bandExcluded, regressions)
  }

  private def commitOf(root: JsonNode): Option[String] =
    Option(root.path("commit").asText(null)).filter(s => s != null && s.nonEmpty)

  private def runGit(repoRoot: java.io.File, args: String*): Option[String] =
    try {
      val pb = new ProcessBuilder((Seq("git") ++ args): _*)
      pb.directory(repoRoot); pb.redirectErrorStream(false)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      if (p.waitFor() == 0) Some(out) else None
    } catch { case _: Throwable => None }

  /** Object name -> repo-relative source path, from a walk of src/main —
    * the attribution table that turns `git diff --name-only` into "which
    * queries' implementing code changed". */
  private def objectFiles(repoRoot: java.io.File): Map[String, String] = {
    val base = new java.io.File(repoRoot, "src/main/scala")
    val objRe = java.util.regex.Pattern.compile("""(?m)^\s*(?:case\s+)?object\s+([A-Za-z0-9_]+)""")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(base).flatMap { f =>
      val rel = repoRoot.toPath.relativize(f.toPath).toString
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val m = objRe.matcher(src)
      Iterator.continually(m).takeWhile(_.find()).map(_.group(1) -> rel).toSeq
    }.toMap
  }

  /** Parse the `queries` map region of a SparkEntry source into
    * query -> referenced-object-names. Registration blocks run from a
    * `"name" -> ` line to the next one; any `Foo.bar` reference inside the
    * block attributes the query to object Foo (stdlib names simply won't
    * resolve in the objectFiles table and drop out). */
  private[graft] def queryRefsOf(entrySource: String): Map[String, Set[String]] = {
    val lines = entrySource.linesIterator.toVector
    val start = lines.indexWhere(_.contains("def queries"))
    val end = lines.indexWhere(_.contains("def oracleSql"))
    require(start >= 0 && end > start, "SparkEntry source lacks queries/oracleSql anchors")
    // the full registration shape `"name" -> ((s, d)` — a bare `"x" ->`
    // also appears in helper Map literals between the two defs (oracle
    // generators' variable tables), which are not registrations
    val regRe = java.util.regex.Pattern.compile("""^\s*"([a-z0-9_]+)"\s*->\s*\(\(s, d\)""")
    val refRe = java.util.regex.Pattern.compile("""([A-Z][A-Za-z0-9_]*)\s*\.""")
    val regs = lines.slice(start, end).zipWithIndex.flatMap { case (l, i) =>
      val m = regRe.matcher(l); if (m.find()) Some(m.group(1) -> i) else None
    }
    regs.zipWithIndex.map { case ((q, at), j) =>
      val until = if (j + 1 < regs.size) regs(j + 1)._2 else end - start
      val block = lines.slice(start + at, start + until).mkString("\n")
      val m = refRe.matcher(block)
      q -> Iterator.continually(m).takeWhile(_.find()).map(_.group(1)).toSet
    }.toMap
  }

  /** Carried queries whose implementing files are unchanged between the two
    * commits — the paired estimator's attribution. None when either commit
    * is missing or any git step fails (legacy artifacts, detached tooling):
    * the caller then falls back to the all-carried sample. */
  private def unchangedBetween(oldCommit: String, newCommit: String): Option[Set[String]] = {
    val repoRoot = Adjudicated.repoRoot().getOrElse(new java.io.File("."))
    for {
      diffOut <- runGit(repoRoot, "diff", "--name-only", oldCommit, newCommit, "--", "src/main")
      entrySrc <- runGit(repoRoot, "show", s"$newCommit:src/main/scala/graft/SparkEntry.scala")
    } yield {
      val changed = diffOut.linesIterator.map(_.trim).filter(_.nonEmpty).toSet
      val objFile = objectFiles(repoRoot)
      queryRefsOf(entrySrc).collect { case (q, refs)
        if refs.exists(objFile.contains) &&
           refs.forall(r => objFile.get(r).forall(f => !changed.contains(f))) => q
      }.toSet
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchDiff <old.json> <new.json> [threshold]")
    val threshold = if (args.length > 2) args(2).toDouble else 1.5
    val om = new ObjectMapper()
    val oldRoot = om.readTree(new java.io.File(args(0)))
    val newRoot = om.readTree(new java.io.File(args(1)))
    val unchanged = (commitOf(oldRoot), commitOf(newRoot)) match {
      case (Some(o), Some(n)) => unchangedBetween(o, n)
      case _ => None
    }
    val adjudicated = Adjudicated.load()
    val d = diff(oldRoot, newRoot, threshold, adjudicated, unchanged)
    val oldT = timesOf(oldRoot); val newT = timesOf(newRoot)
    val oldTotal = d.common.map(oldT).sum
    val newTotal = d.common.map(newT).sum
    println(f"[benchdiff] calib old=${d.calibOld}%.3f new=${d.calibNew}%.3f ratio=${d.calibRatio}%.3f")
    println(f"[benchdiff] pairedFactor=${d.pairedFactor}%.3f over ${d.pairedSample} carried queries " +
      (if (d.pairedAttributed) "(implementing files unchanged between artifact commits)"
       else "(all carried — artifacts lack commit stamps or attribution unavailable)"))
    println(f"[benchdiff] overlap=${d.common.size} oldTotal=$oldTotal%.1fs newTotal=$newTotal%.1fs " +
      f"medianRawRatio=${median(d.rows.map(_.raw))}%.3f medianNormRatio=${median(d.rows.map(_.normCalib))}%.3f " +
      f"medianPairedNormRatio=${median(d.rows.map(_.normPaired))}%.3f")
    println(s"[benchdiff] added: ${(newT.keySet -- oldT.keySet).toSeq.sorted.mkString(",")}")
    println(s"[benchdiff] removed: ${(oldT.keySet -- newT.keySet).toSeq.sorted.mkString(",")}")
    d.rebuildExcluded.foreach { r =>
      println(f"[benchdiff] REBUILD-TAINTED (excluded): ${r.q}%-28s old=${r.oldSec}%7.3fs new=${r.newSec}%7.3fs " +
        f"raw=${r.raw}%5.2fx norm=${r.normCalib}%5.2fx — both passes rebuilt a gated artifact; re-measure warm")
    }
    d.bandExcluded.foreach { r =>
      val (lo, hi) = adjudicated(r.q).bandSec.get
      println(f"[benchdiff] ADJUDICATED (excluded, bench/adjudicated.md): ${r.q}%-28s old=${r.oldSec}%7.3fs new=${r.newSec}%7.3fs " +
        f"raw=${r.raw}%5.2fx norm=${r.normCalib}%5.2fx — inside declared band [$lo%4.2f, $hi%4.2f]s")
    }
    if (d.regressions.isEmpty)
      println(s"[benchdiff] REGRESSIONS: none (> ${threshold}x on raw, calib-normalized AND paired-normalized)")
    else {
      println(s"[benchdiff] REGRESSIONS (> ${threshold}x on raw and both normalizations):")
      d.regressions.sortBy(r => -math.min(r.raw, math.min(r.normCalib, r.normPaired))).foreach { r =>
        println(f"  ${r.q}%-28s old=${r.oldSec}%7.3fs new=${r.newSec}%7.3fs raw=${r.raw}%5.2fx " +
          f"norm=${r.normCalib}%5.2fx paired=${r.normPaired}%5.2fx")
      }
      sys.exit(1)
    }
  }
}
