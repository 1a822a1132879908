package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.{Adjudicated, BenchDiff}

/** Gates for [[graft.tools.BenchDiff]]'s two-estimator host model (r13
  * VERDICT task 1). The fixture replays the round-13 contradiction that
  * motivated the second estimator: the "quietest" window by the 16-thread
  * busy-loop calib (ratio 0.9 — calib says the host got FASTER) while the
  * carried workload's raw per-query ratios ran ~1.17× (the host as the
  * Spark workload experienced it got SLOWER) — under the old
  * raw∧calib-norm conjunction a handful of untouched queries at ~1.55×
  * raw survive as phantom regressions; the paired carried-query median
  * arbitrates them away while a genuinely planted 3× regression still
  * flags under all three ratios. */
class BenchDiffSpec extends AnyFunSuite {

  private val om = new ObjectMapper()

  /** Full-artifact shape with a calib block; `times` maps query -> sec. */
  private def artifact(times: Map[String, Double], calib16: Double): com.fasterxml.jackson.databind.JsonNode = {
    val qs = times.toSeq.sortBy(_._1)
      .map { case (q, s) => s""""$q":{"sec":$s,"p1":$s,"p2":$s}""" }
      .mkString("{", ",", "}")
    om.readTree(s"""{"calib":{"start16":$calib16},"queries":$qs}""")
  }

  // 30 carried queries: 23 track the true workload-shaped host factor
  // (~1.15–1.19×), 7 land in the contended tail at 1.55× — the r13
  // complete-seal shape (whole-distribution median 1.17, tail survivors
  // 1.51–1.61 on untouched code).
  private val oldTimes: Map[String, Double] =
    (1 to 30).map(i => f"q$i%02d" -> (0.4 + 0.02 * i)).toMap
  private def busyTimes(planted: Map[String, Double] = Map.empty): Map[String, Double] =
    oldTimes.map { case (q, s) =>
      val i = q.drop(1).toInt
      val hostFactor = if (i <= 23) 1.15 + 0.002 * i else 1.55
      q -> planted.getOrElse(q, s * hostFactor)
    }

  test("phantom survivors: tail host contention is arbitrated away by the paired factor") {
    val d = BenchDiff.diff(artifact(oldTimes, calib16 = 1.0),
      artifact(busyTimes(), calib16 = 0.9), threshold = 1.5,
      adjudicated = Map.empty, unchangedQueries = None)
    // the old conjunction WOULD have flagged the 1.55× tail: raw 1.55 > 1.5
    // and calib-norm 1.55/0.9 = 1.72 > 1.5
    val tail = d.rows.filter(_.raw > 1.5)
    assert(tail.size == 7)
    assert(tail.forall(_.normCalib > 1.5), "fixture must reproduce the calib-norm failure mode")
    // the paired factor reads the workload-shaped median (~1.17), under
    // which the tail normalizes to ~1.32 — not a code regression
    assert(math.abs(d.pairedFactor - 1.17) < 0.03, s"pairedFactor=${d.pairedFactor}")
    assert(d.regressions.isEmpty,
      s"phantom survivors not arbitrated: ${d.regressions.map(_.q).mkString(",")}")
  }

  test("a planted real regression still flags under all three ratios") {
    val planted = busyTimes(Map("q05" -> oldTimes("q05") * 3.0))
    val d = BenchDiff.diff(artifact(oldTimes, calib16 = 1.0),
      artifact(planted, calib16 = 0.9), threshold = 1.5,
      adjudicated = Map.empty, unchangedQueries = None)
    assert(d.regressions.map(_.q) == Seq("q05"),
      s"expected exactly the planted q05, got ${d.regressions.map(_.q).mkString(",")}")
    val r = d.regressions.head
    assert(r.raw > 2.9 && r.normCalib > 1.5 && r.normPaired > 1.5)
  }

  test("attribution restricts the paired sample to file-unchanged queries") {
    // mark only the 23 host-tracking queries as unchanged; the 1.55× tail is
    // "touched code" and must not contaminate the host estimate
    val unchanged = (1 to 23).map(i => f"q$i%02d").toSet
    val d = BenchDiff.diff(artifact(oldTimes, calib16 = 1.0),
      artifact(busyTimes(), calib16 = 1.0), threshold = 1.5,
      adjudicated = Map.empty, unchangedQueries = Some(unchanged))
    assert(d.pairedAttributed)
    assert(d.pairedSample == 23)
    assert(d.pairedFactor > 1.14 && d.pairedFactor < 1.20)
  }

  test("attribution below the minimum sample falls back to all carried queries") {
    val d = BenchDiff.diff(artifact(oldTimes, calib16 = 1.0),
      artifact(busyTimes(), calib16 = 1.0), threshold = 1.5,
      adjudicated = Map.empty,
      unchangedQueries = Some(Set("q01", "q02"))) // < MinPairedSample
    assert(!d.pairedAttributed)
    assert(d.pairedSample == 30)
  }

  test("queryRefsOf parses registration blocks into object references") {
    val src =
      """object SparkEntry {
        |  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
        |    "wc" -> ((s, d) => CoreQueries.wc(s, d)),
        |    "salted_distinct" -> ((s, d) => {
        |      import org.apache.spark.sql.functions.col
        |      graft.operators.Skew.saltedCountDistinct(
        |          graft.sources.Tables.events(s, d), col("event_type"))
        |        .orderBy("k")
        |    }),
        |    "hll_rollup" -> ((s, d) => Analytics.hllRollup(s, d)))
        |  def oracleSql: Map[String, String] = Map()
        |}""".stripMargin
    val refs = BenchDiff.queryRefsOf(src)
    assert(refs("wc").contains("CoreQueries"))
    assert(refs("salted_distinct").contains("Skew"))
    assert(refs("salted_distinct").contains("Tables"))
    assert(refs("hll_rollup") == Set("Analytics"))
  }

  test("the real SparkEntry attributes every declared query to at least one object") {
    val entry = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val refs = BenchDiff.queryRefsOf(entry)
    val declared = SparkEntry.queries.keySet
    assert(refs.keySet == declared,
      s"parser/registry drift: missing=${(declared -- refs.keySet).toSeq.sorted.take(5)} " +
        s"extra=${(refs.keySet -- declared).toSeq.sorted.take(5)}")
    val unattributed = refs.filter(_._2.isEmpty).keys.toSeq.sorted
    assert(unattributed.isEmpty,
      s"queries with no object reference (attribution would silently skip them): $unattributed")
  }

  test("adjudicated band still excludes an in-band survivor") {
    val planted = busyTimes(Map("q05" -> 1.0)) // old 0.5 -> 1.0 = 2.0x raw
    val d = BenchDiff.diff(artifact(oldTimes, calib16 = 1.0),
      artifact(planted, calib16 = 1.0), threshold = 1.5,
      adjudicated = Map("q05" -> Adjudicated.Entry("q05", None, Some((0.8, 1.2)), "test band")),
      unchangedQueries = None)
    assert(d.regressions.isEmpty)
    assert(d.bandExcluded.map(_.q) == Seq("q05"))
  }

  test("no code in src/main reads SURVEY.md; the registry is bench/adjudicated.md") {
    val hits = MainSources.hits("""SURVEY\.md""".r)
    assert(hits.isEmpty, s"${hits.size} lines name SURVEY.md:\n" + hits.mkString("\n"))
  }
}
