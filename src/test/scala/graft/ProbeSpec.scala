package graft

import java.nio.file.Files

import graft.tools.Probe

/** The per-query probe ([[graft.tools.Probe]]) and the counters it reads
  * from [[graft.QueryTrace]], on the shared test session at sf0.001. */
class ProbeSpec extends SparkSpecBase {

  private def counters(line: String): Map[String, Long] =
    """(\w+)=(\d+)(?=\s|$)""".r.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).toLong).toMap

  private def repLines(lines: Seq[String]): Seq[Map[String, Long]] =
    lines.filter(_.contains(" rep=")).map(counters)

  test("time wc: jobs, stages and shuffle bytes are counted and repeat exactly") {
    val reps = repLines(Probe.run(spark, sf0001, Seq("time", "wc", "2")))
    assert(reps.size == 2, reps)
    val r = reps.head
    assert(r("jobs") >= 1 && r("stages") >= 2, r)
    assert(r("shuffle_read") > 0 && r("shuffle_write") > 0, r)
    val counts = Seq("rows", "jobs", "stages", "tasks", "shuffle_read", "shuffle_write")
    assert(reps.map(r => counts.map(r)).distinct.size == 1, reps)
  }

  test("time stream_sessions: stream batches and state-store bytes are counted") {
    val Seq(r) = repLines(Probe.run(spark, sf0001, Seq("time", "stream_sessions", "1")))
    assert(r("batches") >= 1 && r("peak_state") > 0, r)
  }

  test("plan writes the final adaptive plan and an audit line") {
    val dir = Files.createTempDirectory("graft_probe_plan")
    val lines = Probe.run(spark, sf0001, Seq("plan", "join_orders_customers", dir.toString, "t"))
    val file = dir.resolve("join_orders_customers_t.txt")
    assert(Files.exists(file), lines)
    assert(Files.readString(file).contains("isFinalPlan=true"))
    val audit = lines.filter(_.startsWith("[audit] join_orders_customers"))
    assert(audit.size == 1 && audit.head.contains("bhj=") && audit.head.contains("smj="), lines)
  }

  test("an unknown query name fails with the list of known names") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, sf0001, Seq("time", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(SparkEntry.queries.keys.forall(e.getMessage.contains))
  }
}
