package graft.tools

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.TaskContext

import graft.functions.TextFunctions
import graft.mr.MapReduce
import graft.mr.MapReduce.KeyValue

/** The reference's fault-tolerance test, Spark-first: the reference kills
  * workers with probability p and asserts the job still matches the oracle
  * (/root/reference/tests/test_wc.py:165-251 — 2 always-failing workers + 1
  * healthy). Here the scheduler under test is Spark's own task re-execution:
  * `local[4, 3]` grants 3 attempts per task, the map function throws on
  * every partition's FIRST attempt, and the output must equal the clean run
  * bit for bit (idempotent task commit — the reference's `Deny`-duplicate
  * logic, coordinator.go:258-272, is Spark's commit protocol).
  *
  * A standalone main (not a ScalaTest spec) because task retries are a
  * SparkContext-level setting and the test JVM shares one context.
  * Run: sbt "runMain graft.tools.FaultDemo"
  */
object FaultDemo {
  // partition ids that have already thrown once (driver+executors share the
  // JVM in local mode, so a static map is visible to tasks)
  val failedOnce = new ConcurrentHashMap[Int, Boolean]()

  def flakyWcMap(id: String, text: String): Iterator[KeyValue] = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 &&
        failedOnce.putIfAbsent(tc.partitionId(), true) == null)
      throw new RuntimeException(
        s"injected worker failure: partition ${tc.partitionId()} attempt 0")
    TextFunctions.tokenizeScala(text).iterator.map(w => KeyValue(w, "1"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    // 3 attempts per task — the retry under test
    val spark = graft.Bench.localSession("4", Some("local[4, 3]"))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select($"doc_id".cast("string"), $"text").as[(String, String)]

    val faulty = MapReduce.run(docs, flakyWcMap,
      (_, vs) => vs.size.toString).collect().map(kv => kv.key -> kv.value)
    val injected = failedOnce.size()
    val clean = MapReduce.run(docs,
      (_, t) => TextFunctions.tokenizeScala(t).iterator.map(w => KeyValue(w, "1")),
      (_, vs) => vs.size.toString).collect().map(kv => kv.key -> kv.value)

    val ok = faulty.sameElements(clean) && injected > 0
    println(s"""{"fault_demo":{"injected_failures":$injected,"keys":${clean.length},"match":$ok}}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
