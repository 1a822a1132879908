package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated query names — dump only those
    // (fast local per-operator gate; the driver always runs the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Bench.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Preflight: every declared query must run. A failure is recorded in
    // errors.json (class + message) so a regression shows up as a named
    // error artifact rather than a silently-missing key in the driver's
    // correctness report (round-7 lesson: 13 queries vanished when the
    // events.ts parquet type drifted).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Schema preflight (VERDICT r7 directive 2): assert the NORMALIZED
    // contract of the drift-prone tables before running anything, so a
    // regenerated parquet surfaces as one named "_preflight/..." error
    // entry naming the table and type, not as N scattered analysis
    // failures. Mirrors SchemaPreflightSpec, but runs in the driver's own
    // gate where no test suite is in the loop.
    locally {
      import org.apache.spark.sql.types._
      def expect(table: String, col: String, dt: DataType, actual: DataType): Unit =
        if (actual != dt)
          errors(s"_preflight/$table.$col") =
            s"expected $dt after the loader, testdata now yields $actual — " +
              "normalize it in graft.sources.Tables"
      try {
        val ev = graft.sources.Tables.events(spark, sfDir).schema
        expect("events", "ts", TimestampType, ev("ts").dataType)
        expect("events", "user_id", LongType, ev("user_id").dataType)
        val em = graft.sources.Tables.embeddings(spark, sfDir).schema
        expect("embeddings", "embedding",
          ArrayType(FloatType, em("embedding").dataType
            .asInstanceOf[ArrayType].containsNull), em("embedding").dataType)
        val dc = graft.sources.Tables.documents(spark, sfDir).schema
        expect("documents", "text", StringType, dc("text").dataType)
        expect("documents", "doc_id", LongType, dc("doc_id").dataType)
      } catch { case e: Throwable =>
        errors("_preflight") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
      }
      errors.foreach { case (k, v) => System.err.println(s"[verify] $k: $v") }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
