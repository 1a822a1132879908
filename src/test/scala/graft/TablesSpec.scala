package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.EventStreams

/** [[Tables.parquetSchema]] gives the schema Spark's inference would give,
  * read on the driver, so building a parquet-backed frame starts no job. */
class TablesSpec extends SparkSpecBase {

  private val testdataTables = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  private def assertInferredSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Tables.parquetSchema(spark, path) == inferred, path)
    assert(Tables.parquet(spark, path).schema == inferred, path)
  }

  test("parquetSchema equals Spark's inferred schema for every testdata table") {
    testdataTables.foreach(t => assertInferredSchema(s"$sf0001/$t.parquet"))
  }

  test("parquetSchema equals Spark's inferred schema for Spark-written directories") {
    val root = Files.createTempDirectory("graft_tables_spec")
    // non-nullable columns and a non-null array element, which the read makes nullable
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), length(col("text")).as("len"),
              array(lit(1), lit(2)).as("pair"), lit(7L).as("seven"))
    val plain = root.resolve("plain").toString
    docs.repartition(3).write.parquet(plain)
    val names = Files.list(Paths.get(plain)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertInferredSchema(plain)
    val partitioned = root.resolve("partitioned").toString
    docs.withColumn("shard", col("doc_id") % 4).write.partitionBy("shard", "lang")
      .parquet(partitioned)
    assertInferredSchema(partitioned)
    assert(Tables.parquetSchema(spark, partitioned).fieldNames.takeRight(2).toSeq ==
      Seq("shard", "lang"))
    // part files with different schemas: one footer decides, unless mergeSchema
    val mixed = root.resolve("mixed").toString
    docs.select("doc_id", "lang").write.parquet(mixed)
    docs.select("doc_id", "len").write.mode("append").parquet(mixed)
    assertInferredSchema(mixed)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertInferredSchema(mixed)
      assert(Tables.parquetSchema(spark, mixed).fieldNames.toSet == Set("doc_id", "lang", "len"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // a summary file decides over the part files, even when they disagree
    val summarized = root.resolve("summarized")
    docs.select("doc_id", "len").write.option("parquet.summary.metadata.level", "ALL")
      .parquet(summarized.toString)
    assert(Files.exists(summarized.resolve("_common_metadata")))
    Files.list(summarized).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).foreach(Files.delete)
    docs.select("doc_id", "lang").write.mode("append").parquet(summarized.toString)
    assertInferredSchema(summarized.toString)
    assert(Tables.parquetSchema(spark, summarized.toString).fieldNames.toSeq == Seq("doc_id", "len"))
  }

  test("an empty directory and a missing path raise Spark's own errors") {
    val empty = Files.createTempDirectory("graft_tables_empty")
    Seq(empty.toString -> "UNABLE_TO_INFER_SCHEMA",
        empty.resolve("absent.parquet").toString -> "PATH_NOT_FOUND").foreach {
      case (path, condition) =>
        val expected = intercept[AnalysisException](spark.read.parquet(path))
        val ours = intercept[AnalysisException](Tables.parquetSchema(spark, path))
        assert(expected.getCondition == condition)
        assert(ours.getCondition == condition && ours.getMessage == expected.getMessage)
    }
  }

  test("building a batch table and a table stream starts no Spark job") {
    val trace = new QueryTrace(spark)
    try {
      trace.reset()
      Tables.documents(spark, sf0001)
      EventStreams.eventsStream(spark, sf0001)
      assert(trace.snapshot().jobs == 0)
    } finally trace.close()
  }

  test("no direct parquet read in src/main outside Tables") {
    val hits = MainSources.hits("""read\.parquet\(|read\.format\("parquet"\)""".r,
      "graft/sources/Tables.scala")
    assert(hits.isEmpty, s"${hits.size} direct reads; read through graft.sources.Tables:\n" +
      hits.mkString("\n"))
  }
}
