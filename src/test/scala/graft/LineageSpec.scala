package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** [[graft.operators.Lineage]] is the one place a plan's lineage is cut,
  * so `graft.iter.checkpoint` decides where every cut's blocks live. */
class LineageSpec extends SparkSpecBase {

  test("reliable mode: dedup_minhash cuts to rdd-* dirs, none local") {
    val sc = spark.sparkContext
    def rddDirs(): Set[String] = sc.getCheckpointDir.toSeq.flatMap { d =>
      val dir = new org.apache.hadoop.fs.Path(d)
      dir.getFileSystem(sc.hadoopConfiguration).listStatus(dir).toSeq
        .map(_.getPath.getName).filter(_.startsWith("rdd-"))
    }.toSet
    val dirsBefore = rddDirs()
    val persistedBefore = sc.getPersistentRDDs.keySet
    spark.conf.set("graft.iter.checkpoint", "reliable")
    val rows = try SparkEntry.queries("dedup_minhash")(spark, sf0001).collect()
      finally spark.conf.unset("graft.iter.checkpoint")
    assert(rows.nonEmpty, "the corpus plants near-dup pairs")
    assert(sc.getCheckpointDir.nonEmpty, "reliable mode sets the context checkpoint dir")
    assert((rddDirs() -- dirsBefore).nonEmpty, s"no rdd-* dir added under ${sc.getCheckpointDir}")
    // a local checkpoint is a persisted RDD that is checkpointed without a file
    val localCuts = (sc.getPersistentRDDs -- persistedBefore).values
      .filter(r => r.isCheckpointed && r.getCheckpointFile.isEmpty)
    assert(localCuts.isEmpty, s"executor-local cuts under reliable mode: ${localCuts.map(_.id)}")
  }

  test("no direct checkpoint call in src/main outside Lineage") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val helper = root.resolve("graft/operators/Lineage.scala")
    val call = """localCheckpoint\(|\.checkpoint\(""".r
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
    }
    val hits = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p != helper)
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(code(line)).nonEmpty => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, s"${hits.size} direct calls; cut through graft.operators.Lineage:\n" +
      hits.mkString("\n"))
  }
}
