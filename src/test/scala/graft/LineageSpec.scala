package graft

/** [[graft.operators.Lineage]] is the one place a plan's lineage is cut,
  * so `graft.iter.checkpoint` decides where every cut's blocks live. */
class LineageSpec extends SparkSpecBase {

  private def rddDirs(): Set[String] = spark.sparkContext.getCheckpointDir.toSeq.flatMap { d =>
    val dir = new org.apache.hadoop.fs.Path(d)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir).toSeq
      .map(_.getPath.getName).filter(_.startsWith("rdd-"))
  }.toSet

  test("reliable mode: dedup_minhash cuts to rdd-* dirs, none local") {
    val sc = spark.sparkContext
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

  test("reliable mode: isolateQueryState deletes the rdd-* dirs; the dir goes at JVM exit") {
    spark.conf.set("graft.iter.checkpoint", "reliable")
    try SparkEntry.queries("dedup_minhash")(spark, sf0001).collect()
    finally spark.conf.unset("graft.iter.checkpoint")
    assert(rddDirs().nonEmpty, "reliable cuts write rdd-* dirs")
    Bench.isolateQueryState(spark)
    assert(rddDirs().isEmpty, s"rdd-* dirs left under ${spark.sparkContext.getCheckpointDir}")
    // Lineage set the context dir (nothing else in this JVM sets one), so
    // it is registered for deletion at exit; cancelling reports that
    val dir = new org.apache.hadoop.fs.Path(spark.sparkContext.getCheckpointDir.get)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.cancelDeleteOnExit(dir), s"$dir is not deleted at JVM exit")
    fs.deleteOnExit(dir)
  }

  test("reliable mode: setting the context dir deletes this host's dead JVMs' trees, keeps the rest") {
    import java.nio.file.{Files, Path}
    import graft.operators.Lineage._
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft_ckpt_root")
    def plant(name: String): Path = {
      val part = root.resolve(s"$name/0a1b-uuid/rdd-7/part-00000")
      Files.createDirectories(part.getParent)
      Files.write(part, Array[Byte](1, 2, 3))
      root.resolve(name)
    }
    val host = java.net.InetAddress.getLocalHost.getHostName
    val finished = new ProcessBuilder("true").start()
    finished.waitFor()
    val dead = plant(s"$host-${finished.pid}")
    val live = plant(s"$host-${ProcessHandle.current.pid}")
    // another host's pid means nothing here, dead or not on this host
    val otherHost = plant(s"other-$host-${finished.pid}")
    val bare = plant(finished.pid.toString)
    val saved = sc.getCheckpointDir
    org.apache.spark.CheckpointDirAccess.set(sc, None)
    spark.conf.set("graft.iter.checkpoint", "reliable")
    spark.conf.set("graft.iter.checkpointDir", root.toString)
    try {
      spark.range(8).toDF("id").cutLineage().count()
      assert(sc.getCheckpointDir.exists(_.contains(s"${live.getFileName}/")),
        s"context dir ${sc.getCheckpointDir} is not under $live")
    } finally {
      spark.conf.unset("graft.iter.checkpoint")
      spark.conf.unset("graft.iter.checkpointDir")
      org.apache.spark.CheckpointDirAccess.set(sc, saved)
    }
    assert(!Files.exists(dead), s"tree of finished pid ${finished.pid} left at $dead")
    Seq(live, otherHost, bare).foreach { d =>
      assert(Files.exists(d.resolve("0a1b-uuid/rdd-7/part-00000")), s"tree deleted at $d")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("no direct checkpoint call in src/main outside Lineage") {
    val hits = MainSources.hits("""localCheckpoint\(|\.checkpoint\(""".r,
      "graft/operators/Lineage.scala")
    assert(hits.isEmpty, s"${hits.size} direct calls; cut through graft.operators.Lineage:\n" +
      hits.mkString("\n"))
  }
}
