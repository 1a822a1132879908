package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way this engine cuts a plan's lineage, so session conf
  * `graft.iter.checkpoint` decides where every cut's blocks live. A cut
  * frame is backed by a LogicalRDD: a round loop's plan stops growing with
  * the round count, and later references read the blocks instead of
  * re-running the subplan.
  *
  *  - `local` (default): `localCheckpoint(eager)` at Spark's default
  *    storage level. The blocks live only on the executors that computed
  *    them, so an executor loss re-runs the query.
  *  - `reliable`: `checkpoint(eager = true)` into the context checkpoint
  *    dir. When the context has none, it is set to `<root>/<host>-<pid>`,
  *    with `<root>` from `graft.iter.checkpointDir`.
  *    A lost executor costs a task retry, not the job. Always eager: a
  *    lazy reliable checkpoint computes its RDD twice to write it. Spark's
  *    `cleanCheckpoints` is off by default, so the files stay until
  *    [[dropCheckpointFiles]] runs or, when this object set the dir, the
  *    JVM exits. */
object Lineage {
  implicit final class LineageCut(private val df: DataFrame) extends AnyVal {
    /** Cuts the lineage and materializes the frame now (one job). */
    def cutLineage(): DataFrame = cut(df, eager = true)

    /** Cuts the plan now; in `local` mode the blocks materialize inside the
      * first action over the frame, saving the separate checkpoint job.
      * The caller guarantees that this first action evaluates EVERY
      * partition (count and aggregates do; take, isEmpty and limit do
      * not), and that no two threads or same-stage branches use the frame
      * first at the same time (each would run the compute). */
    def cutLineageLazily(): DataFrame = cut(df, eager = false)
  }

  private def cut(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("graft.iter.checkpoint", "local") match {
      case "local" => df.localCheckpoint(eager)
      case "reliable" =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty) {
          // one <host>-<pid> dir per JVM under the root: a killed JVM never
          // runs its exit hook, so the next one on the same host deletes the
          // trees of its dead pids. The root may be shared by other hosts,
          // whose pids this host cannot judge, so their dirs stay.
          val root = new Path(spark.conf.get("graft.iter.checkpointDir",
            new java.io.File(sys.props("java.io.tmpdir"), "graft-checkpoints").getPath))
          val fs = root.getFileSystem(sc.hadoopConfiguration)
          val host = java.net.InetAddress.getLocalHost.getHostName
          val ours = (java.util.regex.Pattern.quote(host) + "-(\\d{1,18})").r
          if (fs.exists(root)) fs.listStatus(root).map(_.getPath).filter(_.getName match {
              case ours(pid) => !ProcessHandle.of(pid.toLong).filter(_.isAlive).isPresent
              case _ => false
            }).foreach(fs.delete(_, true))
          sc.setCheckpointDir(new Path(root, s"$host-${ProcessHandle.current.pid}").toString)
          // Spark made a fresh <uuid> dir under that for this context
          fs.deleteOnExit(new Path(sc.getCheckpointDir.get))
        }
        df.checkpoint(eager = true)
      case other => throw new IllegalArgumentException(
        s"graft.iter.checkpoint must be local or reliable, got '$other'")
    }
  }

  /** Deletes the `rdd-*` files that reliable cuts wrote under the context
    * checkpoint dir. Call between queries, when no frame of the finished
    * query is read again. */
  def dropCheckpointFiles(spark: SparkSession): Unit =
    spark.sparkContext.getCheckpointDir.foreach { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith("rdd-"))
        .foreach(fs.delete(_, true))
    }
}
