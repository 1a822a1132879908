package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout sinks — the storage-side half of the 100 TB design:
  *
  *  - **Bucketed tables**: pre-shuffle a fact table by its join key once at
  *    write time; every later equi-join/aggregation on that key reads
  *    co-located buckets and plans with NO Exchange. This is how repeated
  *    joins amortize their shuffle at scale (the plan-level proof lives in
  *    WarehouseSpec: SortMergeJoin over two bucketed scans, zero shuffles).
  *  - **Partitioned layout**: directory partitioning by a low-cardinality
  *    column; predicate → partition pruning at planning time, so a filter on
  *    the partition column reads only its directories.
  */
object Warehouse {

  /** Write `df` as a bucketed+sorted managed table on `key` — the join key
    * pays its shuffle exactly once, here. */
  def writeBucketed(df: DataFrame, key: String, table: String, buckets: Int = 8): Unit =
    writeBucketed(df, Seq(key), table, buckets)

  /** Multi-column bucketing: a bucket-local join requires the bucket
    * columns to EQUAL the join keys (the planner disables the bucketed read
    * on a subset match), so index tables bucket on the full key tuple. */
  def writeBucketed(df: DataFrame, keys: Seq[String], table: String, buckets: Int): Unit = {
    dropTableAndLocation(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Drop a managed table AND its on-disk location, cross-JVM safe: a
    * fresh session doesn't know tables a previous JVM wrote — the catalog
    * entry is gone (so `DROP TABLE IF EXISTS` no-ops) but the managed
    * location survives, and the next `saveAsTable` refuses the non-empty
    * directory (`LOCATION_ALREADY_EXISTS`). Clear the orphaned default-db
    * directory too — but only after verifying it actually is a
    * Spark-written dataset (parquet part files / _SUCCESS / partition
    * dirs), never an unrelated directory that happens to share the name. */
  def dropTableAndLocation(spark: SparkSession, table: String,
                           partCol: Option[String] = None): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) {
      val entries = fs.listStatus(loc).map(_.getPath.getName)
      val looksLikeTable = entries.isEmpty ||
        entries.exists(n => n == "_SUCCESS" || n.startsWith("part-") ||
          partCol.exists(c => n.startsWith(s"$c=")))
      require(looksLikeTable,
        s"refusing to clear orphaned table location $loc: contents ${entries.take(5).mkString(",")} " +
          "do not look like a Spark-written table")
      fs.delete(loc, true)
    }
  }

  /** Append into an existing bucketed table with the SAME bucket spec — the
    * index-maintenance write: new per-bucket files land next to the old
    * ones, the bucket hash (and therefore every bucket-local join) is
    * preserved, and nothing is rewritten. Spark validates that the spec
    * matches the table's; a mismatch is an error, not silent corruption. */
  def appendBucketed(df: DataFrame, keys: Seq[String], table: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Append)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Compact a bucketed table back to ONE file per bucket — the
    * maintenance pass that keeps read fan-in bounded after many
    * [[appendBucketed]] deltas (every append adds a file per bucket; at
    * daily-ingest cadence a year is 365 files per bucket). Rows are
    * repartitioned on the EXPLICIT bucket-id expression
    * `pmod(hash(keys), buckets)` — `hash` is the same seed-42 murmur the
    * bucketed write assigns files with, so every bucket's rows land in
    * exactly one task and the write emits exactly one file per bucket.
    * (Repartitioning by the raw keys does NOT guarantee this: the write
    * side re-buckets within whatever task layout the optimizer kept.)
    * The rewrite goes through a temp table + RENAME (a table cannot be
    * overwritten while being read), and the fingerprint stamp survives. */
  def compactBucketed(spark: SparkSession, table: String,
                      keys: Seq[String], buckets: Int): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    recoverStrandedCompaction(spark, table)
    val tmp = s"${table}__compact"
    val fp = storedFingerprint(spark, table)
    // writeBucketed (not a bare CTAS) so a tmp directory orphaned by a
    // crashed prior compaction is cleared instead of failing every future
    // compaction of this table. The DROP→RENAME window below is the one
    // non-atomic step this catalog offers; a crash inside it loses only
    // the catalog entry — the compacted data survives under the tmp name,
    // fingerprint INCLUDED (stamped on the tmp table before the DROP, so
    // [[recoverStrandedCompaction]] restores a reuse-gate-passing table by
    // rename alone, never a rebuild).
    writeBucketed(
      spark.table(table)
        .repartition(buckets, pmod(hash(keys.map(col): _*), lit(buckets))),
      keys, tmp, buckets)
    fp.foreach(stampFingerprint(spark, tmp, _))
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
  }

  /** Compact a directory-PARTITIONED managed table to one file per
    * partition — the maintenance pass for partitioned stores extended by
    * appends (e.g. the IVF cells table after [[graft.operators.Similarity
    * .appendIvfIndex]] deltas): every append lands a file per touched
    * partition, and read fan-in grows with ingest cadence. Repartitioning
    * BY the partition column puts each partition value wholly in one task,
    * so the dynamic-partitioned write emits exactly one file per
    * directory. Same temp-table + RENAME shape as [[compactBucketed]];
    * the fingerprint stamp survives. */
  def compactPartitioned(spark: SparkSession, table: String, partCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    recoverStrandedCompaction(spark, table)
    val tmp = s"${table}__compact"
    val fp = storedFingerprint(spark, table)
    writePartitionedTable(
      spark.table(table).repartition(col(partCol)), partCol, tmp)
    // fingerprint onto the tmp table BEFORE the DROP→RENAME window (same
    // crash-recovery contract as compactBucketed)
    fp.foreach(stampFingerprint(spark, tmp, _))
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
    repairPartitions(spark, table)
  }

  /** RENAME moves a partitioned table's directory but the catalog's
    * PARTITION entries still carry absolute locations under the old path —
    * without recovery the renamed table scans zero files. SYNC PARTITIONS
    * (not plain MSCK REPAIR, which only ADDs missing entries) also DROPS
    * stale entries, so a catalog that retained partition rows pointing at
    * the vanished tmp location cannot leave them shadowing the real ones. */
  private def repairPartitions(spark: SparkSession, table: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE `$table` SYNC PARTITIONS")

  /** Finish a compaction that crashed inside its DROP→RENAME window: the
    * canonical name is gone but the fully-written (and already
    * fingerprint-stamped) data sits under the `__compact` twin. Completing
    * the rename restores the table — including its reuse-gate stamp — so
    * consumers whose `tableExists` check would otherwise trigger a full
    * rebuild (losing the compacted work and any appended-only state) get
    * the real table back for the price of a catalog op. A twin alongside a
    * LIVE canonical table is NOT recovered — that is pre-DROP debris, and
    * the next compaction's [[writeBucketed]]/[[writePartitionedTable]]
    * clears it. Returns true iff a stranded twin was recovered. */
  def recoverStrandedCompaction(spark: SparkSession, table: String): Boolean = {
    val tmp = s"${table}__compact"
    if (spark.catalog.tableExists(table) || !spark.catalog.tableExists(tmp)) false
    else {
      spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$table`")
      if (spark.catalog.listColumns(table).collect().exists(_.isPartition))
        repairPartitions(spark, table)
      true
    }
  }

  /** Data files of a managed table's location (for compaction asserts /
    * observability; excludes markers like _SUCCESS). */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recurse: a directory-partitioned table keeps its part- files under
    // <col>=<value>/ subdirectories, so a top-level-only count reads 0
    def countIn(p: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(p).map { s =>
        if (s.isFile) { if (s.getPath.getName.startsWith("part-")) 1 else 0 }
        else countIn(s.getPath)
      }.sum
    if (!fs.exists(loc)) 0 else countIn(loc)
  }

  /** One table's file-count health: `units` is the table's natural file
    * quantum (bucket count for bucketed tables, live partition count for
    * partitioned ones, 1 otherwise), so `files/units` is the read fan-in
    * multiplier appends have accumulated since the last compaction. */
  final case class TableHealth(table: String, files: Int, units: Int,
                               compactRecommended: Boolean)

  /** Compaction-health report over persisted table families — the
    * monitoring half of the append-based maintenance story (the
    * storage-layout sibling of [[graft.operators.Similarity.ivfDrift]]):
    * every [[appendBucketed]] / partition append
    * adds a file per touched unit, and read fan-in grows with ingest
    * cadence until a compaction ([[compactBucketed]] /
    * [[compactPartitioned]]) resets it. A table whose file count exceeds
    * `factor`× its unit count is flagged. Pure catalog/filesystem metadata
    * — no data scan, safe to run on every ingest tick. */
  def maintenanceReport(spark: SparkSession, tables: Seq[String],
                        factor: Int = 4): Seq[TableHealth] =
    tables.map { t =>
      val files = dataFileCount(spark, t)
      val buckets = spark.sql(s"DESCRIBE FORMATTED `$t`").collect()
        .collectFirst { case r if r.getString(0).trim == "Num Buckets" =>
          r.getString(1).trim.toInt }
      val units = buckets.getOrElse {
        if (spark.catalog.listColumns(t).collect().exists(_.isPartition))
          math.max(spark.sql(s"SHOW PARTITIONS `$t`").count().toInt, 1)
        else 1
      }
      TableHealth(t, files, units, files > units.toLong * factor)
    }

  final case class StaleTable(table: String, storedFp: Option[String])

  /** Fingerprint-stale warehouse tables of one derived family (r13
    * VERDICT task 7): [[maintenanceReport]] watches file fan-in and
    * `vacuumVersionedRoot` retires staged ROOT versions, but derived
    * TABLES had no retirement path — every driver-side testdata
    * regeneration strands a whole generation (superseded
    * `graft_ivfauto_*_rb` rebuild branches, old `_pairs`/`_labels`
    * stores) whose names are stable but whose stamped fingerprints no
    * longer contain the live source's fingerprint. A family is a table
    * NAME PREFIX (which embeds sf + path token, so one corpus's vacuum
    * can never touch another's stores); `currentToken` is the live
    * source fingerprint — keep = stamped fingerprint contains it (any
    * lifecycle stage: base/full/rebuilt stamps all embed it), stale =
    * stamped with some other generation. Tables with NO graft stamp are
    * never judged (not ours). Catalog metadata only — no data scan. */
  def staleTableReport(spark: SparkSession, prefix: String,
                       currentToken: String): Seq[StaleTable] = {
    require(currentToken.nonEmpty, "staleTableReport: empty currentToken would flag every stamped table")
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).sorted.toSeq
      .map(t => StaleTable(t, storedFingerprint(spark, t)))
      .filter(s => s.storedFp.exists(fp => !fp.contains(currentToken)))
  }

  /** Drop the stale generation ([[staleTableReport]]'s rows) — the
    * retirement half. Same concurrency contract as every maintenance
    * sweep here: run when no builder is mid-append on the family (a
    * dropped in-flight table costs a rebuild, never correctness — the
    * fingerprint gate rebuilds what a reader needs). Returns the dropped
    * table names. */
  def vacuumStaleTables(spark: SparkSession, prefix: String,
                        currentToken: String): Seq[String] = {
    val stale = staleTableReport(spark, prefix, currentToken)
    stale.foreach(s => spark.sql(s"DROP TABLE IF EXISTS `${s.table}`"))
    stale.map(_.table)
  }

  /** Derived tables built over a ×10 ScaleProbe STAGED corpus whose temp
    * directory is gone — the probe sweep removes the staged parquet
    * (`graft_scale_x*` under /tmp) but the index/store tables the probed
    * queries built over it lingered in the warehouse forever (measured:
    * dozens of generations at ~18 MB apiece by round 14). The staged dir's
    * basename is embedded verbatim in the derived table name, so
    * orphanhood is decidable from catalog metadata alone. */
  private val ProbeDirToken = java.util.regex.Pattern.compile("(graft_scale_x\\d+)")

  /** FILESYSTEM-level listing, not `catalog.listTables()`: the in-memory
    * session catalog forgets tables between JVMs, so a fresh session's
    * catalog sees none of the previous rounds' debris — the orphans are
    * the warehouse DIRECTORIES (measured: 86 stranded `graft_scale_x*`
    * generations by round 14, invisible to every new session's catalog). */
  def orphanedProbeTables(spark: SparkSession): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted.filter { t =>
      val m = ProbeDirToken.matcher(t)
      m.find() && !new java.io.File(tmp, m.group(1)).isDirectory
    }
  }

  /** Drop the orphaned probe-table generations — catalog entry (if this
    * session has one) AND the on-disk location, through
    * [[dropTableAndLocation]]'s looks-like-a-table safety check. Returns
    * the dropped names. Safe whenever no probe is LIVE (the probe marker
    * contract — a live probe's staged dir exists, so its tables are never
    * orphans). */
  def vacuumOrphanedProbeTables(spark: SparkSession): Seq[String] = {
    val orphans = orphanedProbeTables(spark)
    orphans.foreach(t => dropTableAndLocation(spark, t))
    orphans
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Short token identifying a corpus DIRECTORY by its full canonical path —
    * two corpora whose directories merely share a basename get different
    * derived table names. */
  def pathToken(sfDir: String): String =
    md5Hex(new java.io.File(sfDir).getCanonicalPath).take(8)

  /** Cheap content identity of one source parquet table: file names, sizes
    * and mtimes — no data scan. Detects data regenerated in place at the
    * same path, which a name-only identity would silently reuse. */
  def sourceFingerprint(sfDir: String, table: String): String = {
    val f = new java.io.File(sfDir, s"$table.parquet")
    require(f.exists,
      s"sourceFingerprint: source table '$table' not found at $f — " +
        "cannot fingerprint a derived table against a missing source")
    val entries = if (f.isDirectory) f.listFiles().sortBy(_.getName) else Array(f)
    md5Hex(entries.map(e => s"${e.getName}:${e.length}:${e.lastModified}").mkString("|"))
  }

  private val FingerprintKey = "graft.fingerprint"

  /** Record the source fingerprint a derived table was built from. */
  def stampFingerprint(spark: SparkSession, table: String, fp: String): Unit =
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES ('$FingerprintKey' = '$fp')")

  /** The fingerprint a derived table was stamped with, if any. */
  def storedFingerprint(spark: SparkSession, table: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES `$table`").collect()
      .collectFirst { case r if r.getString(0) == FingerprintKey => r.getString(1) }

  /** True iff every `tables` entry exists AND carries the expected source
    * fingerprint — the shared reuse gate for every fingerprint-stamped
    * derived table family (dedup index, ranking stats, IVF index). A table
    * stranded mid-compaction is first recovered ([[recoverStrandedCompaction]])
    * — the twin carries the same stamp, so a crash between DROP and RENAME
    * costs a rename here, not a rebuild. */
  def tablesCurrent(spark: SparkSession, tables: Seq[String], fp: String): Boolean =
    tables.forall { t =>
      if (!spark.catalog.tableExists(t)) recoverStrandedCompaction(spark, t)
      spark.catalog.tableExists(t) && storedFingerprint(spark, t).contains(fp)
    }

  /** THE fingerprint-gated ensure pattern, in one place: if every table in
    * `tables` already carries `fp`, reuse; otherwise run `build` (which
    * must create all of them) and stamp. The fingerprint should encode the
    * full identity — source-data fingerprint AND every parameter the build
    * depends on, at full precision. Parameters that only appear rounded in
    * a table NAME do not disambiguate (two thresholds rounding to the same
    * integer would silently share a table); the stamped fingerprint is
    * what the gate compares, so it must carry them exactly. */
  def ensureDerivedTables(spark: SparkSession, tables: Seq[String], fp: String)
                         (build: => Unit): Unit = {
    if (tablesCurrent(spark, tables, fp)) return
    noteArtifactRebuild()
    build
    tables.foreach(stampFingerprint(spark, _, fp))
  }

  /** Process-wide count of fingerprint-gate MISSES (artifact rebuilds) —
    * benchmark instrumentation: a query timed while its gated store
    * rebuilds measures the rebuild, not the plan (r11's `corpus_export`
    * final-artifact anomaly, unreproducible across five earlier seals).
    * [[graft.Bench]] snapshots this around every timed query and reports
    * the delta per query (`rebuilds_p1`/`rebuilds_p2`), so a cold rebuild
    * can never masquerade as a plan regression again. Every gated builder
    * reports here: [[ensureDerivedTables]] and the versioned staged-root
    * writer ([[graft.multimodal.Media]]'s `ensureVersioned`). */
  private val rebuildCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def artifactRebuildCount: Long = rebuildCounter.get()
  def noteArtifactRebuild(): Unit = { rebuildCounter.incrementAndGet(); () }

  /** Equi-join of two tables bucketed on the join keys: with matching
    * bucket counts Catalyst plans bucket-local SortMergeJoin, no Exchange
    * on either side. */
  def cogroupJoin(spark: SparkSession, left: String, right: String,
                  leftKey: String, rightKey: String): DataFrame = {
    // bind each side once: the join condition must reference the SAME
    // Dataset instances that feed the join (fresh spark.table calls would
    // only resolve via the relation cache keeping exprIds stable)
    val l = spark.table(left)
    val r = spark.table(right)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** Write `df` directory-partitioned by `partCol`. */
  def writePartitioned(df: DataFrame, partCol: String, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** Write `df` as a MANAGED directory-partitioned table — the layout
    * dynamic partition pruning needs: a broadcast join on `partCol` prunes
    * the scan to exactly the joined partitions at runtime. Same cross-
    * session orphan handling as [[writeBucketed]]. */
  def writePartitionedTable(df: DataFrame, partCol: String, table: String): Unit = {
    dropTableAndLocation(df.sparkSession, table, Some(partCol))
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).saveAsTable(table)
  }

  // ------------------------------------------------------------------
  // Versioned staged-root retention (vacuum)
  // ------------------------------------------------------------------
  //
  // The version/symlink-flip layout (writer: graft.multimodal.Media
  // .ensureVersioned) stages each corpus fingerprint into an immutable
  // `<root>.v<fp>` directory and atomically flips the `<root>` symlink —
  // readers never race a rebuild, but superseded versions accumulate
  // forever. These ops are the retention half of that contract. They are
  // pure filesystem-layout code (no SparkSession): the layout convention
  // IS the interface, so any root staged with that convention can be
  // reported on and vacuumed.

  /** Retention health of one versioned root: how many `.v*` versions
    * exist, how many are DEAD (not the live symlink target), and how much
    * debris (`.tmp-*` in-flight builds, `.lnk-*` in-flight flips,
    * `.trash-*` interrupted vacuums) sits beside them — the
    * dead-version count [[maintenanceReport]]'s TableHealth gives tables,
    * for staged roots. Metadata-only (one directory listing). */
  final case class RootHealth(root: String, liveVersion: String,
                              versions: Int, deadVersions: Int, debris: Int)

  /** [[RootHealth]] for each root. A root with no symlink yet treats its
    * newest version as presumptive-live (the writer is between build and
    * flip), so `deadVersions` never counts a directory a reader could be
    * about to see. */
  def versionedRootReport(roots: Seq[String]): Seq[RootHealth] =
    roots.map { root =>
      val (_, _, live, versions, debris) = scanRoot(root)
      val pinned = live.orElse(newestName(versions))
      RootHealth(root, pinned.getOrElse(""), versions.length,
                 versions.count(v => !pinned.contains(v.getName)), debris.length)
    }

  /** Outcome of one [[vacuumVersionedRoot]] pass. */
  final case class VacuumResult(root: String, keptDead: Int,
                                deletedVersions: Int, sweptDebris: Int)

  /** Drop superseded versions of a staged root, keeping the LIVE symlink
    * target (always — even when it is the oldest directory present) plus
    * the `keep` most-recent dead versions (fast rollback stock).
    *
    * Crash-window discipline (the [[compactPartitioned]] standard): the
    * reuse gate in the writer is `isDirectory(<root>.v<fp>)`, so a
    * half-deleted version dir would be REUSED as if complete — data loss,
    * not just leak. Deletion therefore first renames the condemned dir to
    * `<root>.trash-<uuid>` (atomic, same parent — instantly invisible to
    * the reuse gate and to readers), then deletes contents. A kill at ANY
    * point leaves either an untouched version or a trash dir; the next
    * vacuum sweeps trash unconditionally. The live target itself is never
    * renamed, moved, or entered.
    *
    * `.tmp-*` / `.lnk-*` debris is swept only when older than
    * `debrisGraceMs` — a fresh one belongs to a writer mid-build/mid-flip.
    * `.lnk-*` entries are symlinks INTO the live version: they are
    * unlinked, never recursed into (recursion would follow the link and
    * gut the live data). 100 TB: vacuum is O(versions) renames + deletes
    * of already-dead data, zero reads of live bytes, safe to run
    * concurrently with readers, writers, and other vacuums (lost races
    * surface as benign NoSuchFile/false deletes). */
  def vacuumVersionedRoot(root: String, keep: Int = 1,
                          debrisGraceMs: Long = 3600000L): VacuumResult = {
    import java.nio.file.{Files, StandardCopyOption}
    val (parent, base, live, versions, debris) = scanRoot(root)
    val pinned = live.orElse(newestName(versions))
    val dead = versions.filter(v => !pinned.contains(v.getName))
      .sortBy(v => (-v.lastModified, v.getName))
    val (kept, doomed) = dead.splitAt(keep)
    var deleted = 0
    doomed.foreach { v =>
      val trash = new java.io.File(parent, s"$base.trash-${java.util.UUID.randomUUID()}")
      try {
        Files.move(v.toPath, trash.toPath, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(trash)
        deleted += 1
      } catch { case _: java.nio.file.NoSuchFileException => () } // concurrent vacuum won
    }
    val now = System.currentTimeMillis()
    var swept = 0
    debris.foreach { f =>
      // NOFOLLOW mtime: java.io.File.lastModified follows symlinks, so a
      // FRESH in-flight `.lnk-*` flip link would be judged by its TARGET
      // version dir's (old) mtime and swept mid-flip — failing the
      // writer's atomic rename. The link's OWN age is what grace means.
      val ownMtime = try
        Files.getLastModifiedTime(f.toPath,
          java.nio.file.LinkOption.NOFOLLOW_LINKS).toMillis
      catch { case _: java.io.IOException => now } // vanished → skip sweep
      val sweep = f.getName.startsWith(s"$base.trash-") ||
        now - ownMtime > debrisGraceMs
      // NOFOLLOW existence too: File.exists() follows symlinks, so a
      // DANGLING `.lnk-*` (its target version already vacuumed) would
      // read as absent and leak forever — the link entry itself is what
      // the sweep must test for.
      if (sweep && Files.exists(f.toPath,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        deleteRecursively(f); swept += 1
      }
    }
    VacuumResult(root, kept.length, deleted, swept)
  }

  // ------------------------------------------------------------------
  // Streaming checkpoint / state-store inventory
  // ------------------------------------------------------------------

  /** Health of one streaming query's checkpoint directory — the last
    * unaudited disk-growth vector the bounded-state story had:
    * [[maintenanceReport]] covers tables, [[versionedRootReport]] covers
    * staged roots, and this covers the checkpoint/state-store trees a
    * long-lived streaming deployment accumulates (every stateful query
    * grows `state/` by one delta file per operator × partition × batch
    * until its own maintenance compacts, and an abandoned query's
    * checkpoint leaks forever).
    *
    *  - `latestOffset` / `latestCommit`: the highest batch id written to
    *    `offsets/` vs `commits/`. `inFlight` (offset > commit) after the
    *    query stopped is the mid-batch crash signature — on restart Spark
    *    replays that batch; a checkpoint stuck in-flight with no running
    *    query is the orphan to investigate.
    *  - `stateBytes` / `stateFiles`: recursive size of `state/` — the
    *    measured form of "state is bounded": a stateful query whose
    *    checkpoint grows without bound here contradicts its declared
    *    eviction story regardless of what the plan claims.
    *  - `ageMs`: time since the newest offset/commit write — staleness;
    *    an old checkpoint under a live root is an abandoned run-id. */
  final case class CheckpointHealth(dir: String, latestOffset: Long,
                                    latestCommit: Long, inFlight: Boolean,
                                    stateBytes: Long, stateFiles: Int,
                                    ageMs: Long)

  /** [[CheckpointHealth]] for every streaming-checkpoint-shaped directory
    * under `root` (a checkpoint is recognized by its `offsets/` dir — the
    * one artifact every run writes before anything else). `root` itself is
    * also checked, so both layouts work: one checkpoint per query dir, or
    * a root passed directly. Metadata-only directory walk; no Spark
    * session, safe on every ingest tick. */
  def streamingCheckpointReport(root: String,
                                nowMs: Long = System.currentTimeMillis()): Seq[CheckpointHealth] = {
    val rootFile = new java.io.File(root)
    def isCheckpoint(d: java.io.File): Boolean =
      d.isDirectory && new java.io.File(d, "offsets").isDirectory
    val candidates =
      (if (isCheckpoint(rootFile)) Seq(rootFile) else Seq.empty) ++
        Option(rootFile.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(isCheckpoint).toSeq
    candidates.sortBy(_.getName).map { d =>
      def batches(sub: String): Array[(Long, Long)] =
        Option(new java.io.File(d, sub).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.forall(_.isDigit))
          .map(f => (f.getName.toLong, f.lastModified()))
      val offs = batches("offsets")
      val commits = batches("commits")
      val latestOffset = if (offs.isEmpty) -1L else offs.map(_._1).max
      val latestCommit = if (commits.isEmpty) -1L else commits.map(_._1).max
      var stateBytes = 0L
      var stateFiles = 0
      def walk(f: java.io.File): Unit =
        if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
          if (f.isFile) { stateBytes += f.length(); stateFiles += 1 }
          else Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
        }
      walk(new java.io.File(d, "state"))
      val newest = (offs ++ commits).map(_._2) match {
        case a if a.isEmpty => d.lastModified()
        case a => a.max
      }
      CheckpointHealth(d.getAbsolutePath, latestOffset, latestCommit,
        inFlight = latestOffset > latestCommit,
        stateBytes, stateFiles, math.max(0L, nowMs - newest))
    }
  }

  /** One listing of `root`'s parent → (parent, base, live-target name,
    * version dirs, debris entries). Versions are real directories named
    * `<base>.v*`; debris is `<base>.{tmp,lnk,trash}-*`. */
  private def scanRoot(root: String)
      : (java.io.File, String, Option[String], Array[java.io.File], Array[java.io.File]) = {
    val rootFile = new java.io.File(root).getAbsoluteFile
    val parent = rootFile.getParentFile
    val base = rootFile.getName
    val live =
      if (java.nio.file.Files.isSymbolicLink(rootFile.toPath))
        Some(java.nio.file.Files.readSymbolicLink(rootFile.toPath).toFile.getName)
      else None
    val sibs = Option(parent.listFiles()).getOrElse(Array.empty[java.io.File])
    val versions = sibs.filter(f => f.getName.startsWith(s"$base.v") &&
      f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
    val debris = sibs.filter { f =>
      val n = f.getName
      n.startsWith(s"$base.tmp-") || n.startsWith(s"$base.lnk-") ||
        n.startsWith(s"$base.trash-")
    }
    (parent, base, live, versions, debris)
  }

  private def newestName(versions: Array[java.io.File]): Option[String] =
    versions.sortBy(v => (-v.lastModified, v.getName)).headOption.map(_.getName)

  /** Fast node-local scratch root for PER-RUN ephemeral artifacts on a
    * query's timed path (the z-order/sorted/shard export round trips,
    * which re-write and re-read their layout every invocation by
    * contract): this image's java.io.tmpdir sits on the VM disk, whose
    * small-file latency swings 3–8× between windows (the r14
    * record-window disturbance), while /dev/shm is RAM-backed — the
    * local-mode stand-in for a cluster's NVMe scratch (optimization guide
    * §6). FINGERPRINT-GATED staged roots (media, text formats) stay on
    * java.io.tmpdir: they persist across runs by design and the vacuum
    * tooling audits them there. Override: SPARK_GRAFT_SCRATCH. Resolved
    * once per JVM. */
  lazy val fastScratchRoot: String = sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
    shmIfRoomy("graft_scratch")
      .getOrElse(System.getProperty("java.io.tmpdir")))

  /** /dev/shm as an ephemeral-scratch root, ONLY when it has headroom —
    * the production-shaped form of the r15 fast-scratch defaults (r15
    * VERDICT): tmpfs is RAM, so shuffle spill/checkpoints placed there
    * compete with executor memory exactly when memory is tight, and a
    * small-shm host would hit ENOSPC mid-run. Explicit configuration
    * always wins (SPARK_GRAFT_LOCAL_DIR / SPARK_GRAFT_SCRATCH /
    * graft.stream.checkpointRoot); this fallback picks tmpfs only above a
    * free-space floor, else the caller's durable tmpdir. ON A CLUSTER:
    * point the overrides at node-local NVMe (spark.local.dir guidance,
    * optimization guide §6) — tmpfs is a single-host bench fix, not a
    * fleet default. */
  private[graft] def shmIfRoomy(sub: String,
                                minFreeBytes: Long = 8L << 30): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= minFreeBytes)
      Some(new java.io.File(shm, sub).getPath)
    else None
  }

  /** Bytes under /dev/shm roots this engine creates (graft_local /
    * graft_ckpt / graft_scratch) — the shm twin of [[tmpBytes]], closing
    * the r15 leak-audit gap: ephemeral engine I/O moved to tmpfs, so the
    * leak accounting must watch tmpfs too. */
  def shmBytes(prefix: String = "graft"): Long = {
    val shm = new java.io.File("/dev/shm")
    def size(f: java.io.File): Long =
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(size).sum
      else f.length()
    if (!shm.isDirectory) 0L
    else Option(shm.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(prefix)).map(size).sum
  }

  /** Bytes under `java.io.tmpdir` entries whose name starts with `prefix`,
    * symlink entries counted as zero (a staged root's live symlink and its
    * target version would otherwise double-count). The observability half
    * of the bench's pre-seal hygiene: /tmp bloat from dead versions and
    * abandoned ×10-probe corpora measurably taxed binaryFile-heavy media
    * queries 1.5–2× in round 12's first close run, and a number in the
    * artifact header is what makes that state auditable after the fact. */
  def tmpBytes(prefix: String = "graft"): Long = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def size(f: java.io.File): Long =
      if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(size).sum
      else f.length()
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(prefix)).map(size).sum
  }

  /** Live-probe marker: [[graft.tools.ScaleProbe]] holds this file for its
    * whole run so the bench's pre-seal sweep can TELL "abandoned probe
    * debris" from "a probe is staging its corpus right now" — previously
    * that contract was comment-only and a concurrent sweep would delete a
    * live probe's staged data mid-run. A marker older than 12h is treated
    * as crash debris (the probe also deleteOnExit()s it, but a SIGKILL
    * skips shutdown hooks). */
  private def probeMarker = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_scaleprobe.lock")

  def acquireProbeMarker(): Unit = {
    java.nio.file.Files.write(probeMarker.toPath,
      ProcessHandle.current().pid().toString.getBytes("UTF-8"))
    probeMarker.deleteOnExit()
  }

  def releaseProbeMarker(): Unit = { probeMarker.delete(); () }

  def probeMarkerLive(): Boolean =
    probeMarker.isFile &&
      (System.currentTimeMillis() - probeMarker.lastModified()) < 12L * 3600 * 1000

  /** Sweep abandoned ×10 scale-probe corpora (`graft_scale_x*` temp dirs —
    * [[graft.tools.ScaleProbe]] stages one per multiplier and a crashed or
    * interrupted probe leaves it behind). Returns dirs deleted; -1 when a
    * LIVE probe marker is held (then nothing is swept — deleting a running
    * probe's staged corpus would crash it mid-measurement). */
  def sweepScaleProbeDirs(): Int = {
    if (probeMarkerLive()) return -1
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val probes = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("graft_scale_x") && f.isDirectory)
    probes.foreach(deleteRecursively)
    probes.length
  }

  /** Depth-first delete that NEVER follows symlinks (a stale `.lnk-*`
    * points at the live version — recursing through it would delete live
    * data). Tolerates entries vanishing underneath it (concurrent vacuum). */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath)) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRecursively)
    }
    f.delete(); ()
  }
}
