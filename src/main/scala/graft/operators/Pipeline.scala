package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Warehouse

/** End-to-end training-set export — the composition every operator in the
  * dedup/quality/decontamination family exists to serve, as ONE query:
  *
  *  1. start from the train shard (`doc_id % 10 != 0`; the eval shard is
  *     held out by definition);
  *  2. keep one canonical document per near-dup cluster
  *     ([[Dedup.dedupClusters]] — LSH candidates + exact verification +
  *     connected components, canonical = smallest reachable doc_id);
  *  3. apply the quality floor ([[TextAnalysis.qualityScore]], on the
  *     rounded score so both engines compare identical values);
  *  4. drop benchmark-contaminated documents
  *     ([[Dedup.decontaminationPairs]] — train docs containing ≥ 60% of
  *     any eval doc's n-grams).
  *
  * Every stage is itself an oracle-checked operator, so the composition's
  * oracle is the same CTEs joined — one WITH chain, nested-WITH blocks for
  * the self-contained stages. Output: `(doc_id, quality)` of the export.
  *
  * Scale: the expensive stages — LSH pair generation, connected
  * components, decontamination — run ONCE per corpus state, persisted as
  * fingerprint-gated tables ([[Dedup.ensureClusterLabels]],
  * [[ensureContaminationTable]]); the export itself is a quality scan
  * plus two left-anti joins against those (small) id sets, which AQE
  * broadcasts. At 100 TB an export re-run (new
  * quality floor, restarted job, downstream re-pull) costs a corpus scan,
  * not a dedup-pipeline re-run; a changed corpus fails the fingerprint
  * gate and rebuilds the artifacts. Decontamination inside the artifact
  * build routes through the persisted containment band index
  * ([[Dedup.decontaminationIndexed]]) — the closed-vocab scale path.
  */
object Pipeline {

  /** Build (or fingerprint-validated reuse) the persisted contamination
    * exclusion set `<prefix>_contam(doc_id)`: train documents containing
    * ≥ `contThreshold` of some eval document's distinct n-grams
    * (index-routed containment). The cluster-side exclusion is NOT
    * duplicated here — it reads the shared [[Dedup.ensureClusterLabels]]
    * artifact. Both are independent of the quality floor, so re-exporting
    * at a different floor reuses everything. Returns the table name. */
  def ensureContaminationTable(spark: SparkSession, sfDir: String, n: Int = 3,
                               contThreshold: Double = 0.6): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_export_${sf}_${Warehouse.pathToken(sfDir)}" +
      s"_n${n}c${(contThreshold * 100).round}_contam"
    // full-precision params in the fingerprint; the name's rounded form is
    // readability only (see Warehouse.ensureDerivedTables)
    val fp = Warehouse.sourceFingerprint(sfDir, "documents") + s"|n${n}c$contThreshold"
    Warehouse.ensureDerivedTables(spark, Seq(table), fp) {
      val contaminated = Dedup.decontaminationIndexedUnordered(spark, sfDir, n, contThreshold)
        .select(col("train_id").as("doc_id"))
        .distinct()
      Warehouse.writeBucketed(contaminated, Seq("doc_id"), table, 8)
    }
    table
  }

  /** The export row set `(doc_id, quality)` without the presentation sort
    * — the form downstream compositions ([[exportShards]]) consume. */
  private[graft] def exportUnordered(spark: SparkSession, sfDir: String,
                                     qualityMin: Double): DataFrame = {
    val labelsTable = Dedup.ensureClusterLabels(spark, sfDir)
    val contamTable = ensureContaminationTable(spark, sfDir)
    // Non-canonical = labeled with a smaller reachable doc_id — a filter
    // over the (tiny) persisted label table, not a recomputed CC run.
    val nonCanonical = spark.table(labelsTable)
      .filter(col("l") =!= col("v"))
      .select(col("v").as("doc_id"))
    TextAnalysis.qualityUnordered(spark, sfDir)
      .filter(col("doc_id") % 10 =!= 0)
      .filter(col("quality") >= qualityMin)
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .join(spark.table(contamTable), Seq("doc_id"), "left_anti")
  }

  def corpusExport(spark: SparkSession, sfDir: String,
                   qualityMin: Double = 0.7): DataFrame =
    exportUnordered(spark, sfDir, qualityMin).orderBy("doc_id")

  /** RELEASE waterfall REPORT — the audit table a data release ships with:
    * the export gauntlet ([[exportUnordered]]: eval holdout → quality
    * floor → near-dup canonical → decontamination) re-expressed as one
    * row per gate with in/dropped/out counts and the drop rate, applied
    * SEQUENTIALLY so each stage's numbers describe the survivors of the
    * previous one (the waterfall a reviewer reads to see WHERE the corpus
    * went — "dedup cost 8%, decontamination 0.3%" — and the first thing a
    * regression in any gate shows up in). The final n_out is exactly
    * `corpus_export`'s row count, spec-asserted.
    *
    * 100 TB: per-doc gate flags come from the same persisted artifacts the
    * export reads (label + contamination tables joined on doc_id — no
    * pipeline re-run), reduced by ONE conditional aggregate to a single
    * row; the 4-row waterfall is driver-trivial arithmetic over it. */
  def releaseReport(spark: SparkSession, sfDir: String,
                    qualityMin: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.Column
    import graft.functions.NumericFunctions.duckRound
    val labelsTable = Dedup.ensureClusterLabels(spark, sfDir)
    val contamTable = ensureContaminationTable(spark, sfDir)
    val nonCanonical = spark.table(labelsTable)
      .filter(col("l") =!= col("v"))
      .select(col("v").as("doc_id"), lit(1).as("nc"))
    val contam = spark.table(contamTable)
      .select(col("doc_id"), lit(1).as("ct"))
    val flags = TextAnalysis.qualityUnordered(spark, sfDir)
      .select(col("doc_id"), col("quality"))
      .join(nonCanonical, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(
        when(col("doc_id") % 10 =!= 0, 1L).otherwise(0L).as("t"),
        when(col("quality") >= qualityMin, 1L).otherwise(0L).as("pq"),
        when(col("nc").isNull, 1L).otherwise(0L).as("cn"),
        when(col("ct").isNull, 1L).otherwise(0L).as("cl"))
    val agg = flags.agg(
      count(lit(1)).as("n0"),
      sum(col("t")).as("n1"),
      sum(col("t") * col("pq")).as("n2"),
      sum(col("t") * col("pq") * col("cn")).as("n3"),
      sum(col("t") * col("pq") * col("cn") * col("cl")).as("n4"))
    def stage(no: Int, name: String, nin: Column, nout: Column): Column =
      struct(lit(no.toLong).as("stage_no"), lit(name).as("stage"),
        nin.as("n_in"), (nin - nout).as("n_dropped"), nout.as("n_out"),
        when(nin === 0, lit(0.0))
          .otherwise(duckRound((nin - nout).cast("double") / nin.cast("double"), 4))
          .as("drop_rate"))
    agg.select(explode(array(
        stage(1, "eval_holdout", col("n0"), col("n1")),
        stage(2, "quality_floor", col("n1"), col("n2")),
        stage(3, "dedup_canonical", col("n2"), col("n3")),
        stage(4, "decontamination", col("n3"), col("n4")))).as("s"))
      .select("s.*")
      .orderBy("stage_no")
  }

  /** SEQUENCE PACKING over the EXPORTED corpus — the last mile of the
    * pretraining pipeline: `pack_sequences`' concatenate-and-chunk layout
    * applied to the documents that actually survive the export gauntlet
    * (train shard → canonical per near-dup cluster → quality floor →
    * decontamination). The composition matters because packing is
    * position-sensitive: removing one duplicate upstream shifts every
    * later document's sequence range in its language stream, so "pack the
    * clean corpus" CANNOT be derived from "pack the raw corpus" + a
    * filter — it must be recomputed over the surviving set, which is what
    * an end-to-end oracle here proves correct.
    *
    * 100 TB: the survivors come from the persisted export artifacts (two
    * left-anti joins, no pipeline re-run); packing is the same one
    * per-lang window as `pack_sequences` over the smaller exported frame. */
  def exportPack(spark: SparkSession, sfDir: String, budget: Int = 2048,
                 qualityMin: Double = 0.7): DataFrame = {
    import graft.functions.TextFunctions.bpeTokenCount
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), bpeTokenCount(col("text")).as("n_tokens"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
    exportUnordered(spark, sfDir, qualityMin)
      .select("doc_id")
      .join(docs, Seq("doc_id"))
      .filter(col("n_tokens") > 0)
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("start_seq"),
        expr(s"(cum - 1) div $budget").as("end_seq"))
      .withColumn("n_seqs", col("end_seq") - col("start_seq") + 1)
      .orderBy("lang", "doc_id")
  }

  /** EXPORT MANIFEST — the integrity stamp the export handoff ships: per
    * deterministic shard, the doc count, token mass, and an order-
    * independent CONTENT SIGNATURE a consumer re-computes from delivered
    * files to prove it received exactly the export — no silent partial
    * copy, no mixed versions (the checksum-manifest pattern every dataset
    * distribution uses). The signature is `bit_xor` over a 60-bit md5
    * digest of each doc_id: an id-SET function (any partitioning, arrival
    * order, or rewrite of the same export re-derives it bit-identically)
    * whose aggregation state is ONE long per shard — a previous form
    * sorted and concatenated the full per-shard id list, i.e. corpus/16
    * ids in a single aggregation buffer, which is exactly the unbounded
    * per-group memory a 100 TB export cannot grant. XOR cancels only on a
    * REPEATED id, and shard members are distinct by construction
    * (`doc_id mod nShards`); a dropped id flips the signature, a swapped
    * pair flips it twice differently — with n_docs alongside, any
    * partial/mixed delivery surfaces.
    *
    * 100 TB: one shuffle on the shard key; bit_xor partial-aggregates
    * map-side, so the shuffle carries nShards longs per partition. */
  def exportManifest(spark: SparkSession, sfDir: String, nShards: Int = 16,
                     qualityMin: Double = 0.7): DataFrame = {
    import graft.functions.TextFunctions.bpeTokenCount
    val toks = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), bpeTokenCount(col("text")).as("bpe_tokens"))
    exportUnordered(spark, sfDir, qualityMin)
      .select("doc_id")
      .join(toks, Seq("doc_id"))
      .withColumn("shard", col("doc_id") % nShards)
      // 60-bit prefix of md5(doc_id): 15 hex chars keep conv() exact and
      // the value positive in a BIGINT on both engines
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
           sum("bpe_tokens").as("total_tokens"),
           expr("bit_xor(h)").as("doc_signature"))
      .orderBy("shard")
  }

  /** Shard accounting for the export — the handoff to a trainer's data
    * loader: every exported document lands in a deterministic shard
    * (`doc_id mod nShards`, stable under re-export and shard-count-
    * independent of cluster layout), and each shard reports its document
    * count, total token budget and mean quality. At 100 TB this frame is
    * what the writer uses to emit one file group per shard and what the
    * training job reads to plan its epoch; the aggregation is one shuffle
    * over nShards groups. */
  def exportShards(spark: SparkSession, sfDir: String, nShards: Int = 16,
                   qualityMin: Double = 0.7): DataFrame = {
    import graft.functions.TextFunctions.bpeTokenCount
    import graft.functions.NumericFunctions.duckRound
    val tokens = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), bpeTokenCount(col("text")).as("bpe_tokens"))
    exportUnordered(spark, sfDir, qualityMin)
      .join(tokens, Seq("doc_id"))
      .groupBy((col("doc_id") % nShards).as("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum("bpe_tokens").as("total_tokens"),
           duckRound(avg("quality"), 4).as("avg_quality"))
      .orderBy("shard")
  }

  /** WRITE the export as real per-shard parquet file groups — the step
    * [[exportShards]] only accounts for: one directory per shard
    * (`shard=<n>/`), each holding exactly ONE file, carrying
    * `(doc_id, quality, text, bpe_tokens)` — what a training data loader
    * streams per worker. `repartition` on the shard column puts each
    * shard's rows wholly in one task, so the dynamic-partitioned write
    * emits one file per directory (the [[Warehouse.compactPartitioned]]
    * argument); at 100 TB you'd repartition on (shard, file_seq) to bound
    * file sizes, which only multiplies files per directory, never
    * cross-shard reads. */
  def writeExportShards(spark: SparkSession, sfDir: String, outDir: String,
                        nShards: Int = 16, qualityMin: Double = 0.7): Unit = {
    import graft.functions.TextFunctions.bpeTokenCount
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), bpeTokenCount(col("text")).as("bpe_tokens"))
    exportUnordered(spark, sfDir, qualityMin)
      .join(docs, Seq("doc_id"))
      .withColumn("shard", col("doc_id") % nShards)
      .repartition(col("shard"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard").parquet(outDir)
  }

  /** Range-bucketed SORTED export of the event log — the time-ordered file
    * layout a 100 TB event store ships with (range pruning: a time-window
    * read opens only the files whose [min,max] overlap). Spark's own
    * `repartitionByRange` draws its boundaries from a reservoir SAMPLE —
    * nondeterministic run to run — so the boundaries here come instead
    * from the [[Analytics.quantileSketch]] discipline: a `bins`-bin
    * integer histogram (two tiny aggregates + a ≤bins-row cumulative
    * window), cut at ceil(k·n/B) ranks. Deterministic, mergeable at any
    * executor count, and exactly replayable in SQL — which is what makes
    * a WRITTEN layout oracle-checkable at all.
    *
    * Each bucket lands as one sorted parquet file group
    * (`bucket=<k>/`): rows shuffle ONCE on the bucket id, sort locally
    * per task (the distributed-total-sort shape — no single-partition
    * global window), and the report is recomputed FROM THE FILES, so the
    * gate checks the bytes on disk. Equal-width fine bins degrade under
    * extreme key skew (mass collapsing into one bin caps the split
    * resolution); event time is near-uniform, and at 100 TB the fix is
    * more bins (the histogram stays ≤bins rows regardless of data mass),
    * not a different algorithm. */
  def writeSortedExport(spark: SparkSession, sfDir: String, outDir: String,
                        buckets: Int = 8, bins: Int = 1024): Unit = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
              unix_micros(col("ts")).as("ts_us"))
    val bounds = ev.agg(min("ts_us").as("mn"), max("ts_us").as("mx"),
                        count(lit(1)).as("n"))
    val binned = ev.crossJoin(broadcast(bounds))
      .withColumn("bin", expr(s"(ts_us - mn) * $bins div (mx - mn + 1)"))
    val hist = binned.groupBy("bin", "n").agg(count(lit(1)).as("cnt"))
    val withCum = hist.withColumn("cum",
      sum("cnt").over(org.apache.spark.sql.expressions.Window.orderBy("bin")))
    val cuts = withCum
      .join(broadcast((1 until buckets).toDF("k")),
            col("cum") >= expr(s"(k * n + ${buckets - 1}) div $buckets"))
      .groupBy("k").agg(min("bin").as("cut"))
      .agg(sort_array(collect_list("cut")).as("cuts"))
    binned.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        size(filter(col("cuts"), c => col("bin") >= c)).cast("bigint"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
              col("ts_us"), col("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "ts_us", "event_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(outDir)
  }

  /** CDC MERGE — `MERGE INTO snapshot USING changelog` re-expressed
    * Spark-first: upserts and deletes from a keyed changelog applied over
    * a persisted snapshot in ONE full-outer join pass (match+D drops the
    * row, match+U takes the changelog values, unmatched-I inserts,
    * everything else keeps the snapshot row). The snapshot is a
    * fingerprint-gated BUCKETED table on the merge key, so the big side
    * of the join never shuffles (plan-asserted zero store-side Exchange
    * — the [[graft.operators.IncrementalDedup]] discipline); only the
    * changelog, sized by the delta not the corpus, repartitions to the
    * bucket layout. At 100 TB that asymmetry IS the operator: a merge
    * that re-shuffles the snapshot is a rewrite of the warehouse.
    *
    * The testdata ships no CDC feed, so the changelog derives
    * deterministically from the source (the `dedup_url` synthetic-
    * derivation convention): keys ≡5 (mod 13) delete, remaining keys
    * ≡3 (mod 7) update (price +100 cents), keys ≡2 (mod 11) insert as
    * fresh keys offset past max. Money is integer cents throughout
    * (the quantile_sketch discipline). Output: per-status accounting of
    * the MERGED state — row count, rows-from-changelog, cents sum — so
    * the oracle checks the merge's effect, not just its row count. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val snapTable = s"graft_orders_snap_${Warehouse.pathToken(sfDir)}"
    val fp = Warehouse.sourceFingerprint(sfDir, "orders")
    val base = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice") * 100).cast("long").as("snap_cents"))
    Warehouse.ensureDerivedTables(spark, Seq(snapTable), fp) {
      Warehouse.writeBucketed(base, Seq("o_orderkey"), snapTable, 8)
    }
    val mx = base.agg(max("o_orderkey").as("mxk"))
    val chg = base.filter(col("o_orderkey") % 13 === 5)
      .select(col("o_orderkey"), lit("D").as("op"),
              col("o_orderstatus").as("chg_status"), col("snap_cents").as("chg_cents"))
      .unionByName(base
        .filter(col("o_orderkey") % 13 =!= 5 && col("o_orderkey") % 7 === 3)
        .select(col("o_orderkey"), lit("U").as("op"),
                col("o_orderstatus").as("chg_status"),
                (col("snap_cents") + 100).as("chg_cents")))
      .unionByName(base.filter(col("o_orderkey") % 11 === 2)
        .crossJoin(broadcast(mx))
        .select((col("o_orderkey") + col("mxk")).as("o_orderkey"), lit("I").as("op"),
                col("o_orderstatus").as("chg_status"), col("snap_cents").as("chg_cents")))
    applyChangelog(spark.table(snapTable), chg)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
           sum(col("from_chg").cast("long")).as("n_from_changelog"),
           sum("cents").as("sum_cents"))
      .orderBy("o_orderstatus")
  }

  /** The one-pass merge core over explicit frames:
    * `snap(o_orderkey, o_orderstatus, snap_cents)` merged with
    * `chg(o_orderkey, op ∈ D|U|I, chg_status, chg_cents)` → the merged
    * row set `(o_orderkey, o_orderstatus, cents, from_chg)`. Changelog
    * values are ABSOLUTE (not increments), which is what makes a replayed
    * changelog idempotent — re-applying yields the same state
    * (spec-asserted), the property a crash-retried CDC consumer needs. */
  def applyChangelog(snap: DataFrame, chg: DataFrame): DataFrame =
    snap.join(chg, Seq("o_orderkey"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("o_orderkey"),
              coalesce(col("chg_status"), col("o_orderstatus")).as("o_orderstatus"),
              coalesce(col("chg_cents"), col("snap_cents")).as("cents"),
              col("op").isNotNull.as("from_chg"))

  /** INCREMENTAL VIEW MAINTENANCE — the third member of the CDC family
    * ([[mergeUpsert]] keeps latest state, [[scd2History]] keeps history;
    * this keeps a derived AGGREGATE current): a persisted per-customer
    * order aggregate `(o_custkey, n_orders, sum_cents)` maintained from a
    * changelog by DELTA APPLICATION, never recomputed from the fact table.
    * Algebraic aggregates are delta-maintainable: each change contributes
    * `(key, ±1, ±cents)` partials (D negates the before-image, U
    * contributes the increment, I the after-image); partials aggregate at
    * O(|delta|) and merge into the view in one full-outer join. The view
    * is a fingerprint-gated table BUCKETED on the group key, so the big
    * side never shuffles (plan-asserted; the [[mergeUpsert]] asymmetry) —
    * at 100 TB the maintenance cost tracks the CHANGE RATE, not the
    * corpus, which is the entire point of IVM. Groups whose count reaches
    * zero leave the view, and delta-produced NEW groups enter through the
    * join's unmatched side.
    *
    * Honesty note vs [[applyChangelog]]: increments are NOT idempotent —
    * replaying a delta double-applies it. A production feed pairs this
    * with exactly-once delivery or a ledger of applied sequence numbers
    * (the [[graft.operators.IncrementalDedup]] `_sizes` discipline); the
    * absolute-valued MERGE is the replay-safe sibling. The changelog here
    * derives deterministically from the source (the [[mergeUpsert]]
    * convention, same mod classes) with before-images carried on D/U rows
    * as a Debezium-style feed would. */
  def aggIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val viewTable = s"graft_custagg_snap_${Warehouse.pathToken(sfDir)}"
    val fp = Warehouse.sourceFingerprint(sfDir, "orders")
    val base = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
              round(col("o_totalprice") * 100).cast("long").as("cents"))
    Warehouse.ensureDerivedTables(spark, Seq(viewTable), fp) {
      Warehouse.writeBucketed(
        base.groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents")),
        Seq("o_custkey"), viewTable, 8)
    }
    val mxc = base.agg(max("o_custkey").as("mxc"))
    val deltas = base.filter(col("o_orderkey") % 13 === 5)
        .select(col("o_custkey"), lit(-1L).as("dn"), (-col("cents")).as("dc"))
      .unionByName(base
        .filter(col("o_orderkey") % 13 =!= 5 && col("o_orderkey") % 7 === 3)
        .select(col("o_custkey"), lit(0L).as("dn"), lit(100L).as("dc")))
      .unionByName(base.filter(col("o_orderkey") % 11 === 2)
        .crossJoin(broadcast(mxc))
        .select((col("o_custkey") + col("mxc")).as("o_custkey"),
                lit(1L).as("dn"), col("cents").as("dc")))
    applyAggDelta(spark.table(viewTable),
        deltas.groupBy("o_custkey").agg(sum("dn").as("dn"), sum("dc").as("dc")))
      .orderBy("o_custkey")
  }

  /** The IVM merge core over explicit frames: view
    * `(o_custkey, n_orders, sum_cents)` + aggregated delta partials
    * `(o_custkey, dn, dc)` → the maintained view. One full-outer join:
    * matched groups add increments, unmatched-delta groups insert,
    * count-zero groups drop. */
  def applyAggDelta(view: DataFrame, partials: DataFrame): DataFrame =
    view.join(partials, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        (coalesce(col("sum_cents"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sum_cents"))
      .filter(col("n_orders") > 0)

  /** SCD TYPE-2 derivation — the other half of the CDC family next to
    * [[mergeUpsert]]: where MERGE keeps only the LATEST state, a type-2
    * dimension keeps every version with its validity interval. The event
    * stream is read as a change feed of each user's tracked attribute
    * (`event_type`); consecutive duplicates collapse (a change record that
    * doesn't change anything creates no version — the SCD2 contract), and
    * each surviving version gets `[valid_from, valid_to)` from its own and
    * its successor's change time, open (`valid_to` null) for the current
    * version.
    *
    * Scale shape: BOTH window passes (change-collapse `lag`, interval
    * `lead`) partition by `user_id`, so Catalyst plans ONE Exchange and
    * reuses the partitioning for the second sort — history derivation at
    * 100 TB is one shuffle of the change feed, never a self-join. Interval
    * arithmetic is integer µs (the quantile_sketch discipline), so the
    * differential check is exact. Output: per-attribute version
    * accounting — versions, open versions, closed-interval dwell total. */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame =
    scd2Versions(graft.sources.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_versions"),
           sum(when(col("valid_to_us").isNull, 1L).otherwise(0L)).as("n_current"),
           sum(when(col("valid_to_us").isNull, 0L)
             .otherwise(col("valid_to_us") - col("valid_from_us"))).as("dwell_us"))
      .orderBy("event_type")

  /** The SCD2 core over an explicit change feed
    * `(user_id, event_id, ts, event_type)` → version rows
    * `(user_id, event_id, event_type, valid_from_us, valid_to_us)` with
    * half-open µs validity and null `valid_to_us` on the current version.
    * Both windows key on `user_id` with `event_id` tie-breaks, so version
    * derivation is deterministic and single-shuffle (plan-asserted). */
  def scd2Versions(changeFeed: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changeFeed
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("event_id"),
              unix_micros(col("ts")).as("valid_from_us"), col("event_type"))
      .withColumn("valid_to_us", lead("valid_from_us", 1).over(
        Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")))
  }

  /** Z-ORDER (Morton-curve) export of the event log — the
    * MULTI-dimensional file-pruning layout [[writeSortedExport]]'s
    * one-key sort can't provide: a time-sorted store prunes time
    * predicates but every file spans all users; interleaving the bits of
    * BOTH dims' rank-quantized cells makes each written bucket an aligned
    * rectangle of (time, user) space, so a reader consulting per-file
    * min/max prunes on EITHER dim or both (the Delta/Iceberg OPTIMIZE
    * ZORDER layout, built from first principles).
    *
    * Each dim maps to a `2^dimBits`-cell equal-MASS grid via the same
    * deterministic fine-histogram cuts the sorted export uses (≤1024-row
    * sketch state per dim at any data mass — never a global sort); the
    * Morton code interleaves the two cell numbers bit by bit and the top
    * 4 interleaved bits pick one of 16 buckets, so every bucket is
    * exactly one cell of the 4×4 (dim-quartile × dim-quartile) grid.
    * Rows shuffle ONCE on the bucket id and sort locally by full Morton
    * code (within-file locality for finer-grained page pruning).
    * Equal-mass cells per dim do NOT guarantee equal-mass quadrants
    * under cross-dim correlation (a diagonal ridge piles into diagonal
    * quadrants); event time × user id is uncorrelated, and the honest
    * contract is the rectangle property, not balance. */
  def writeZorderExport(spark: SparkSession, sfDir: String, outDir: String,
                        dimBits: Int = 4, bins: Int = 1024): Unit = {
    require(dimBits >= 2 && dimBits <= 8,
      s"zorder needs 2 <= dimBits <= 8 (bucket = top 4 interleaved bits), got $dimBits")
    import spark.implicits._
    val cells = 1 << dimBits
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id").cast("long").as("uid"),
              col("event_type"), col("value"),
              unix_micros(col("ts")).as("ts_us"))
    // per-dim deterministic rank cuts: fine equal-width histogram →
    // cumulative mass → boundary fine-bin at each ceil(k·n/cells) rank
    def dimCuts(dim: String, cutsName: String): DataFrame = {
      val bounds = ev.agg(min(dim).as("mn"), max(dim).as("mx"),
                          count(lit(1)).as("n"))
      val binned = ev.crossJoin(broadcast(bounds))
        .withColumn("bin", expr(s"($dim - mn) * $bins div (mx - mn + 1)"))
      val hist = binned.groupBy("bin", "n").agg(count(lit(1)).as("cnt"))
      hist.withColumn("cum",
          sum("cnt").over(org.apache.spark.sql.expressions.Window.orderBy("bin")))
        .join(broadcast((1 until cells).toDF("k")),
              col("cum") >= expr(s"(k * n + ${cells - 1}) div $cells"))
        .groupBy("k").agg(min("bin").as("cut"))
        .agg(sort_array(collect_list("cut")).as(cutsName))
    }
    val tCuts = dimCuts("ts_us", "tcuts")
    val uCuts = dimCuts("uid", "ucuts")
    val bounds = ev.agg(min("ts_us").as("tmn"), max("ts_us").as("tmx"),
                        min("uid").as("umn"), max("uid").as("umx"))
    val celled = ev.crossJoin(broadcast(bounds))
      .crossJoin(broadcast(tCuts)).crossJoin(broadcast(uCuts))
      .withColumn("tbin", expr(s"(ts_us - tmn) * $bins div (tmx - tmn + 1)"))
      .withColumn("ubin", expr(s"(uid - umn) * $bins div (umx - umn + 1)"))
      .withColumn("tc", size(filter(col("tcuts"), c => col("tbin") >= c)))
      .withColumn("uc", size(filter(col("ucuts"), c => col("ubin") >= c)))
    // Morton code: time bits odd positions, user bits even — z is what the
    // within-file sort orders by; the bucket is its top 4 bits
    val z = (0 until dimBits).map { k =>
      shiftleft(shiftright(col("tc"), k).bitwiseAND(lit(1)), 2 * k + 1) +
        shiftleft(shiftright(col("uc"), k).bitwiseAND(lit(1)), 2 * k)
    }.reduce(_ + _)
    celled
      .withColumn("z", z.cast("long"))
      .withColumn("bucket", expr(s"z div ${1 << (2 * dimBits - 4)}"))
      .select(col("event_id"), col("uid").as("user_id"), col("event_type"),
              col("value"), col("ts_us"), col("z"), col("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "z", "event_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(outDir)
  }

  /** Driver-contract round trip of [[writeZorderExport]]: write the
    * Morton-bucketed layout, then recompute the per-bucket accounting
    * FROM THE FILES — count plus [min,max] of BOTH pruning dims, the
    * metadata a two-dimensional file skip consults. The oracle replays
    * both dims' histogram cuts and the bit interleave in SQL, so the
    * rectangle assignment itself is checked against the bytes on disk. */
  def exportZorder(spark: SparkSession, sfDir: String,
                   dimBits: Int = 4, bins: Int = 1024): DataFrame = {
    val out = new java.io.File({ val r = Warehouse.fastScratchRoot; new java.io.File(r).mkdirs(); r },
      s"graft_zorder_${Warehouse.pathToken(sfDir)}_d${dimBits}x$bins").getPath
    writeZorderExport(spark, sfDir, out, dimBits, bins)
    graft.sources.Tables.parquet(spark, out)
      .groupBy(col("bucket").cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
           min("ts_us").as("min_ts"), max("ts_us").as("max_ts"),
           min("user_id").cast("bigint").as("min_user"),
           max("user_id").cast("bigint").as("max_user"))
      .orderBy("bucket")
  }

  /** Z-ORDER FILE-SKIPPING REPORT — the measurement that justifies
    * [[writeZorderExport]]'s layout: for a fixed probe set of rectangle
    * predicates (equal-width time quarters, user quarters, and their
    * conjunctions — bounds derived from the data, no constants to drift),
    * consult the per-bucket [min,max] statistics READ FROM THE WRITTEN
    * FILES (exactly what a Delta/Iceberg reader consults) and count the
    * buckets a min/max pruner must scan vs the rows that actually match.
    * The claim under test is the one a single-key sort cannot make: a
    * time-only predicate AND a user-only predicate BOTH prune (each
    * dimension's quartile bands are rectangles in the Morton grid), and
    * the conjunction prunes multiplicatively. Spec-gated; the oracle
    * replays bucket assignment + bbox intersection + true selectivity in
    * SQL, so the pruning arithmetic itself is hash-checked.
    *
    * 100 TB: the stats side is |buckets| rows (file-footer metadata); the
    * row-truth side is one predicate-exploded scan (|preds|×) that exists
    * only to PROVE selectivity — a production pruner reads the stats
    * table alone. */
  def zorderSkipping(spark: SparkSession, sfDir: String,
                     dimBits: Int = 4, bins: Int = 1024): DataFrame = {
    import spark.implicits._
    val out = new java.io.File({ val r = Warehouse.fastScratchRoot; new java.io.File(r).mkdirs(); r },
      s"graft_zorder_${Warehouse.pathToken(sfDir)}_d${dimBits}x$bins").getPath
    writeZorderExport(spark, sfDir, out, dimBits, bins)
    val stats = graft.sources.Tables.parquet(spark, out)
      .groupBy("bucket")
      .agg(min("ts_us").as("bmin_ts"), max("ts_us").as("bmax_ts"),
           min(col("user_id")).as("bmin_u"), max(col("user_id")).as("bmax_u"))
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id").cast("long").as("uid"),
              unix_micros(col("ts")).as("ts_us"))
    val bounds = ev.agg(min("ts_us").as("tmn"), max("ts_us").as("tmx"),
                        min("uid").as("umn"), max("uid").as("umx"))
    // (name, time-quarter or -1, user-quarter or -1); -1 = unconstrained
    val preds = Seq(
      ("t_q1", 0, -1), ("t_q3", 2, -1),
      ("u_q1", -1, 0), ("u_q3", -1, 2),
      ("tu_q11", 0, 0), ("tu_q33", 2, 2)).toDF("pred", "tq", "uq")
    val withRanges = broadcast(preds).crossJoin(broadcast(bounds))
      .withColumn("tlo", expr("tmn + (tmx - tmn + 1) * tq div 4"))
      .withColumn("thi", expr("tmn + (tmx - tmn + 1) * (tq + 1) div 4"))
      .withColumn("ulo", expr("umn + (umx - umn + 1) * uq div 4"))
      .withColumn("uhi", expr("umn + (umx - umn + 1) * (uq + 1) div 4"))
    val scanned = stats.crossJoin(withRanges)
      .withColumn("scan",
        (col("tq") === -1 || !(col("bmax_ts") < col("tlo") || col("bmin_ts") >= col("thi"))) &&
        (col("uq") === -1 || !(col("bmax_u") < col("ulo") || col("bmin_u") >= col("uhi"))))
      .groupBy("pred")
      .agg(count(lit(1)).as("n_buckets"),
           sum(when(col("scan"), 1L).otherwise(0L)).as("buckets_scanned"))
    val matched = ev.crossJoin(withRanges)
      .filter((col("tq") === -1 || (col("ts_us") >= col("tlo") && col("ts_us") < col("thi"))) &&
              (col("uq") === -1 || (col("uid") >= col("ulo") && col("uid") < col("uhi"))))
      .groupBy("pred").agg(count(lit(1)).as("rows_matched"))
    scanned.join(matched, Seq("pred"), "left")
      .na.fill(0L, Seq("rows_matched"))
      .orderBy("pred")
  }

  /** Driver-contract round trip of [[writeSortedExport]]: write the sorted
    * range buckets, then recompute the per-bucket accounting FROM THE
    * FILES — count and [min,max] key range per bucket, the exact metadata
    * a range-pruning reader consults. The oracle replays the histogram
    * cuts in SQL, so disjointness AND the balanced split are checked
    * against the bytes on disk. */
  def exportSorted(spark: SparkSession, sfDir: String,
                   buckets: Int = 8, bins: Int = 1024): DataFrame = {
    val out = new java.io.File({ val r = Warehouse.fastScratchRoot; new java.io.File(r).mkdirs(); r },
      s"graft_sorted_${Warehouse.pathToken(sfDir)}_b${buckets}x$bins").getPath
    writeSortedExport(spark, sfDir, out, buckets, bins)
    graft.sources.Tables.parquet(spark, out)
      .groupBy(col("bucket").cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
           min("ts_us").as("min_ts"), max("ts_us").as("max_ts"))
      .orderBy("bucket")
  }

  /** SNAPSHOT DIFF — the INVERSE of the CDC family: [[mergeUpsert]] turns a
    * changelog into state, [[scd2History]] into history, [[aggIncremental]]
    * into a maintained view; this DERIVES the changelog from two corpus
    * snapshots when no feed exists (the common case for crawled/vendored
    * corpora: you get a new drop, not a diff). State B derives
    * deterministically from the fixture (the [[mergeUpsert]] mod-class
    * convention): `doc_id % 13 == 5` removed, else `% 7 == 3` revised
    * (text + " (rev2)"), `% 11 == 2` additionally re-added past max id.
    *
    * Mechanics: each side collapses to `(doc_id, md5(text))` IN THE SCAN
    * PROJECTION, the full-outer join compares 16-byte digests, and only
    * non-`unchanged` rows survive. At 100 TB the join shuffles
    * id+fingerprint pairs — never document bodies — and with both
    * snapshots bucketed on doc_id (the warehouse layout) it is
    * shuffle-free; output size tracks the CHANGE RATE. Changed docs are
    * detected by content, so a bit-identical re-crawl costs nothing
    * downstream (the diff is empty ⇒ every fingerprint-gated artifact
    * stays valid). */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val a = docs.select(col("doc_id"), md5(col("text")).as("sig_a"))
    val mx = docs.agg(max("doc_id").as("mxk"))
    val b = docs.filter(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 3, concat(col("text"), lit(" (rev2)")))
              .otherwise(col("text"))).as("sig_b"))
      .unionByName(docs.filter(col("doc_id") % 11 === 2)
        .crossJoin(broadcast(mx))
        .select((col("doc_id") + col("mxk")).as("doc_id"),
                md5(col("text")).as("sig_b")))
    diffFingerprints(a, b)
  }

  /** The digest-compare core over explicit `(doc_id, sig_a)` / `(doc_id,
    * sig_b)` fingerprint frames (spec entry point). */
  private[graft] def diffFingerprints(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("sig_a").isNull, lit("added"))
          .when(col("sig_b").isNull, lit("removed"))
          .when(col("sig_a") =!= col("sig_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
      .orderBy("doc_id")

  /** DETERMINISTIC TRAINING SHUFFLE: the reproducible global permutation a
    * training run needs — every epoch's read order derivable from
    * `(epoch, doc_id)` alone, no materialized permutation, no RNG state.
    * Two hash roles, deliberately different:
    *   - shard assignment: a Knuth multiplicative hash on the id
    *     (`(doc_id·2654435761 + epoch) mod 2³² mod nShards`) — pure integer
    *     codegen arithmetic, no string materialization where the
    *     partitioner runs (at real scale this is xxhash64; the 2³²
    *     mix keeps the oracle in exact BIGINT range);
    *   - within-shard order: md5 of `"epoch:doc_id"` — a collision-resistant
    *     order key, so the order is indistinguishable from random but
    *     bit-reproducible on both engines.
    * The window is per-shard (`row_number` PARTITION BY shard), so the sort
    * parallelizes across shards — there is NO global row_number (a
    * single-partition window is the classic 100 TB trap). A data-parallel
    * trainer with `nShards` readers consumes shard s in pos order; the
    * interleaved global order is (pos, shard) round-robin by construction.
    * Changing `epoch` re-deals both hashes — a fresh shuffle per epoch
    * with zero state carried between epochs. */
  /** LEAKAGE-SAFE train/val/test SPLIT — the assignment every evaluation
    * pipeline needs but a naive per-document hash gets WRONG: hashing
    * doc_id puts a document and its near-duplicate in different splits,
    * and the model "generalizes" to test items it effectively saw in
    * training (the within-corpus cousin of decontamination). The fix:
    * assign by near-dup CLUSTER — hash the cluster's canonical id (the
    * persisted [[Dedup.ensureClusterLabels]] table, so the split rides
    * the same label artifact every cluster consumer uses) and give every
    * member the canonical's verdict: 80/10/10 by `md5(canonical) mod 10`.
    * By construction no cluster straddles a split boundary — spec-gated
    * on the fixture's planted near-dups.
    *
    * Determinism across engines: the hash is the 60-bit md5 prefix parsed
    * to a long (the export_manifest convention) — content-derived, so the
    * split is stable under re-ingestion order, corpus growth only moves
    * NEW clusters. 100 TB: one label-table join + scan-side hash
    * arithmetic; no shuffle beyond the label join. */
  def leakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = spark.table(Dedup.ensureClusterLabels(spark, sfDir))
    graft.sources.Tables.documents(spark, sfDir).select("doc_id")
      .join(labels, col("doc_id") === col("v"), "left")
      .select(col("doc_id"), coalesce(col("l"), col("doc_id")).as("cluster_id"))
      .withColumn("h",
        pmod(conv(substring(md5(col("cluster_id").cast("string")), 1, 15), 16, 10)
          .cast("bigint"), lit(10L)))
      .select(col("doc_id"), col("cluster_id"),
        when(col("h") <= 7, lit("train"))
          .when(col("h") === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy("doc_id")
  }

  def trainShuffle(spark: SparkSession, sfDir: String,
                   nShards: Int = 8, epoch: Int = 17): DataFrame = {
    val keyed = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        pmod(pmod(col("doc_id") * lit(2654435761L) + lit(epoch.toLong),
                  lit(4294967296L)), lit(nShards.toLong)).cast("int").as("shard"),
        md5(concat(lit(s"$epoch:"), col("doc_id").cast("string"))).as("okey"))
    keyed
      .select(col("shard"),
        row_number().over(
          Window.partitionBy("shard").orderBy("okey", "doc_id"))
          .cast("bigint").as("pos"),
        col("doc_id"))
      .orderBy("shard", "pos")
  }

  /** EPOCH PLAN — [[trainShuffle]] composed over [[TextAnalysis
    * .packSequences]]: the manifest a trainer actually consumes. The unit
    * of training is the PACKED SEQUENCE, not the document (documents span
    * sequence boundaries), so the epoch permutation must deal sequences:
    * each (lang, seq_id) — with its doc-span count, the cross-boundary
    * stat data loaders need — is hash-dealt to a reader shard and ordered
    * within the shard by an epoch-seeded md5 key, per-shard windows as in
    * [[trainShuffle]]. The sequence universe comes from exploding each
    * doc's `[start_seq, end_seq]` span and collapsing — one shuffle of
    * (lang, seq) pairs; everything else is scan-side hashing. Reader s of
    * nShards streams shard s in pos order; a new epoch re-deals
    * statelessly; the packing itself is epoch-invariant (sequence ids and
    * spans don't change), so re-planning an epoch never re-packs. */
  def epochPlan(spark: SparkSession, sfDir: String, budget: Int = 2048,
                nShards: Int = 8, epoch: Int = 17): DataFrame = {
    val seqs = TextAnalysis.packSequences(spark, sfDir, budget)
      .select(col("lang"),
        explode(sequence(col("start_seq"), col("end_seq"))).as("seq_id"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"))
    // Integer mix over (seq, lang, epoch) for the shard deal (codegen
    // arithmetic, exact BIGINT range on both engines; xxhash64 at real
    // scale), md5 for the within-shard order — the trainShuffle roles.
    val keyed = seqs.select(col("lang"), col("seq_id"), col("n_docs"),
      pmod(pmod((col("seq_id") * lit(131L) + ascii(col("lang")) * lit(7L) +
                 lit(epoch.toLong)) * lit(2654435761L),
                lit(4294967296L)), lit(nShards.toLong)).cast("int").as("shard"),
      md5(concat_ws(":", lit(epoch.toString), col("lang"),
                    col("seq_id").cast("string"))).as("okey"))
    keyed
      .select(col("shard"),
        row_number().over(
          Window.partitionBy("shard").orderBy("okey", "lang", "seq_id"))
          .cast("bigint").as("pos"),
        col("lang"), col("seq_id"), col("n_docs"))
      .orderBy("shard", "pos")
  }

  /** Driver-contract round trip of the written export: write the shard
    * files, then recompute the accounting FROM THE FILES — sharing
    * [[exportShards]]'s oracle, so the bytes on disk (not the frame that
    * produced them) are what the correctness gate checks. */
  def exportWrite(spark: SparkSession, sfDir: String, nShards: Int = 16,
                  qualityMin: Double = 0.7): DataFrame = {
    import graft.functions.NumericFunctions.duckRound
    val out = new java.io.File({ val r = Warehouse.fastScratchRoot; new java.io.File(r).mkdirs(); r },
      s"graft_export_${Warehouse.pathToken(sfDir)}_s${nShards}q${(qualityMin * 100).round}").getPath
    writeExportShards(spark, sfDir, out, nShards, qualityMin)
    graft.sources.Tables.parquet(spark, out)
      // the partition-directory column reads back as INT; the oracle's
      // doc_id % 16 is BIGINT
      .groupBy(col("shard").cast("bigint").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum("bpe_tokens").as("total_tokens"),
           duckRound(avg("quality"), 4).as("avg_quality"))
      .orderBy("shard")
  }
}
