package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Lineage._
import graft.sources.{Tables, Warehouse}

/** PERSISTED media feature index — the media analogue of the text dedup
  * index ([[graft.operators.IncrementalDedup]]'s five-table discipline):
  * every media copy-class catcher needs the same per-asset features
  * (container sniff, byte length, 256-byte prefix digest, 32-bin histogram
  * + integer permille form, byte-winnow fingerprints), and recomputing them
  * from the staged bytes PER RUN is the one cost that cannot amortize —
  * at 100 TB the feature pass is the corpus scan itself (8 hash-mults per
  * byte for the winnow alone). This store pays that scan ONCE per corpus
  * state, and every catcher reads fixed-width feature rows instead of
  * payloads (plan-assertable: a store-fed query contains no payload scan
  * and no per-byte kernel — MediaSpec gates exactly that).
  *
  * Store layout (both via [[Warehouse.writeBucketed]] — the bucket hash IS
  * the later join's partitioning):
  *
  *  - `<prefix>_feats(media_id, container, n_bytes, prefix_md5, hist,
  *    permille, fps)` bucketed by media_id: one row per asset with every
  *    feature the catcher family consumes (the histogram/permille are 32
  *    longs, fps ~2n/(w+1) longs — the fps ARRAY is the streaming
  *    verification layout, the `_sharr` analogue: one codegen'd
  *    `array_intersect` per candidate instead of a stateful count).
  *  - `<prefix>_postings(fp, media_id)` bucketed by fp: the exploded
  *    winnow postings — the equi-join route to candidates; the hot-fp
  *    document-frequency cut and the postings self-join both run
  *    bucket-local on fp.
  *
  * Index identity: prefix carries the corpus token + universe split +
  * winnow params; tables are stamped with the source-parquet fingerprint
  * plus the staged-universe definition tag ([[Media.ensurePackedEncoded]]'s
  * `-drop101v1`), so neither regenerated data nor a generator change can be
  * silently reused ([[Warehouse.ensureDerivedTables]] gate).
  *
  * Maintenance follows [[graft.operators.IncrementalDedup.appendToIndex]]
  * verbatim: deltas append as new per-bucket files (nothing rewritten, the
  * bucket-local join property preserved), the append window is guarded by
  * the in-flight fingerprint marker (a crash mid-append fails the reuse
  * gate and rebuilds — loud, never a half-extended index served), and
  * [[Warehouse.compactBucketed]] resets read fan-in after many appends.
  */
object MediaIndex {

  private[graft] val Buckets = 8

  /** The universe split an index instance covers: the FULL staged encoded
    * universe (`all` — what [[mediaDupIndexed]] reads, so its output equals
    * `media_dup_encoded` on the same universe) or the CORPUS side of the
    * mod-10 ingest split (`corp` — what the streaming drop is checked
    * against, the [[graft.operators.IncrementalDedup.DeltaMod]]
    * convention). */
  private[graft] val DeltaMod = 10L

  def indexPrefix(sfDir: String, split: String): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    s"graft_mediaidx_${sf}_${Warehouse.pathToken(sfDir)}_${split}" +
      s"_k${Media.EncodedWinnowK}w${Media.EncodedWinnowW}"
  }

  private val TableSuffixes = Seq("feats", "postings")

  /** The two table names of one index instance. */
  def tableNames(prefix: String): Seq[String] = TableSuffixes.map(s => s"${prefix}_$s")

  /** One streamed feature pass over packed-grain assets `(media_id,
    * payload)`: every feature the catcher family consumes, in one
    * `mapPartitions`-shaped scan — payloads never leave it. */
  private[graft] def fullFeatures(assets: DataFrame): DataFrame = {
    import assets.sparkSession.implicits._
    assets.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        (id, Media.HeaderDecoder.sniffContainer(bytes), bytes.length.toLong,
         Media.prefixMd5Hex(bytes),
         Media.hist32(bytes).toSeq, Media.permille32(bytes).toSeq,
         Media.byteWinnow(bytes, Media.EncodedWinnowK, Media.EncodedWinnowW).toSeq)
      }.toDF("media_id", "container", "n_bytes", "prefix_md5",
             "hist", "permille", "fps")
  }

  /** The two per-table writes of one index extension, shared by build and
    * append. The feature frame is computed ONCE (a lineage cut — both
    * tables consume it, and the per-byte winnow kernel must never run
    * twice); `_postings` explodes from the truncated frame, not from a
    * re-scan. Write order is load-bearing the same way the text index's
    * ledger is: `_feats` — the table the streaming verify path and any
    * replay reads per-asset — commits LAST, so a crash between the writes
    * leaves postings without feats (candidates that fail to verify → a
    * re-run, surfaced by the fingerprint gate), never feats without
    * postings (assets that silently stop producing candidates). */
  private def writeIndexTables(rawFeats: DataFrame, prefix: String,
                               append: Boolean): Unit = {
    val feats = rawFeats.cutLineage()
    def write(df: DataFrame, keys: Seq[String], table: String): Unit =
      if (append) Warehouse.appendBucketed(df, keys, table, Buckets)
      else Warehouse.writeBucketed(df, keys, table, Buckets)
    write(feats.select(col("media_id"), explode(col("fps")).as("fp"))
            .select(col("fp"), col("media_id")),
          Seq("fp"), s"${prefix}_postings")
    write(feats, Seq("media_id"), s"${prefix}_feats")
  }

  /** Build (or fingerprint-validated reuse) the media feature index over
    * `sfDir`'s staged encoded universe at the given split. Returns the
    * table prefix. The build IS the one full feature scan; every later
    * consumer reads the store. */
  def buildIndex(spark: SparkSession, sfDir: String,
                 split: String = "all"): String = {
    val dir = Media.ensurePackedEncoded(spark, sfDir)
    val prefix = indexPrefix(sfDir, split)
    val fp = Warehouse.sourceFingerprint(sfDir, "documents") +
      s"-drop101v1|$split|k${Media.EncodedWinnowK}w${Media.EncodedWinnowW}x$Buckets"
    Warehouse.ensureDerivedTables(spark, tableNames(prefix), fp) {
      val universe = Tables.parquet(spark, dir)
      val assets =
        if (split == "corp") universe.filter(col("media_id") % DeltaMod =!= 0)
        else universe
      writeIndexTables(fullFeatures(assets), prefix, append = false)
    }
    prefix
  }

  /** Append a delta's features INTO the index — the maintenance half of
    * the media ingest cycle (land → dedup-against-store → extend store).
    * Bucketed appends: new files per bucket, bucket-local joins untouched.
    * The in-flight marker discipline is
    * [[graft.operators.IncrementalDedup.appendToIndex]]'s: stamps cleared
    * to a marker first, restored only after both appends commit, so a
    * crash mid-append fails the reuse gate and rebuilds instead of serving
    * a half-extended index. */
  def appendToMediaIndex(assets: DataFrame, prefix: String,
                         restampTo: Option[String] = None): Unit = {
    val spark = assets.sparkSession
    val tables = tableNames(prefix)
    val missing = tables.filterNot(spark.catalog.tableExists)
    require(missing.isEmpty,
      s"appendToMediaIndex: index '$prefix' is incomplete (missing " +
        s"${missing.mkString(", ")}) — build it first (buildIndex)")
    val stamps = tables.map(t => t -> Warehouse.storedFingerprint(spark, t)).toMap
    tables.foreach(t => Warehouse.stampFingerprint(spark, t,
      graft.operators.IncrementalDedup.InFlightMarker))
    writeIndexTables(fullFeatures(assets), prefix, append = true)
    // restampTo names the POST-append state (the mediaDupCycle gate): the
    // stamp flips marker → post-state in one step AFTER both writes
    // commit, so "old stamp + appended rows" — the double-append window —
    // cannot exist on disk; default restores the pre-append identity
    tables.foreach(t => Warehouse.stampFingerprint(spark, t,
      restampTo.getOrElse(stamps(t).getOrElse("unstamped"))))
  }

  /** Refuse to serve an index left mid-append by a crash (the
    * [[graft.operators.IncrementalDedup.requireNotMidAppend]] contract for
    * the media tables). */
  def requireNotMidAppend(spark: SparkSession, prefix: String): Unit = {
    val marked = tableNames(prefix)
      .filter(t => spark.catalog.tableExists(t) &&
        Warehouse.storedFingerprint(spark, t)
          .contains(graft.operators.IncrementalDedup.InFlightMarker))
    require(marked.isEmpty,
      s"media index '$prefix' has a half-committed append (in-flight marker " +
        s"on ${marked.mkString(", ")}) — rebuild before serving")
  }

  /** DROP-vs-STORE re-encode pairs — the cross-split core shared by the
    * streaming media dedup and its batch twin (the spec's equality anchor;
    * the `streamDecontaminateFrom` discipline): `dropFeats` rows
    * `(drop_id, ca, pa, fps_a)` are checked against the PERSISTED corpus
    * index at `prefix`.
    *
    *  1. Candidates: drop fingerprints equi-join the store's COLD postings
    *    (corpus document frequency ≤ [[Media.EncodedHotCap]] — the hot set
    *    is BY DECLARATION computed over the corpus side only: a stream
    *    cannot know global df, and the corpus df is the stable boilerplate
    *    signal; the oracle replays exactly that split). Stateless
    *    stream-static join; the only state is the (drop, store) pair-dedup
    *    key.
    *  2. Verify per candidate: same container, n_shared = |fps_a ∩ store
    *    cold fps| ≥ [[Media.EncodedMinShared]] via ONE codegen'd
    *    `array_intersect` (the `_sharr` trick — no streaming aggregate),
    *    integer permille-L1 ≤ [[Media.PermilleL1Max]].
    *
    * Emitted set is order-independent (pure per-pair arithmetic), so the
    * batch SQL replay over the same staged bytes is the exact oracle. */
  private[graft] def crossPairsCore(dropFeats: DataFrame, prefix: String): DataFrame = {
    val spark = dropFeats.sparkSession
    val postings = spark.table(s"${prefix}_postings")
    val hot = postings.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > Media.EncodedHotCap).select("fp")
    val cold = postings.join(hot, Seq("fp"), "left_anti")
    val coldArr = cold.groupBy("media_id").agg(collect_list(col("fp")).as("cold_fps"))
    val storeSide = spark.table(s"${prefix}_feats")
      .select(col("media_id").as("store_id"), col("container").as("cb"),
              col("permille").as("pb"))
      .join(coldArr.withColumnRenamed("media_id", "store_id"), Seq("store_id"))
    dropFeats
      .select(col("drop_id"), col("ca"), col("pa"), col("fps_a"),
              explode(col("fps_a")).as("fp"))
      .join(cold.withColumnRenamed("media_id", "store_id"), Seq("fp"))
      .select("drop_id", "store_id", "ca", "pa", "fps_a")
      .dropDuplicates("drop_id", "store_id")
      .join(storeSide, Seq("store_id"))
      .filter(col("ca") === col("cb"))
      .withColumn("n_shared",
        size(array_intersect(col("fps_a"), col("cold_fps"))).cast("bigint"))
      .filter(col("n_shared") >= Media.EncodedMinShared)
      .withColumn("l1p",
        aggregate(zip_with(col("pa"), col("pb"), (x, y) => abs(x - y)),
                  lit(0L), (acc, v) => acc + v))
      .filter(col("l1p") <= Media.PermilleL1Max)
      .select(least(col("drop_id"), col("store_id")).as("canonical_id"),
              greatest(col("drop_id"), col("store_id")).as("dup_id"),
              col("ca").as("container"), col("n_shared"), col("l1p"))
  }

  /** [[crossPairsCore]]'s drop-side feature projection from packed assets. */
  private[graft] def dropFeatures(assets: DataFrame): DataFrame =
    fullFeatures(assets).select(
      col("media_id").as("drop_id"), col("container").as("ca"),
      col("permille").as("pa"), col("fps").as("fps_a"))

  /** The BATCH twin of the streaming media dedup (spec equality anchor):
    * the staged drop read whole, checked against the corpus index. */
  private[graft] def mediaDupCrossBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = buildIndex(spark, sfDir, "corp")
    requireNotMidAppend(spark, prefix)
    val dropDir = Media.ensurePackedEncodedDrop(spark, sfDir)
    crossPairsCore(dropFeatures(Tables.parquet(spark, dropDir)), prefix)
      .orderBy("canonical_id", "dup_id")
  }

  /** Declared `media_near_dup_lsh` parameters, shared with the SQL oracle
    * (one definition site). [[MediaLshBands]] bands of [[MediaLshProj]]
    * QUANTIZED projections each over the raw permille histogram (width
    * [[MediaLshW]]), neighbor-probed — see [[mediaNearDupLsh]] for why
    * this replaced sign-bucket LSH at the round-11 seal. No centering:
    * a corpus-mean shift moves every document's projection by the same
    * constant per hyperplane, and bucket DIFFERENCES — the only thing the
    * probe join reads — are shift-invariant, so the mean pass bought
    * nothing once signs were gone. The verify bound is MUCH tighter than
    * the fp-blocked catchers' [[Media.PermilleL1Max]] = 250: an LSH
    * candidate shares no content evidence, only a feature bucket, and
    * measured distributions put planted re-encodes at permille-L1 ≤ 8
    * while unrelated same-container pairs bottom out near ~50 — 32
    * separates with margin on both sides. */
  private[graft] val MediaLshBands = 4
  private[graft] val MediaLshProj = 4
  private[graft] val MediaLshW = 8L
  private[graft] val MediaLshOffset = 1024L
  private[graft] val MediaLshL1Max = 32L
  private[graft] val MediaLshSeed = "mlsh"

  /** The PLANTED-class boundary: measured distributions put planted
    * re-encodes at permille-L1 ≤ 8 (see [[mediaNearDupLsh]]), and ≤ 8 is
    * exactly the window where the ≤1-bucket-distance probe is a theorem
    * (|Δproj| ≤ L1 ≤ W). Pairs in (8, [[MediaLshL1Max]]] are the LOOSE
    * class whose recall is probabilistic — the declared trade
    * [[mediaLshRecall]] prices. */
  private[graft] val MediaLshPlantedL1 = 8L

  /** Deterministic ±1 hyperplane signs — the repo's `md5_number_lower`
    * convention: sign(j, bin) = +1 iff bit 0 of md5's low 64 bits of
    * "mlsh<j>_<bin>" is 0 (bit 0 is sign-interpretation-free, so the
    * DuckDB `% 2` on the unsigned value matches the signed Long's `& 1`). */
  private[graft] def lshSign(j: Int, bin: Int): Long =
    if ((graft.operators.TextAnalysis.md5Low64(s"$MediaLshSeed${j}_$bin") & 1L) == 0L) 1L else -1L

  /** The 3^[[MediaLshProj]] packed-key probe deltas: per-coordinate
    * offsets in {−1, 0, +1} folded into the 8-bit-per-coordinate packed
    * band key. Exact BECAUSE addition can never carry between fields:
    * quantized values live in [3, 253] (|proj| ≤ Σpermille = 1000, offset
    * 1024, width 8), so value + offset stays inside its 8-bit field. */
  private[graft] val MediaLshProbeDeltas: Seq[Long] = {
    def rec(k: Int): Seq[Long] =
      if (k == 0) Seq(0L)
      else rec(k - 1).flatMap(d => Seq(-1L, 0L, 1L).map(o => d * 256L + o))
    rec(MediaLshProj)
  }

  /** Driver-verified: histogram-LSH media near-dup (`media_near_dup_lsh`)
    * — the declared generalization in [[Media.mediaNearDup]]'s contract:
    * that op's (container, exact-size) block catches only size-PRESERVING
    * copies, and [[Media.mediaDupEncoded]] catches size-changing
    * re-encodes at 8 hash-mults per byte; this op catches the same
    * re-encode class at HISTOGRAM cost — the features are 32 longs per
    * asset read from the persisted store, no per-byte kernel anywhere in
    * the query.
    *
    * Blocking — NEIGHBOR-PROBED QUANTIZED PROJECTIONS, the round-11 seal
    * revision. The first cut used centered sign-bucket LSH (the
    * [[graft.operators.Dedup]] embedding form) with adaptive band width;
    * the ×10 probe measured it at warm slope 1.09 with 95M candidates for
    * ~5M true pairs — same-language byte histograms deviate from the mean
    * along a few shared directions, so SIGNS of random projections stay
    * correlated no matter how many bits a band gets, and bucket occupancy
    * is skew, not size. Signs were the wrong 1-bit quantizer; MAGNITUDE
    * carries the separation. Revised scheme: [[MediaLshBands]] bands ×
    * [[MediaLshProj]] ±1-hyperplane projections quantized to width
    * [[MediaLshW]] (`(proj + offset) >> 3`, int64-exact), the four
    * quantized values packed into one 8-bit-per-field band key; the probe
    * side explodes the 3^4 [[MediaLshProbeDeltas]] so the key join catches
    * every pair within per-coordinate bucket distance ≤ 1. That gives a
    * DETERMINISTIC catch window: a pair with per-projection delta ≤ W
    * (which permille-L1 ≤ 8 guarantees, since |Δproj| ≤ L1 under ±1
    * hyperplanes) ALWAYS shares a probe key in every band — planted
    * re-encode recall is a theorem, not a tuning outcome (spec-gated
    * anyway); a pair differing by > 3·W=24 on ANY coordinate of every
    * band never collides. Measured at the same ×10 universe: 7.18M
    * distinct candidates, 2.27M of which pass the final verify — the
    * candidate overhang sits at 3.2× of the true output mass, near the
    * floor for a blocker (the output itself is pair enumeration over
    * distribution-identical documents and grows with the corpus's
    * duplicate-cluster sizes: 171× for 10× data here — the interval_join
    * precedent, now actually true of this op; warm ×10 time 27s vs the
    * sign scheme's 83s).
    *
    * DECLARED trades: (a) recall on the LOOSE near-dup class (L1 in
    * (8, 32]) is probabilistic — measured 0.63 at sf0.1 (the sign scheme's
    * was 0.94 at 30× the candidate cost; the deterministic window covers
    * the copy-detection class this op exists for); (b) output mass is the
    * corpus's distribution-identical pair mass. Join physics: the probe
    * side is NARROW (id, container, band, key — no payload-derived
    * arrays); the stored side carries `permille` so verification needs no
    * second self-join, and the single remaining per-pair join (probe
    * asset's own permille) rides the `_feats` media_id bucketing. All
    * arithmetic int64-exact; the oracle replays signs, quantization, and
    * the ≤1-bucket-distance predicate from the same staged bytes via a
    * structurally different max-coordinate-diff form (no packed keys, no
    * probe explosion), so the packing + no-carry probe trick is
    * differentially proven, not assumed. */
  def mediaNearDupLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = buildIndex(spark, sfDir, "all")
    requireNotMidAppend(spark, prefix)
    lshPairsCore(spark.table(s"${prefix}_feats")
        .select(col("media_id"), col("container"), col("permille")))
      .orderBy("canonical_id", "dup_id")
  }

  /** MEDIA LSH RECALL (`media_lsh_recall`) — the last approximate family
    * member gets its hash-gated instrument (the
    * [[graft.operators.Similarity.semDedupRecall]] two-method accounting
    * shape): truth = the EXACT same-container permille-L1 ≤
    * [[MediaLshL1Max]] pair set computed all-pairs over the persisted
    * `_feats` store (metadata — 32 longs per asset, no payload byte is
    * read); detected = [[lshPairsCore]]'s neighbor-probed candidate set,
    * a SUBSET by construction (every emitted pair re-verified the same L1
    * bound). One accounting row per DECLARED class —
    * `planted` (L1 ≤ [[MediaLshPlantedL1]], where the ≤1-bucket window
    * makes recall a THEOREM: the row must read 1000‰, and the hash gate
    * now re-proves it every round) and `loose` (L1 ∈ (8, 32], the
    * probabilistic class SURVEY declared at 0.63 in prose until this
    * instrument) — `(class, n_true, n_detected, recall_permille)` with
    * integer-rational permille and the zero-denominator guard
    * (`n_true = 0` reads 1000‰, the q8_market_share discipline).
    *
    * 100 TB: the truth side is all-pairs BY THE INSTRUMENT CONTRACT
    * (`ann_recall` precedent — it exists to measure the scale path, not
    * to be one; production re-measures on a sample); it reads only the
    * feature store, so its cost is |assets|²-over-containers histogram
    * diffs, never a byte re-scan. The detected side is the production
    * probe chain itself. */
  def mediaLshRecall(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val prefix = buildIndex(spark, sfDir, "all")
    requireNotMidAppend(spark, prefix)
    val feats = spark.table(s"${prefix}_feats")
      .select(col("media_id"), col("container"), col("permille"))
    def classOf(l1: Column) =
      when(l1 <= MediaLshPlantedL1, "planted").otherwise("loose")
    val truth = feats.as("a")
      .join(feats.as("b"), col("a.container") === col("b.container") &&
                           col("a.media_id") < col("b.media_id"))
      .select(aggregate(zip_with(col("a.permille"), col("b.permille"),
                (x, y) => abs(x - y)), lit(0L), (acc, v) => acc + v).as("l1p"))
      .filter(col("l1p") <= MediaLshL1Max)
      .groupBy(classOf(col("l1p")).as("class"))
      .agg(count(lit(1)).as("n_true"))
    val detected = lshPairsCore(feats)
      .groupBy(classOf(col("l1p")).as("class"))
      .agg(count(lit(1)).as("n_detected"))
    // densify over the two declared classes: a class with zero truth pairs
    // must still row out (reading 1000‰ vacuous full recall), or the
    // instrument silently loses a class on a clean corpus
    Seq("loose", "planted").toDF("class")
      .join(truth, Seq("class"), "left")
      .join(detected, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_detected"), lit(0L)).as("n_detected"))
      .withColumn("recall_permille",
        when(col("n_true") === 0L, lit(1000L))
          .otherwise(expr("n_detected * 1000 div n_true")))
      .orderBy("class")
  }

  /** The quantized-projection LSH pair core over an explicit
    * `(media_id, container, permille)` feature frame — shared by
    * [[mediaNearDupLsh]] and the composed release ([[mediaExport]]), so
    * the probe scheme has one definition site. */
  private[graft] def lshPairsCore(feats: DataFrame): DataFrame = {
    val shift = java.lang.Long.numberOfTrailingZeros(MediaLshW)
    def qv(j: Int) = shiftright(
      (0 until 32).map(i =>
        lit(lshSign(j, i)) * element_at(col("permille"), i + 1)).reduce(_ + _)
        + lit(MediaLshOffset), shift)
    def bandKey(b: Int) = (0 until MediaLshProj).map(i =>
      qv(b * MediaLshProj + i) * lit(1L << (8 * (MediaLshProj - 1 - i))))
      .reduce(_ + _)
    val bandCols = array((0 until MediaLshBands).map(b =>
      struct(lit(b.toLong).as("band"), bandKey(b).as("bk"))): _*)
    // stored side: key rows CARRYING the verify features (no re-join for
    // the b-side); probe side: narrow key rows exploded over the deltas
    val stored = feats.select(col("media_id").as("idb"), col("container"),
        col("permille").as("pb"), explode(bandCols).as("bb"))
      .select(col("idb"), col("container"), col("pb"),
              col("bb.band").as("band"), col("bb.bk").as("bk"))
    val probes = feats.select(col("media_id").as("ida"), col("container"),
        explode(bandCols).as("bb"))
      .select(col("ida"), col("container"), col("bb.band").as("band"),
              col("bb.bk").as("bk0"),
              explode(array(MediaLshProbeDeltas.map(lit): _*)).as("delta"))
      .select(col("ida"), col("container"), col("band"),
              (col("bk0") + col("delta")).as("bk"))
    probes.join(stored, Seq("band", "bk", "container"))
      .filter(col("ida") < col("idb"))
      // pair-dedup BEFORE the verify join: a pair can collide in up to
      // MediaLshBands (band, delta) cells; container/pb are pair-invariant
      // so the arbitrary surviving row is the right one
      .dropDuplicates("ida", "idb")
      .join(feats.select(col("media_id").as("ida"), col("permille").as("pa")),
            Seq("ida"))
      .select(col("ida").as("canonical_id"), col("idb").as("dup_id"),
              col("container"),
              aggregate(zip_with(col("pa"), col("pb"), (x, y) => abs(x - y)),
                        lit(0L), (acc, v) => acc + v).as("l1p"))
      .filter(col("l1p") <= MediaLshL1Max)
  }

  /** Driver-verified: the full media INGEST CYCLE as one declared,
    * hash-gated query (`media_dup_cycle`) — land → extend the persisted
    * store → serve from the extended store. [[mediaDupIndexed]] proves
    * the store SERVES correctly; this proves the store MAINTAINS
    * correctly: the index is built from the corpus split only
    * ([[DeltaMod]] convention), the drop split is then
    * [[appendToMediaIndex]]-ed in (bucketed appends — new files per
    * bucket, bucket-local join property untouched), and the pair serve
    * runs over the EXTENDED tables. The oracle is `media_dup_encoded`'s
    * full-universe byte replay — identical to `media_dup_indexed`'s — so
    * build-then-append ≡ build-whole is proven by the driver hash every
    * round, not just by a spec (the dedup_clusters_incremental
    * discipline brought to media).
    *
    * Idempotency across runs is the fingerprint lifecycle, its own `cyc`
    * table family so the `corp` index the streaming dedup reads stays
    * corpus-pure: stamps read `cyc-full` → serve directly (zero feature
    * work — the steady state the driver's repeated runs measure);
    * `cyc-base` (a crash landed the base but no drop rows — the
    * marker→post restamp in [[appendToMediaIndex]] guarantees
    * base-stamp ⇒ zero appended rows, closing the double-append window)
    * → the append resumes on the clean base; anything else (missing
    * tables, in-flight marker from a crash mid-append, stale corpus
    * fingerprint) → rebuild base from the corpus split and re-append —
    * loud full recovery, never a silently half-extended serve. */
  def mediaDupCycle(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Media.ensurePackedEncoded(spark, sfDir)
    val prefix = indexPrefix(sfDir, "cyc")
    val tables = tableNames(prefix)
    val fpBase = Warehouse.sourceFingerprint(sfDir, "documents") +
      s"-drop101v1|cyc-base|k${Media.EncodedWinnowK}w${Media.EncodedWinnowW}x$Buckets"
    val fpFull = fpBase.replace("|cyc-base|", "|cyc-full|")
    val current = tables.forall(t => spark.catalog.tableExists(t) &&
      Warehouse.storedFingerprint(spark, t).contains(fpFull))
    if (!current) {
      val universe = Tables.parquet(spark, dir)
      Warehouse.ensureDerivedTables(spark, tables, fpBase) {
        writeIndexTables(
          fullFeatures(universe.filter(col("media_id") % DeltaMod =!= 0)),
          prefix, append = false)
      }
      appendToMediaIndex(universe.filter(col("media_id") % DeltaMod === 0),
                         prefix, restampTo = Some(fpFull))
    }
    Media.encodedPairCore(
      spark.table(s"${prefix}_postings"),
      spark.table(s"${prefix}_feats").select("media_id", "container", "permille"))
  }

  /** Driver-verified: [[Media.mediaDupEncoded]] served ENTIRELY from the
    * persisted feature store — the scale answer that op's doc comment
    * promises: candidates from the bucketed `_postings` table (hot-fp cut
    * and the pair self-join both bucket-local on fp), verification from
    * the `_feats` table's container/permille columns. ZERO store-side
    * re-fingerprint: the plan contains no payload scan and no per-byte
    * kernel (MediaSpec asserts no SerializeFromObject and no packed-root
    * path in the executed plan) — at 100 TB every run after the first
    * pays candidate generation + a 32-element fold per candidate, never
    * the 8-hash-mults-per-byte corpus scan. Output ≡ `media_dup_encoded`
    * on the same universe (the oracle IS that op's oracle chain over the
    * same staged shards), so the store's correctness is hash-proven, not
    * assumed. */
  def mediaDupIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = buildIndex(spark, sfDir, "all")
    requireNotMidAppend(spark, prefix)
    Media.encodedPairCore(
      spark.table(s"${prefix}_postings"),
      spark.table(s"${prefix}_feats").select("media_id", "container", "permille"))
  }

  // ------------------------------------------------------------------
  // Composed media RELEASE (round 12): filter → exact dedup → the three
  // copy-class catchers (all store-fed) → takedown, as one gated export
  // with a waterfall report — the corpus_export / release_report
  // discipline for media.
  // ------------------------------------------------------------------

  /** Decoded-metadata + exact-digest rows for the release index's `_meta`
    * table: one safe header decode (a malformed container degrades to
    * kind 'unknown' and zero dims — which fails every gate rule loudly —
    * instead of killing the build; the release universe's surgeries all
    * keep containers parseable, spec-checked) plus the full-payload
    * `md5(hex(payload))` exact-dup signature. */
  private def metaFeatures(universe: DataFrame): DataFrame = {
    import universe.sparkSession.implicits._
    universe.select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .map { case (id, kind, bytes) =>
        val m =
          try Media.HeaderDecoder.decode(Media.MediaAsset(id, kind, bytes))
          catch { case _: IllegalArgumentException =>
            Media.MediaMeta(id, "unknown", bytes.length.toLong, 0, 0, 0) }
        (id, m.kind, bytes.length.toLong, m.width, m.height, m.n_frames,
         Media.fullMd5Hex(bytes))
      }.toDF("media_id", "kind", "n_bytes", "width", "height", "n_frames", "sig")
  }

  /** Build (or fingerprint-validated reuse) the RELEASE index over the
    * composed all-copy-class universe ([[Media.ensurePackedRelease]]):
    * the shared `_feats`/`_postings` tables plus a `_meta` table
    * (decoded header metadata + exact digest) — so the export chain
    * touches NO payload after this one build pays the scan. */
  /** The five release table names of a prefix. */
  private def releaseTableNames(prefix: String): Seq[String] =
    tableNames(prefix) ++
      Seq(s"${prefix}_meta", s"${prefix}_pairs", s"${prefix}_labels")

  /** Write the SCAN-COST tables (feats/postings/meta) for `assets` —
    * build or append grain; the one pass that touches payloads. */
  private def writeReleaseScanTables(assets: DataFrame, prefix: String,
                                     append: Boolean): Unit = {
    writeIndexTables(fullFeatures(assets), prefix, append)
    val meta = metaFeatures(assets)
    if (append)
      Warehouse.appendBucketed(meta, Seq("media_id"), s"${prefix}_meta", Buckets)
    else
      Warehouse.writeBucketed(meta, Seq("media_id"), s"${prefix}_meta", Buckets)
  }

  /** Derive (and overwrite) the `_pairs` + `_labels` tables from the
    * prefix's SCAN tables. The VERIFIED PAIR TABLES are corpus-state
    * functions too — computed once here so serving the release (and
    * re-serving at a new gate / takedown manifest) joins metadata, never
    * re-runs a catcher: the r12 reseal measured the per-call catcher
    * cascade at 5.45s warm; the pair-table serve is table joins. The
    * `_labels` are the component closure's substrate (the text family's
    * ensureClusterLabels discipline). Store-grain work (no payload ever
    * read), so the ingest cycle re-derives them per append while the
    * feature scan stays incremental. */
  private def deriveReleasePairTables(spark: SparkSession, prefix: String): Unit = {
    val meta = spark.table(s"${prefix}_meta")
    val feats = spark.table(s"${prefix}_feats")
    val side = feats.select(col("media_id"), col("container"), col("permille"))
    val keeper = meta.groupBy("sig").agg(min("media_id").as("keep_id"))
    val exactPairs = meta.select(col("media_id"), col("sig"))
      .join(keeper, Seq("sig"))
      .filter(col("media_id") =!= col("keep_id"))
      .select(col("keep_id").as("canonical_id"), col("media_id").as("dup_id"),
              lit("exact").as("src"))
    val encPairs = Media.encodedPairCore(spark.table(s"${prefix}_postings"), side)
      .select(col("canonical_id"), col("dup_id"), lit("winnow").as("src"))
    val padPairs = Media.paddedDupFromFeatures(
        feats.select(col("media_id"), col("container"), col("prefix_md5"),
                     col("permille")))
      .select(col("canonical_id"), col("dup_id"), lit("padded").as("src"))
    val lshPairs = lshPairsCore(side)
      .select(col("canonical_id"), col("dup_id"), lit("lsh").as("src"))
    Warehouse.writeBucketed(
      exactPairs.unionByName(encPairs).unionByName(padPairs)
        .unionByName(lshPairs).distinct(),
      Seq("dup_id"), s"${prefix}_pairs", Buckets)
    Warehouse.writeBucketed(
      graft.operators.Dedup.connectedComponents(
        spark.table(s"${prefix}_pairs"), "canonical_id", "dup_id"),
      Seq("v"), s"${prefix}_labels", Buckets)
  }

  def buildReleaseIndex(spark: SparkSession, sfDir: String): String = {
    val dir = Media.ensurePackedRelease(spark, sfDir)
    val prefix = indexPrefix(sfDir, "rel")
    val fp = Warehouse.sourceFingerprint(sfDir, "documents") +
      s"-release4v1|rel|pairs2|k${Media.EncodedWinnowK}w${Media.EncodedWinnowW}x$Buckets"
    Warehouse.ensureDerivedTables(spark, releaseTableNames(prefix), fp) {
      writeReleaseScanTables(Tables.parquet(spark, dir), prefix, append = false)
      deriveReleasePairTables(spark, prefix)
    }
    prefix
  }

  /** The CLOSED removal set of the release: takedown requests plus every
    * asset in a request's copy COMPONENT (the persisted labels). Shared
    * by the export flags and [[mediaTakedownVerify]]. */
  private def releaseRemoved(spark: SparkSession, prefix: String): DataFrame = {
    val labels = spark.table(s"${prefix}_labels")
    val req = spark.table(s"${prefix}_meta")
      .filter(col("media_id") % TakedownMod === TakedownRes)
      .select(col("media_id"))
    val touched = labels.join(req, labels("v") === req("media_id"))
      .select(col("l")).distinct()
    req.unionByName(labels.join(touched, Seq("l")).select(col("v").as("media_id")))
      .distinct()
  }

  /** Takedown request class of the release universe — a deterministic
    * synthetic compliance manifest (the scrub_pii non-vacuous-fixture
    * discipline): ids ≡ 3 (mod 97), twins included. */
  private[graft] val TakedownMod = 97L
  private[graft] val TakedownRes = 3L

  /** Per-asset release flags — the one frame both the export and the
    * waterfall report read: `(media_id, kind, n_bytes, t, e, c, r)` with
    * t = passes the quality gate, e = survives exact dedup (is its
    * digest group's min id), c = survives the three copy-class catchers
    * (is nobody's verified dup), r = survives takedown (neither
    * requested nor a verified copy of a requested asset, one hop both
    * directions over the union pair graph). Every input is a persisted
    * release-index table — gate metadata and exact digests from `_meta`,
    * winnow candidates from `_postings`, padded/LSH features from
    * `_feats`; no payload byte is read (plan-asserted by MediaSpec). */
  private def releaseFlags(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = buildReleaseIndex(spark, sfDir)
    requireNotMidAppend(spark, prefix)
    releaseFlagsFor(spark, prefix)
  }

  /** The flags over an EXPLICIT release-index prefix — shared by the
    * whole-build serve and the ingest cycle's extended store. */
  private def releaseFlagsFor(spark: SparkSession, prefix: String): DataFrame = {
    val meta = spark.table(s"${prefix}_meta")
    val pairs = spark.table(s"${prefix}_pairs")
    val gate = Media.gateFlags(meta).select(col("media_id"), col("keep"))
    // every drop verdict reads the persisted pair table: exact drops are
    // the src='exact' dup side, catcher drops any other src's dup side
    val exactDrop = pairs.filter(col("src") === "exact")
      .select(col("dup_id").as("media_id")).distinct()
      .withColumn("ed", lit(1))
    val copyDrop = pairs.filter(col("src") =!= "exact")
      .select(col("dup_id").as("media_id")).distinct()
      .withColumn("cd", lit(1))
    // takedown: requests closed over copy COMPONENTS (the persisted
    // labels) — transitive, so a copy-of-a-copy of removed content can
    // never ship (mediaTakedownVerify gates exactly that)
    val removed = releaseRemoved(spark, prefix).withColumn("rm", lit(1))
    meta.select(col("media_id"), col("kind"), col("n_bytes"))
      .join(gate, Seq("media_id"))
      .join(exactDrop, Seq("media_id"), "left")
      .join(copyDrop, Seq("media_id"), "left")
      .join(removed, Seq("media_id"), "left")
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("keep").cast("long").as("t"),
        when(col("ed").isNull, 1L).otherwise(0L).as("e"),
        when(col("cd").isNull, 1L).otherwise(0L).as("c"),
        when(col("rm").isNull, 1L).otherwise(0L).as("r"))
  }

  /** Driver-verified: the composed MEDIA EXPORT (`media_export`) — the
    * gated release set of the all-copy-class universe: quality gate
    * ([[Media.mediaFilter]]'s rules over the persisted decoded metadata)
    * ∧ exact-dedup canonical (min id per payload digest) ∧ not a verified
    * copy under ANY of the three store-fed catchers (byte-winnow
    * re-encode, prefix-digest padded, histogram-LSH) ∧ not excluded by
    * the takedown closure. The media twin of `corpus_export`
    * ([[graft.operators.Pipeline.corpusExport]]).
    *
    * 100 TB: the universe scan is paid ONCE in [[buildReleaseIndex]];
    * the export itself joins metadata-grain tables (digests, 32-long
    * features, pair lists) — re-running at a different gate or a new
    * takedown manifest costs table joins, never a byte re-scan. */
  def mediaExport(spark: SparkSession, sfDir: String): DataFrame =
    releaseFlags(spark, sfDir)
      .filter(col("t") === 1L && col("e") === 1L && col("c") === 1L &&
              col("r") === 1L)
      .select(col("media_id"), col("kind"), col("n_bytes"))
      .orderBy("media_id")

  /** Driver-verified: the media RELEASE WATERFALL (`media_release_report`)
    * — [[mediaExport]]'s gauntlet as one row per gate with sequential
    * in/dropped/out counts and drop rates (the
    * [[graft.operators.Pipeline.releaseReport]] shape): quality_gate →
    * exact_dedup → copy_catchers → takedown. Final n_out is exactly
    * `media_export`'s row count (spec-asserted). One conditional
    * aggregate over the flags frame; the 4-row waterfall is arithmetic
    * over a single row. */
  def mediaReleaseReport(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.NumericFunctions.duckRound
    import org.apache.spark.sql.Column
    val agg = releaseFlags(spark, sfDir).agg(
      count(lit(1)).as("n0"),
      sum(col("t")).as("n1"),
      sum(col("t") * col("e")).as("n2"),
      sum(col("t") * col("e") * col("c")).as("n3"),
      sum(col("t") * col("e") * col("c") * col("r")).as("n4"))
    def stage(no: Int, name: String, nin: Column, nout: Column): Column =
      struct(lit(no.toLong).as("stage_no"), lit(name).as("stage"),
        nin.as("n_in"), (nin - nout).as("n_dropped"), nout.as("n_out"),
        when(nin === 0, lit(0.0))
          .otherwise(duckRound((nin - nout).cast("double") / nin.cast("double"), 4))
          .as("drop_rate"))
    agg.select(explode(array(
        stage(1, "quality_gate", col("n0"), col("n1")),
        stage(2, "exact_dedup", col("n1"), col("n2")),
        stage(3, "copy_catchers", col("n2"), col("n3")),
        stage(4, "takedown", col("n3"), col("n4")))).as("s"))
      .select("s.*")
      .orderBy("stage_no")
  }

  /** Driver-verified: MEDIA TAKEDOWN VERIFICATION
    * (`media_takedown_verify`) — the [[graft.operators.Dedup
    * .takedownVerify]] release gate for media: after removing the CLOSED
    * manifest, NO verified copy pair may cross the removal boundary (a
    * surviving asset paired with removed content means the removed bytes
    * ship under another id). Emits the VIOLATIONS — the correct result is
    * EMPTY, and the emptiness is a THEOREM of component closure (both
    * endpoints of any pair share a component, so either both or neither
    * are removed), differentially proven by the oracle's recursive-CTE
    * closure over the replayed pair graph; MediaSpec injects a broken
    * (one-hop) manifest to prove the gate actually catches leaks. Pure
    * metadata joins over the persisted pair + label tables. */
  def mediaTakedownVerify(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = buildReleaseIndex(spark, sfDir)
    requireNotMidAppend(spark, prefix)
    takedownViolations(spark.table(s"${prefix}_pairs"),
                       releaseRemoved(spark, prefix))
  }

  /** Driver-verified: LEAKAGE-SAFE MEDIA SPLIT (`media_split`) — the
    * `leakage_safe_split` discipline for media: every asset of the
    * release universe lands in train/val/test by the 60-bit md5 hash of
    * its copy-COMPONENT label (the persisted `_labels`), so all verified
    * copies of one asset — exact, re-encoded, padded, perturbed, and any
    * transitive chain of them — inherit ONE split and an eval asset can
    * never have a training-set copy. 80/10/10 by hash mod 10, singletons
    * label themselves. Pure metadata joins over the persisted store. */
  def mediaSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = buildReleaseIndex(spark, sfDir)
    requireNotMidAppend(spark, prefix)
    val labels = spark.table(s"${prefix}_labels")
    spark.table(s"${prefix}_meta").select(col("media_id"))
      .join(labels, col("media_id") === col("v"), "left")
      .select(col("media_id"),
              coalesce(col("l"), col("media_id")).as("cluster_id"))
      .withColumn("h",
        pmod(conv(substring(md5(col("cluster_id").cast("string")), 1, 15), 16, 10)
          .cast("bigint"), lit(10L)))
      .select(col("media_id"), col("cluster_id"),
        when(col("h") <= 7, lit("train"))
          .when(col("h") === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy("media_id")
  }

  /** Driver-verified: the RELEASE INDEX INGEST CYCLE
    * (`media_release_cycle`) — [[mediaDupCycle]]'s maintenance proof for
    * the release store: the scan-cost tables (feats/postings/meta — the
    * only pass that touches payloads) are built from the CORPUS split
    * only ([[DeltaMod]] convention), the drop split is then APPENDED
    * (bucketed appends under the in-flight-marker crash discipline —
    * new files per bucket, bucket-local joins untouched), the pair +
    * label tables are RE-DERIVED from the extended store (store-grain
    * work by design: pairs/labels are functions of the feature rows, so
    * maintenance re-derives them while the byte scan stays incremental),
    * and the EXPORT is served from the extended tables. The oracle is
    * `media_export`'s full whole-universe byte replay — build-then-append
    * ≡ build-whole proven by the driver hash, the
    * dedup_clusters_incremental discipline brought to the composed
    * release. Fingerprint lifecycle = [[mediaDupCycle]]'s: `cyc-full` ⇒
    * serve directly (the steady state); `cyc-base` ⇒ resume the append
    * on the clean base; anything else ⇒ rebuild base + re-append. */
  def mediaReleaseCycle(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Media.ensurePackedRelease(spark, sfDir)
    val prefix = indexPrefix(sfDir, "relc")
    val tables = releaseTableNames(prefix)
    val fpBase = Warehouse.sourceFingerprint(sfDir, "documents") +
      s"-release4v1|relc-base|k${Media.EncodedWinnowK}w${Media.EncodedWinnowW}x$Buckets"
    val fpFull = fpBase.replace("|relc-base|", "|relc-full|")
    val current = tables.forall(t => spark.catalog.tableExists(t) &&
      Warehouse.storedFingerprint(spark, t).contains(fpFull))
    if (!current) {
      val universe = Tables.parquet(spark, dir)
      Warehouse.ensureDerivedTables(spark, tables, fpBase) {
        writeReleaseScanTables(
          universe.filter(col("media_id") % DeltaMod =!= 0), prefix,
          append = false)
        deriveReleasePairTables(spark, prefix)
      }
      // append window under the in-flight marker across ALL FIVE tables:
      // a crash mid-append fails every reuse gate and rebuilds, never a
      // half-extended serve; the marker→full restamp happens only after
      // the appends AND the pair/label re-derivation commit
      tables.foreach(t => Warehouse.stampFingerprint(spark, t,
        graft.operators.IncrementalDedup.InFlightMarker))
      writeReleaseScanTables(
        universe.filter(col("media_id") % DeltaMod === 0), prefix,
        append = true)
      deriveReleasePairTables(spark, prefix)
      tables.foreach(t => Warehouse.stampFingerprint(spark, t, fpFull))
    }
    requireNotMidAppend(spark, prefix)
    releaseFlagsFor(spark, prefix)
      .filter(col("t") === 1L && col("e") === 1L && col("c") === 1L &&
              col("r") === 1L)
      .select(col("media_id"), col("kind"), col("n_bytes"))
      .orderBy("media_id")
  }

  /** Violations of an EXPLICIT removal set against a pair table — the
    * spec's breach-injection entry point. */
  private[graft] def takedownViolations(pairs: DataFrame,
                                        removed: DataFrame): DataFrame = {
    val rm = broadcast(removed.select(col("media_id")).distinct()
      .withColumn("r", lit(1)))
    pairs.select("canonical_id", "dup_id").distinct()
      .join(rm.select(col("media_id").as("canonical_id"), col("r").as("ra")),
            Seq("canonical_id"), "left")
      .join(rm.select(col("media_id").as("dup_id"), col("r").as("rb")),
            Seq("dup_id"), "left")
      .filter(coalesce(col("ra"), lit(0)) =!= coalesce(col("rb"), lit(0)))
      .select("canonical_id", "dup_id")
      .orderBy("canonical_id", "dup_id")
  }
}
