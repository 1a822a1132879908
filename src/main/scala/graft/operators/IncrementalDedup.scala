package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Lineage._
import graft.sources.{Tables, Warehouse}

/** Incremental near-dup detection against a PERSISTED index — the daily-use
  * shape of production dedup: the corpus's fingerprints live in a bucketed
  * store written once; each incoming delta shard joins against that store
  * bucket-locally and only the delta pays a shuffle. One-shot self-join
  * dedup ([[Dedup]]) re-pays the whole corpus's shuffle on every run; at
  * 100 TB the index is the amortization that makes daily ingest affordable.
  * [[appendToIndex]] closes the production loop: after a delta is dedup'd
  * its fingerprints are appended into the same bucketed tables (new
  * per-bucket files, no rewrite), so the NEXT ingest dedups against
  * corpus + all prior deltas.
  *
  * Store layout (all via [[Warehouse.writeBucketed]], so every table's
  * bucket hash IS the later join's partitioning — zero Exchange on the
  * store side, plan-asserted in WarehouseSpec):
  *
  *  - `<prefix>_bands(band, bhash, doc_id)` bucketed by (band, bhash):
  *    the MinHash-LSH candidate index (b=32 bands × r=4 rows, the
  *    [[Dedup.minhashLshPairs]] configuration — detection probability at
  *    J=0.8 is 1−5·10⁻⁸, which is what lets the exact-join oracle stand).
  *  - `<prefix>_cbands(band, bhash, doc_id)` bucketed by (band, bhash):
  *    the SAME 128 MinHash values banded WIDE (64 bands × 2 rows) — the
  *    CONTAINMENT-routing index. A containment-qualifying pair can sit at
  *    a much lower Jaccard than a dedup pair (J = c/(1+ρ−c) for
  *    containment c and train/eval size ratio ρ), so the dedup banding
  *    would miss exactly the short-prompt-in-long-document case the
  *    asymmetric measure exists for. At (64,2) the candidate probability
  *    1−(1−J²)⁶⁴ is ≥0.999 for J ≥ 0.3 and ≈0.88 even at J = 0.18
  *    (c = 0.6, ρ = 3). Costs nothing extra to maintain: both band tables
  *    explode from one signature aggregate.
  *  - `<prefix>_postings(doc_id, s)` bucketed by (doc_id, s): shingle
  *    postings for exact-Jaccard verification of candidates.
  *  - `<prefix>_sizes(doc_id, n_sh)` bucketed by doc_id: per-doc
  *    distinct-shingle counts for the Jaccard denominator.
  *  - `<prefix>_sharr(doc_id, s_arr)` bucketed by doc_id (built on demand,
  *    [[ensureShingleArrays]]): per-doc shingle ARRAYS, the layout the
  *    STREAMING ingest path verifies against — one codegen'd
  *    `array_intersect` per candidate row instead of a stateful
  *    count-distinct the streaming engine can't chain.
  *
  * Index identity: the table prefix carries the corpus directory's full
  * canonical-path hash plus all sketch parameters, and every table is
  * stamped with a file-level fingerprint of the source parquet
  * (names/sizes/mtimes — [[Warehouse.sourceFingerprint]]). Reuse requires
  * BOTH to match, so neither a same-basename different corpus nor data
  * regenerated in place can be silently read; a mismatch rebuilds.
  *
  * The delta/corpus split of the driver-contract query is deterministic
  * (`doc_id % 10 == 0` is the incoming delta) so the result is
  * DuckDB-oracle-checkable: the output equals the exact cross-split
  * trigram-Jaccard join at the threshold.
  */
object IncrementalDedup {

  private[graft] val DeltaMod = 10

  /** Sketch/layout parameters of one index instance. The containment
    * banding (cBands × cRows) must consume exactly the same signature
    * length as the dedup banding, so one aggregate feeds both tables. */
  final case class IndexParams(n: Int = 3, numBands: Int = 32,
                               rowsPerBand: Int = 4, buckets: Int = 8,
                               cBands: Int = 64, cRows: Int = 2) {
    require(cBands * cRows == numBands * rowsPerBand,
      s"containment banding ${cBands}x$cRows must reuse the ${numBands * rowsPerBand}-hash signature")
  }

  /** Table-name prefix for the index over `sfDir`'s documents: corpus
    * basename (readability) + canonical-path hash (identity) + params. */
  def indexPrefix(sfDir: String, p: IndexParams): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    s"graft_corpus_${sf}_${Warehouse.pathToken(sfDir)}_n${p.n}b${p.numBands}r${p.rowsPerBand}x${p.buckets}c${p.cBands}x${p.cRows}"
  }

  private val TableSuffixes = Seq("bands", "cbands", "postings", "sizes", "sharr")

  /** The five table names of one index instance. */
  def tableNames(prefix: String): Seq[String] = TableSuffixes.map(s => s"${prefix}_$s")

  /** Distinct word-n-gram postings of one document set. */
  private def postingsOf(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(call_function("graft_shingles", col("text"), lit(n))).as("s"))

  /** Per-doc MinHash signatures from a postings stream: `graft_minhash`
    * aggregate (map-side partials — the shuffle carries 128-long sketches,
    * not shingles). */
  private def sigsOf(postings: DataFrame, p: IndexParams): DataFrame =
    postings
      .groupBy("doc_id")
      .agg(call_function("graft_minhash", col("s"),
             lit(p.numBands * p.rowsPerBand)).as("sig"))

  /** Band-bucket stream `(band, bhash, doc_id)` at an explicit banding —
    * both the dedup (32×4) and containment (64×2) tables explode from the
    * same signature frame. */
  private def bandsFromSigs(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
        posexplode(call_function("graft_bands", col("sig"), lit(bands), lit(rows))))
      .toDF("doc_id", "band", "bhash")

  private def bandsOf(postings: DataFrame, p: IndexParams): DataFrame =
    bandsFromSigs(sigsOf(postings, p), p.numBands, p.rowsPerBand)

  /** Dedicated pool for the five independent per-table index writes: the
    * tables share no state (distinct names, distinct locations) and their
    * inputs are checkpoint-truncated, so the writes are submitted as
    * CONCURRENT Spark jobs — the documented multi-threaded-scheduling
    * pattern. On tiny ingest batches this collapses five serial rounds of
    * job-scheduling + commit-protocol latency into one; on a cluster the
    * overlap keeps executors busy across stage boundaries. */
  @transient private lazy val indexWriteEc =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(5, r => {
        val t = new Thread(r, "graft-index-write")
        t.setDaemon(true)
        t
      }))

  private def inParallel(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec = indexWriteEc
    // Try-wrapped so a failure is reported only after EVERY sibling write
    // has finished — a fail-fast await would return while sibling jobs are
    // still committing, racing any recovery drop/rebuild of those tables
    val outcomes = Await.result(
      Future.sequence(writes.map(w => Future(scala.util.Try(w())))), Duration.Inf)
    outcomes.foreach(_.get) // rethrow the first failure, siblings quiesced
  }

  /** The five per-table writes of one index extension, shared by build
    * (overwrite) and append. `cacheInput` truncates the docs frame first —
    * right for O(batch) streaming deltas whose lineage (anti-joins over
    * checkpoints) would otherwise re-run per write; WRONG for a corpus-mass
    * build, where caching the whole input would cost more than the extra
    * scans it saves (the corpus path re-reads the parquet scan instead).
    *
    * Write ORDER is load-bearing: the four content tables go concurrently,
    * then `_sizes` — the streaming replay LEDGER — commits alone, LAST. A
    * crash anywhere before the ledger write leaves the batch's docs out of
    * the ledger, so a replay re-processes them in full; a ledger that
    * could commit while a sibling content write failed would instead make
    * the replay anti-join skip docs whose bands/postings never landed — a
    * silent permanent recall hole. (Content tables committed before a
    * pre-ledger crash are recovered by the in-flight fingerprint marker:
    * the reuse gate fails and the index rebuilds — loud, never wrong.) */
  private def writeIndexTables(docs: DataFrame, prefix: String, p: IndexParams,
                               append: Boolean, cacheInput: Boolean): Unit = {
    val spark = docs.sparkSession
    // Lazy input cut (r16, guide §1.2): the eager signature cut below is
    // the first action to touch d — on this thread, before the concurrent
    // table writes exist; the writes then read d's blocks.
    val d = if (cacheInput) docs.cutLineageLazily() else docs
    val postings = postingsOf(d, p.n)
    val sigs = sigsOf(postings, p).cutLineage()
    def write(df: DataFrame, keys: Seq[String], table: String): Unit =
      if (append) Warehouse.appendBucketed(df, keys, table, p.buckets)
      else Warehouse.writeBucketed(df, keys, table, p.buckets)
    inParallel(Seq(
      () => write(bandsFromSigs(sigs, p.numBands, p.rowsPerBand),
        Seq("band", "bhash"), s"${prefix}_bands"),
      () => write(bandsFromSigs(sigs, p.cBands, p.cRows),
        Seq("band", "bhash"), s"${prefix}_cbands"),
      // Bucketed on BOTH columns: the verification join's keys are exactly
      // (doc_id, s), and Spark only plans a bucket-local join when the bucket
      // columns equal the join keys (a subset match makes the planner disable
      // the bucketed read and shuffle the store).
      () => write(postings, Seq("doc_id", "s"), s"${prefix}_postings"),
      () => write(sharrOf(d, p), Seq("doc_id"), s"${prefix}_sharr")))
    write(sizesOf(d, postings), Seq("doc_id"), s"${prefix}_sizes")
  }

  /** Build the five index tables from an explicit document set. `_sharr`
    * (per-doc shingle arrays, the STREAMING verification layout) is part of
    * the index proper — if it were built lazily on the side, a delta
    * appended before its creation could never be reconstructed and the
    * stream would silently miss near-dups of appended documents. The
    * signature aggregate is checkpointed so both band tables explode from
    * ONE computation (blocks reclaimed by the context cleaner); the five
    * table writes then run as concurrent jobs ([[indexWriteEc]]). */
  def buildIndexFrom(docs: DataFrame, prefix: String, p: IndexParams,
                     cacheInput: Boolean = false): Unit =
    writeIndexTables(docs, prefix, p, append = false, cacheInput = cacheInput)

  private def sharrOf(docs: DataFrame, p: IndexParams): DataFrame =
    docs.select(col("doc_id"),
      call_function("graft_shingles", col("text"), lit(p.n)).as("s_arr"))

  /** Per-doc distinct-shingle counts — from the DOCS frame, not the bare
    * postings aggregate: `_sizes` doubles as the streaming replay LEDGER
    * (every indexed doc_id must have a row), and a zero-shingle document
    * (fewer than n words) has no postings rows, so the aggregate-only form
    * would omit it and every stream replay would re-append its `_sharr`
    * row forever. n_sh = 0 rows are harmless on the Jaccard side: no
    * postings → no candidates → never a denominator. */
  private def sizesOf(docs: DataFrame, postings: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(postings.groupBy("doc_id").agg(count(lit(1)).as("n_sh")),
        Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_sh"))

  /** Append a dedup'd delta's fingerprints INTO the index — the maintenance
    * half of the ingest cycle (ingest → dedup → extend index). Bucketed
    * appends: new files per bucket, the bucket-local join property is
    * untouched, nothing is rewritten. ALL four tables extend together, so
    * the batch and streaming verification paths stay coherent.
    *
    * The four appends are not atomic, so the fingerprint stamps are
    * cleared to an in-flight marker first and restored only after every
    * append commits: a crash mid-append leaves the marker, the reuse gate
    * ([[Warehouse.tablesCurrent]]) fails, and the next [[buildIndex]] rebuilds from
    * the corpus instead of reading a half-extended index (appended deltas
    * must then be re-appended by the ingest pipeline — a re-run, never a
    * silent wrong answer). */
  def appendToIndex(docs: DataFrame, prefix: String, p: IndexParams,
                    cacheInput: Boolean = true): Unit = {
    val spark = docs.sparkSession
    val tables = TableSuffixes.map(s => s"${prefix}_$s")
    val missing = tables.filterNot(spark.catalog.tableExists)
    require(missing.isEmpty,
      s"appendToIndex: index '$prefix' is incomplete (missing ${missing.mkString(", ")}) — " +
        "build it first (buildIndex / buildIndexFrom)")
    val stamps = tables.map(t => t -> Warehouse.storedFingerprint(spark, t)).toMap
    tables.foreach(t => Warehouse.stampFingerprint(spark, t, InFlightMarker))
    // deltas are O(batch) → cache the input by default (see writeIndexTables)
    writeIndexTables(docs, prefix, p, append = true, cacheInput = cacheInput)
    // restore SOMETHING on every table — a never-stamped table (e.g. a
    // streaming overlay) that kept the marker after a SUCCESSFUL append
    // would be indistinguishable from a crashed one, and the crash check
    // below ([[requireNotMidAppend]]) would refuse a healthy index
    tables.foreach(t =>
      Warehouse.stampFingerprint(spark, t, stamps(t).getOrElse("unstamped")))
  }

  private[graft] val InFlightMarker = "append-in-flight"

  /** Refuse to serve an index whose tables carry the in-flight append
    * marker: a crash mid-append leaves SOME tables extended and some not
    * (the five writes are not atomic), and every answer computed against
    * that state is silently wrong — duplicated postings double Jaccard
    * intersections on replay, missing bands hide near-dups. The recovery
    * is a rebuild ([[buildIndex]]'s fingerprint gate does it
    * automatically); this check turns "serve wrong answers" into a loud
    * error for paths that reuse a prefix WITHOUT re-running the gate
    * (e.g. a checkpoint-restarted stream). */
  def requireNotMidAppend(spark: SparkSession, prefix: String): Unit = {
    val marked = tableNames(prefix)
      .filter(t => spark.catalog.tableExists(t) &&
        Warehouse.storedFingerprint(spark, t).contains(InFlightMarker))
    require(marked.isEmpty,
      s"index '$prefix' has a half-committed append (in-flight marker on " +
        s"${marked.mkString(", ")}) — rebuild it (buildIndex/buildIndexFrom) before serving")
  }

  /** Append into `prefix` if all five tables exist, else create them from
    * `docs` — the OVERLAY index write: the streaming ingest loop keeps the
    * (fingerprint-gated, shared, immutable) corpus index separate from the
    * mutable overlay that accumulates streamed survivors, and the overlay's
    * first batch must create what later batches extend. A partially-created
    * overlay (crash mid-build) rebuilds wholesale: [[buildIndexFrom]] goes
    * through [[Warehouse.writeBucketed]], which clears orphaned locations. */
  def appendOrCreate(docs: DataFrame, prefix: String, p: IndexParams): Unit =
    if (tableNames(prefix).forall(docs.sparkSession.catalog.tableExists))
      appendToIndex(docs, prefix, p)
    else buildIndexFrom(docs, prefix, p, cacheInput = true) // O(batch) input

  /** The delta-vs-store near-dup join, given an already-built index:
    *
    *  1. delta band hashes join `<prefix>_bands` on (band, bhash) —
    *     the store side reads its buckets in place;
    *  2. candidate pairs verified to exact Jaccard against
    *     `<prefix>_postings`/`<prefix>_sizes` (store side again
    *     bucket-local on doc_id), delta postings computed on the fly.
    *
    * Output: `(doc_a = delta id, doc_b = store id, jaccard)`, J ≥ t. */
  def deltaAgainst(spark: SparkSession, delta: DataFrame, prefix: String,
                   p: IndexParams, threshold: Double): DataFrame = {
    val dPostings = postingsOf(delta, p.n)
    val dBands = bandsOf(dPostings, p)

    val candidates = dBands.as("d")
      .join(spark.table(s"${prefix}_bands").as("c"), Seq("band", "bhash"))
      .select(col("d.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()

    val inter = candidates
      .join(dPostings.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(spark.table(s"${prefix}_postings").as("pb"),
        col("doc_b") === col("pb.doc_id") && col("pa.s") === col("pb.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))

    val dSizes = dPostings.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    inter
      .join(dSizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(spark.table(s"${prefix}_sizes").as("sb"),
        col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
              (col("inter").cast("double") /
               (col("sa.n_sh") + col("sb.n_sh") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup pairs WITHIN one document set — the batch-local self-join the
    * streaming ingest loop runs on each micro-batch BEFORE consulting the
    * index: two near-dup documents arriving in the same batch are invisible
    * to the index check (the index predates the batch), and once both are
    * appended as clean, the `_sizes` replay ledger shields them from every
    * later delta — a permanent recall hole unless caught here. Same
    * LSH-candidates + exact-Jaccard-verify shape as [[deltaAgainst]], both
    * sides the (small) batch, so the cost is batch-local. Output
    * `(doc_a, doc_b, jaccard)` with `doc_a > doc_b`: doc_a is the document
    * the ingest loop DROPS, keeping the smaller id as canonical — the same
    * keep-the-smaller convention as [[Dedup.dedupClusters]]. */
  def selfPairs(docs: DataFrame, p: IndexParams, threshold: Double): DataFrame = {
    val postings = postingsOf(docs, p.n)
    val bands = bandsOf(postings, p)
    val candidates = bands.as("a")
      .join(bands.as("b"), Seq("band", "bhash"))
      .filter(col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val inter = candidates
      .join(postings.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(postings.as("pb"),
        col("doc_b") === col("pb.doc_id") && col("pa.s") === col("pb.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    val sizes = postings.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
              (col("inter").cast("double") /
               (col("sa.n_sh") + col("sb.n_sh") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Index-routed DECONTAMINATION — the scale path for the containment
    * check ([[Dedup.decontaminationPairs]] is the exact form): eval→train
    * candidates come from the persisted WIDE band table (`_cbands`, 64×2 —
    * see the class doc for why the dedup banding can't route containment),
    * and asymmetric containment |eval ∩ train| / |eval| is verified on
    * candidates only against `_postings`, bucket-local on the store side.
    *
    * Why this scales where the prefix filter doesn't: the exact path's
    * candidate count tracks eval-prefix selectivity, which COLLAPSES on
    * closed-vocabulary / boilerplate-saturated corpora (every shingle's
    * train-df grows with corpus mass — measured slope 5.2 at ×10, SURVEY
    * §6.1). The band route's candidate count tracks the number of truly
    * similar pairs instead: band collisions are signature collisions, not
    * feature-frequency collisions, so saturation doesn't widen the join.
    * The trade is probabilistic recall on extreme size ratios (candidate
    * probability 1−(1−J²)⁶⁴ with J = c/(1+ρ−c)): ≈1 at ρ ≤ 2, ~0.88 at
    * ρ = 3, degrading beyond — the exact prefix-filtered path remains the
    * lossless form (and the oracle) for open-vocabulary corpora.
    * Output: unordered `(eval_id, train_id, containment)`, c ≥ t. */
  def decontaminateAgainstIndex(spark: SparkSession, evalDocs: DataFrame,
                                prefix: String, p: IndexParams,
                                threshold: Double): DataFrame = {
    val evalP = postingsOf(evalDocs, p.n)
    val evalBands = bandsFromSigs(sigsOf(evalP, p), p.cBands, p.cRows)
    val candidates = evalBands.as("d")
      .join(spark.table(s"${prefix}_cbands").as("c"), Seq("band", "bhash"))
      .select(col("d.doc_id").as("eval_id"), col("c.doc_id").as("train_id"))
      .distinct()
    val inter = candidates
      .join(evalP.as("pa"), col("eval_id") === col("pa.doc_id"))
      .join(spark.table(s"${prefix}_postings").as("pb"),
        col("train_id") === col("pb.doc_id") && col("pa.s") === col("pb.s"))
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("inter"))
    val evalSizes = evalP.groupBy("doc_id").agg(count(lit(1)).as("n_ev"))
    inter
      .join(evalSizes, col("eval_id") === evalSizes("doc_id"))
      .select(col("eval_id"), col("train_id"),
              (col("inter").cast("double") / col("n_ev").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Fingerprint the corpus+params identity of the `sfDir` index. */
  private def corpusFingerprint(sfDir: String, p: IndexParams): String =
    Warehouse.sourceFingerprint(sfDir, "documents") +
      s"|n${p.n}b${p.numBands}r${p.rowsPerBand}x${p.buckets}c${p.cBands}x${p.cRows}"

  /** Build (or reuse) the persisted corpus index over `sfDir`: everything
    * that is NOT the delta shard, fingerprinted once, bucketed on its
    * future join keys. In production this runs at corpus-build time and is
    * amortized over every later ingest; here it runs in-query so the
    * driver contract stays self-contained. Reuse is fingerprint-gated (see
    * class doc) — stale or foreign data rebuilds instead of being read. */
  def buildIndex(spark: SparkSession, sfDir: String,
                 p: IndexParams = IndexParams()): Unit = {
    val prefix = indexPrefix(sfDir, p)
    val fp = corpusFingerprint(sfDir, p)
    Warehouse.ensureDerivedTables(spark, tableNames(prefix), fp) {
      val corpus = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % DeltaMod =!= 0)
      buildIndexFrom(corpus, prefix, p)
    }
  }

  /** The `<prefix>_sharr` shingle-array table the STREAMING verification
    * path joins against — built with the rest of the index. */
  def ensureShingleArrays(spark: SparkSession, sfDir: String,
                          p: IndexParams = IndexParams()): String = {
    buildIndex(spark, sfDir, p)
    s"${indexPrefix(sfDir, p)}_sharr"
  }

  /** Driver-contract delta join over the `sfDir` mod-split. */
  def deltaAgainstIndex(spark: SparkSession, sfDir: String,
                        p: IndexParams = IndexParams(),
                        threshold: Double = 0.8): DataFrame = {
    val delta = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % DeltaMod === 0)
    deltaAgainst(spark, delta, indexPrefix(sfDir, p), p, threshold)
  }

  /** Driver-contract form: build the index, then run the delta against it. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    buildIndex(spark, sfDir)
    deltaAgainstIndex(spark, sfDir)
  }

  /** Near-dup pairs WITHIN the indexed corpus, derived ENTIRELY from the
    * persisted index tables — bands self-join for candidates, postings
    * join for exact Jaccard verification, sizes for the denominator. No
    * corpus re-scan, no re-shingling: the index already holds everything
    * pair generation needs, which is what makes the base clustering below
    * an index by-product rather than a second pipeline. */
  def trainPairsFromIndex(spark: SparkSession, sfDir: String,
                          p: IndexParams = IndexParams(),
                          threshold: Double = 0.8): DataFrame = {
    buildIndex(spark, sfDir, p)
    val prefix = indexPrefix(sfDir, p)
    val bands = spark.table(s"${prefix}_bands")
    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val postings = spark.table(s"${prefix}_postings")
    val inter = candidates
      .join(postings.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(postings.as("pb"),
        col("doc_b") === col("pb.doc_id") && col("pa.s") === col("pb.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    val sizes = spark.table(s"${prefix}_sizes")
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .filter(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double") >= threshold)
      .select("doc_a", "doc_b")
  }

  /** INCREMENTAL duplicate-cluster maintenance — the labels update when a
    * delta arrives, WITHOUT re-clustering the corpus: the persisted BASE
    * labels (connected components over the indexed corpus's own pair set,
    * built once from the index tables and fingerprint-gated with it)
    * absorb the delta through a COMPRESSED merge graph. Each new edge's
    * corpus endpoint is replaced by its base component LABEL — a base
    * component is already connected, so touching any member connects the
    * whole component — which shrinks the merge problem to the edges
    * INCIDENT TO THE DELTA: delta↔index candidates (from the persisted
    * bands) plus delta-internal self-pairs. Connected components then runs
    * over a graph of O(delta edges), not O(corpus), and since every base
    * label is its component's minimum id, the compressed minimum IS the
    * global minimum — the merged labels are exactly what a full re-run
    * would produce ([[graft.operators.Dedup.dedupClusters]]'s rows; shared
    * oracle, spec-asserted equality).
    *
    * 100 TB: per-delta cost is candidate generation against the bucketed
    * index + a CC on the delta-incident subgraph + one label-remap join;
    * the corpus-sized work (index + base CC) is paid once and reused via
    * the same fingerprint gate as the index itself. */
  def clustersIncremental(spark: SparkSession, sfDir: String,
                          p: IndexParams = IndexParams(),
                          threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    buildIndex(spark, sfDir, p)
    val prefix = indexPrefix(sfDir, p)
    val baseTable = s"${prefix}_cclabels"
    Warehouse.ensureDerivedTables(spark, Seq(baseTable),
        corpusFingerprint(sfDir, p) + s"|cc$threshold") {
      val trainPairs = trainPairsFromIndex(spark, sfDir, p, threshold)
      Warehouse.writeBucketed(
        Dedup.connectedComponents(trainPairs, "doc_a", "doc_b"),
        Seq("v"), baseTable, p.buckets)
    }
    val base = spark.table(baseTable)
    val delta = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % DeltaMod === 0)
    val cross = deltaAgainst(spark, delta, prefix, p, threshold)
    val dd = selfPairs(delta, p, threshold)
    // compress corpus endpoints to their base label (singletons to self)
    val crossC = cross
      .join(base.select(col("v").as("bv"), col("l").as("bl")),
            col("doc_b") === col("bv"), "left")
      .select(col("doc_a").as("a"), coalesce(col("bl"), col("doc_b")).as("b"))
    val ddC = dd.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val merged = Dedup.connectedComponents(crossC.unionByName(ddC), "a", "b")
    val init = Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(base.select(col("v"), col("l")), col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % DeltaMod === 0, col("doc_id"))
          .otherwise(coalesce(col("l"), col("doc_id"))).as("l0"))
    init
      .join(merged.select(col("v").as("mv"), col("l").as("ml")),
            col("l0") === col("mv"), "left")
      .select(col("doc_id"), coalesce(col("ml"), col("l0")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .orderBy("doc_id")
  }
}
