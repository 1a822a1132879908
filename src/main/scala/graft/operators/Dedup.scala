package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.operators.Lineage._
import graft.sources.Tables

/** Deduplication operators for training-data pipelines: exact (hash groupBy),
  * exact n-gram Jaccard (prefix-filtered similarity self-join), MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale design (100 TB): every variant here is join-based on a compact key
  * (digest, shingle, band hash, sign bucket) — there is NO all-pairs
  * comparison and NO driver-side collect anywhere. Candidate generation
  * shuffles O(docs × shingles-or-bands) small rows; verification touches only
  * candidate pairs. The exact Jaccard join additionally applies the
  * prefix-filtering principle (SSJoin/AllPairs/PPJoin family): only the
  * rarest `|x| - ceil(t·|x|) + 1` shingles of each document are indexed, so
  * hot shingles — the quadratic skew risk — almost never enter the join.
  *
  * Engine note: shingles are built from a posexplode'd token stream with
  * window `lead`, NOT from nested array higher-order functions. Catalyst's
  * array lambdas (`transform`/`filter`/`slice`) evaluate interpreted and are
  * re-evaluated per enclosing expression copy; the token-stream form keeps
  * the per-document tokenizer to exactly one evaluation and stays inside
  * codegen'd window/join operators. (Measured 28s → sub-second at sf0.1.)
  */
object Dedup {

  /** Exact dedup: group by content fingerprint, keep the smallest doc_id as
    * canonical. Shuffles 32-byte digests, not documents. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups", "fp")
      .orderBy("keep_id")

  /** NFC-CANONICAL exact dedup — [[dedupExact]] with the digest taken over
    * `graft_nfc(text)` instead of raw bytes: decomposed `e`+U+0301 and
    * precomposed `é` render identically and are canonically equal, but
    * their UTF-8 differs, so BYTE-level exact dedup silently keeps both
    * (normalize_text's motivating failure mode, now demonstrated inside
    * the dedup family itself). The corpus is ASCII, so — the scrub_pii
    * discipline — the audited universe is the corpus with a PRECOMPOSED
    * suffix on every document plus, for every fifth document, a twin
    * carrying the DECOMPOSED spelling of the same suffix: every planted
    * twin pair is byte-distinct (raw md5s differ — carried as
    * `needed_nfc` so the gate checks byte dedup would have missed it) yet
    * NFC-equal; organically identical texts also group (needed_nfc = 0),
    * so both classes are observable.
    *
    * 100 TB: identical to [[dedupExact]]'s shape — the normalization and
    * both digests are scan-side codegen ([[graft.functions.expressions
    * .NfcKernel]]'s ASCII fast path makes the canonical digest near-free
    * on clean corpora); one compact (fp, id) shuffle; groups partial-agg. */
  def dedupNfc(spark: SparkSession, sfDir: String): DataFrame =
    dedupNfcFrom(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))

  /** [[dedupNfc]] over an explicit `(doc_id, text)` frame — the spec's
    * entry point for hand universes with known twin structure. */
  def dedupNfcFrom(docs: DataFrame): DataFrame = {
    val composed = java.text.Normalizer.normalize(
      TextAnalysis.NfcSuffixUnit, java.text.Normalizer.Form.NFC)
    val base = docs.select(col("doc_id"),
      concat(col("text"), lit(composed)).as("t"))
    // Twin ids live in a DERIVED disjoint id space: offset = max(doc_id)+1,
    // computed as a 1-row broadcast (not a fixed constant — a constant
    // offset silently collides with real ids once the corpus outgrows it,
    // merging unrelated rows; r11 ADVICE). Twin ids stay strictly larger
    // than every base id, so canonical_id = min is always the base doc.
    val off = docs.agg(
      (coalesce(max(col("doc_id")), lit(0L)) + 1L).as("twin_off"))
    val twins = docs.filter(col("doc_id") % 5 === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("twin_off")).as("doc_id"),
              concat(col("text"), lit(TextAnalysis.NfcSuffixUnit)).as("t"))
    base.unionByName(twins)
      .select(col("doc_id"),
              md5(call_function("graft_nfc", col("t"))).as("nfc_fp"),
              md5(col("t")).as("raw_fp"))
      .groupBy("nfc_fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical_id"),
           countDistinct("raw_fp").as("n_raw"))
      .filter(col("n_docs") > 1)
      .select(col("nfc_fp"), col("n_docs"), col("canonical_id"),
              (col("n_raw") > 1).cast("bigint").as("needed_nfc"))
      .orderBy("canonical_id")
  }

  /** Distinct word-`n`-gram postings `(doc_id, s)` of every document:
    * scan → `graft_shingles` (native codegen kernel, one compiled pass per
    * document, already distinct) → explode. Zero shuffles — the postings
    * stream comes straight off the scan. */
  private[graft] def shinglePostings(spark: SparkSession, sfDir: String, n: Int): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              explode(call_function("graft_shingles", col("text"), lit(n))).as("s"))

  /** Exact Jaccard ≥ threshold from candidate pairs + the postings stream:
    * |A∩B| counted via a two-step hash join on (doc, shingle) — no document
    * arrays are materialized, only candidate pairs are touched. */
  private def verifyByPostings(candidates: DataFrame, postings: DataFrame,
                               sizes: DataFrame, threshold: Double): DataFrame = {
    val inter = candidates
      .join(postings.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(postings.as("pb"),
        col("doc_b") === col("pb.doc_id") && col("pa.s") === col("pb.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
              (col("inter").cast("double") /
               (col("sa.n_sh") + col("sb.n_sh") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact word-trigram Jaccard near-dup pairs, prefix-filtered:
    *
    *  1. postings (doc, shingle) → document-frequency per shingle;
    *  2. canonical order = (df asc, shingle asc): rarest shingles first;
    *  3. index only each doc's prefix of length |x| − ⌈t·|x|⌉ + 1 — any pair
    *     with J ≥ t must collide inside the prefixes (prefix-filtering
    *     principle), so the candidate set is provably lossless;
    *  4. size-compatibility pruning (t·|A| ≤ |B| ≤ |A|/t);
    *  5. exact Jaccard verification on candidates only.
    *
    * The ε slack on t·|x| guards against binary-float rounding of the
    * threshold pushing ceil/compare the wrong way — it can only ADD
    * candidates, never drop a true pair. Ground truth for the approximate
    * variants; `dedup_minhash` shares its oracle. */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String, n: Int = 3,
                        threshold: Double = 0.8): DataFrame =
    ngramPairsUnordered(spark, sfDir, n, threshold).orderBy("doc_a", "doc_b")

  /** [[ngramJaccardPairs]] without the presentation sort — the form other
    * operators (clustering) consume, so no global sort runs below a join. */
  private[graft] def ngramPairsUnordered(spark: SparkSession, sfDir: String, n: Int = 3,
                                         threshold: Double = 0.8): DataFrame = {
    val eps = 1e-9
    // EAGER truncation at every reuse point (r16 — guide §1.2 don't
    // recompute, §5 cache on reuse): the un-truncated plan referenced
    // postings five times (sizes, df, prefix base, both verify probes)
    // and each reference re-ran the tokenize+shingle explode scan —
    // measured as the dominant cost of the whole family at bench scale
    // and a full corpus re-scan each at 100 TB. postings materializes
    // once (shingle mass, MEMORY_AND_DISK so it spills, never OOMs);
    // sizes (doc-mass) and prefix (the blocker index, ~(1−t)·|x|+1 rows
    // per doc by construction) are each read 2–3 times downstream.
    val postings = shinglePostings(spark, sfDir, n).cutLineage()
    val sizes = postings.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .cutLineage()
    val df = postings.groupBy("s").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
    val prefix = postings
      .join(df, "s")
      .withColumn("rk", row_number().over(byRarity))
      .join(sizes, "doc_id")
      .filter(col("rk") <= col("n_sh") - ceil(lit(threshold) * col("n_sh") - eps) + 1)
      .select("doc_id", "s", "n_sh")
      .cutLineage()
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n_sh").cast("double") >= lit(threshold) * col("a.n_sh") - eps &&
          col("a.n_sh").cast("double") >= lit(threshold) * col("b.n_sh") - eps)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyByPostings(candidates, postings, sizes, threshold)
  }

  /** AUTO-ROUTED near-dup pairs — acting on the measured saturation
    * regime instead of documenting it: `vocab_growth` measures exactly
    * the regime where the exact prefix-filtered join goes quadratic
    * (closed vocabulary ⇒ rare-feature pruning collapses, SURVEY §6.1),
    * and the LSH path is proven output-equal at the threshold — but until
    * now nothing ROUTED between them. Decision rule (declared, shared
    * with the oracle): a word type's contribution is its FIRST corpus
    * slice; if fewer than [[DedupAutoLatePermille]]‰ of all types first
    * appear AFTER slice 0 (the vocabulary was already saturated in the
    * first decile), prefix selectivity is gone → take the LSH route;
    * otherwise the exact route. The routed pair set is IDENTICAL either
    * way (the `dedup_minhash` ≡ `dedup_ngram` theorem at b=32/r=4,
    * t=0.8), so the route changes the PLAN, never the answer — DedupSpec
    * proves pair-set equality on both synthetic regimes and that each
    * regime picks the expected route (the `salted_distinct` discipline
    * applied to a route choice). Output carries the chosen route, so the
    * decision itself is hash-gated.
    *
    * The decision reads [[graft.operators.TextAnalysis.vocabGrowth]]'s
    * ≤`slices` metadata rows on the driver (the bounded-collect class) —
    * at 100 TB that measurement is one (word, min-slice) shuffle the
    * corpus profile job already runs. */
  val DedupAutoLatePermille = 100L

  def dedupAuto(spark: SparkSession, sfDir: String, n: Int = 3,
                threshold: Double = 0.8): DataFrame = {
    // Route invariance (LSH pair set ≡ exact pair set) is a theorem ONLY at
    // t=0.8 under the fixed b=32/r=4 banding — at any other threshold the
    // two routes could return different answers and the regime would pick
    // which one the caller gets. Refuse rather than silently diverge.
    require(threshold == 0.8,
      s"dedupAuto route equivalence is proven only at threshold 0.8 " +
      s"(b=32/r=4 banding); got $threshold — call ngramJaccardPairs or " +
      s"minhashNearDupPairs directly for other thresholds")
    val route = dedupRoute(spark, sfDir)
    val pairs =
      if (route == "lsh") minhashPairsUnordered(spark, sfDir, n, threshold = threshold)
      else ngramPairsUnordered(spark, sfDir, n, threshold)
    pairs.select(col("doc_a"), col("doc_b"), col("jaccard"),
                 lit(route).as("route"))
      .orderBy("doc_a", "doc_b")
  }

  /** ROUTE AUDIT (`route_audit`) — the observability row behind every
    * auto-routed family: the measured saturation inputs (total word
    * types, slice-0 types, the late-type permille) next to the declared
    * cut and the verdict both routers act on. The row a pipeline
    * operator reads to understand WHY dedup_auto / decontaminate_auto
    * took the path they took — the decision's evidence, hash-gated like
    * the decision itself. One (word, min-slice) shuffle; everything
    * after is ≤slices metadata rows. */
  def routeAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fs = TextAnalysis.vocabGrowth(spark, sfDir)
      .select(col("slice"), col("new_types"))
      .agg(sum("new_types").as("total_types"),
           sum(when(col("slice") === 0L, col("new_types")).otherwise(0L))
             .as("slice0_types"))
      .select(col("total_types"), col("slice0_types"),
        when(col("total_types") === 0L, lit(0L))
          .otherwise(expr("(total_types - slice0_types) * 1000 div total_types"))
          .as("late_permille"))
      .withColumn("cut_permille", lit(DedupAutoLatePermille))
      .withColumn("route",
        when(col("total_types") > 0L &&
             col("late_permille") < col("cut_permille"), "lsh")
          .otherwise("exact"))
    Seq("decontaminate_auto", "dedup_auto").toDF("family")
      .crossJoin(broadcast(fs))
      .orderBy("family")
  }

  /** The route decision alone — "lsh" iff the measured late-type share is
    * under the declared permille cut. */
  private[graft] def dedupRoute(spark: SparkSession, sfDir: String): String = {
    val vg = TextAnalysis.vocabGrowth(spark, sfDir)
      .select(col("slice"), col("new_types")).collect()
    val total = vg.map(_.getLong(1)).sum
    val slice0 = vg.filter(_.getLong(0) == 0L).map(_.getLong(1)).sum
    if (total > 0L && (total - slice0) * 1000L < DedupAutoLatePermille * total)
      "lsh"
    else "exact"
  }

  /** AUTO-ROUTED decontamination — [[dedupAuto]]'s saturation rule
    * applied to the OTHER quadratic-prone family (SURVEY §6.1 names both:
    * the exact containment join's eval-prefix selectivity collapses in
    * the same closed-vocabulary regime): a slice-0-saturated vocabulary
    * routes to the persisted containment-band index
    * ([[decontaminationIndexed]] — measured ×10 slope 0.52 vs the exact
    * path's 7.76 in that regime), an open vocabulary keeps the exact
    * prefix-filtered join. Both paths emit the identical pair set on the
    * driver corpus (the decontaminate_indexed contract — its shared
    * oracle is the exact join), and the route rides in the output so the
    * decision is hash-gated. */
  def decontaminateAuto(spark: SparkSession, sfDir: String, n: Int = 3,
                        threshold: Double = 0.6): DataFrame = {
    // Same exposure as [[dedupAuto]]: the containment-band index's
    // pair-set equality with the exact join is proven at t=0.6 only.
    require(threshold == 0.6,
      s"decontaminateAuto route equivalence is proven only at threshold " +
      s"0.6 (the banded index's contract); got $threshold — call " +
      s"decontaminationPairs directly for other thresholds")
    val route = dedupRoute(spark, sfDir)
    val pairs =
      if (route == "lsh") decontaminationIndexedUnordered(spark, sfDir, n, threshold)
      else decontaminationUnordered(spark, sfDir, n, threshold)
    pairs.select(col("eval_id"), col("train_id"), col("containment"),
                 lit(route).as("route"))
      .orderBy("eval_id", "train_id")
  }

  /** Benchmark decontamination — the train/eval overlap check every LLM
    * data pipeline runs before training: for each EVAL document (the
    * deterministic `doc_id % 10 == 0` shard, standing in for a benchmark
    * set), find TRAIN documents containing ≥ `threshold` of its distinct
    * word-n-grams. CONTAINMENT |A∩B|/|A| — asymmetric, unlike Jaccard: a
    * short eval prompt buried in a long train document is exactly what must
    * be caught, and symmetric similarity misses it.
    *
    * Scale shape: prefix filtering adapts to the containment bound — if
    * |A∩B|/|A| ≥ t then B must hit the first |A| − ⌈t·|A|⌉ + 1 of A's
    * shingles in a global canonical order, so only that prefix of the eval
    * side is indexed. Order = train document-frequency ascending (rarest
    * first): hot shingles stay out of the candidate join, and eval shingles
    * ABSENT from train (df 0, sorted first) consume prefix slots while
    * generating zero candidates. Verification touches candidates only.
    * Output: `(eval_id, train_id, containment)`. */
  def decontaminationPairs(spark: SparkSession, sfDir: String, n: Int = 3,
                           threshold: Double = 0.6): DataFrame =
    decontaminationUnordered(spark, sfDir, n, threshold)
      .orderBy("eval_id", "train_id")

  /** [[decontaminationPairs]] without the presentation sort — the form
    * compositions (corpus_export) consume below further joins. */
  private[graft] def decontaminationUnordered(spark: SparkSession, sfDir: String,
                                              n: Int = 3, threshold: Double = 0.6): DataFrame = {
    // ONE shingle explode (r16, guide §1.2): decontaminationFor references
    // its eval side 3× and train side 3×, and each un-truncated reference
    // re-ran the explode scan — six evaluations per query. Both sides are
    // filters over one materialized postings frame (MEMORY_AND_DISK).
    val postings = shinglePostings(spark, sfDir, n).cutLineage()
    decontaminationFor(
      postings.filter(col("doc_id") % 10 === 0),
      postings.filter(col("doc_id") % 10 =!= 0),
      threshold)
  }

  /** INDEX-ROUTED decontamination — same result as
    * [[decontaminationPairs]] on this corpus, but candidates come from the
    * persisted containment band index instead of the prefix-filtered join:
    * the scale path for closed-vocabulary / boilerplate-saturated corpora,
    * where the exact path's eval-prefix selectivity collapses (measured
    * slope 5.2 at ×10; SURVEY §6.1). Shares `dedup_incremental`'s index —
    * the "train" side IS that index's corpus shard, so one fingerprint-
    * gated build serves ingest dedup, streaming near-dup AND
    * decontamination. Recall trade documented at
    * [[IncrementalDedup.decontaminateAgainstIndex]]; the exact containment
    * join remains the oracle. */
  def decontaminationIndexed(spark: SparkSession, sfDir: String, n: Int = 3,
                             threshold: Double = 0.6): DataFrame =
    decontaminationIndexedUnordered(spark, sfDir, n, threshold)
      .orderBy("eval_id", "train_id")

  /** [[decontaminationIndexed]] without the presentation sort — the form
    * compositions (corpus_export artifacts) consume below further joins. */
  private[graft] def decontaminationIndexedUnordered(spark: SparkSession, sfDir: String,
                                                     n: Int = 3, threshold: Double = 0.6): DataFrame = {
    val p = IncrementalDedup.IndexParams(n = n)
    IncrementalDedup.buildIndex(spark, sfDir, p)
    val evalDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % IncrementalDedup.DeltaMod === 0)
    IncrementalDedup.decontaminateAgainstIndex(
      spark, evalDocs, IncrementalDedup.indexPrefix(sfDir, p), p, threshold)
  }

  /** Generic core of [[decontaminationPairs]] over explicit eval/train
    * shingle-posting streams `(doc_id, s)` — the form property tests and
    * bring-your-own-split pipelines call. Unordered. */
  private[graft] def decontaminationFor(evalP: DataFrame, trainP: DataFrame,
                                        threshold: Double): DataFrame = {
    val eps = 1e-9
    // doc-mass aggregate read twice (prefix length bound + the final
    // containment denominator) — truncate once (r16, guide §1.2)
    val evalSizes = evalP.groupBy("doc_id").agg(count(lit(1)).as("n_ev"))
      .cutLineage()
    val trainDf = trainP.groupBy("s").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df").asc, col("s").asc)
    val prefix = evalP
      .join(trainDf, Seq("s"), "left")
      .na.fill(0L, Seq("df"))
      .withColumn("rk", row_number().over(byRarity))
      .join(evalSizes, "doc_id")
      .filter(col("rk") <= col("n_ev") - ceil(lit(threshold) * col("n_ev") - eps) + 1)
      .select(col("doc_id").as("eval_id"), col("s"))
    val candidates = prefix
      .join(trainP.select(col("doc_id").as("train_id"), col("s")), "s")
      .select("eval_id", "train_id")
      .distinct()
    val inter = candidates
      .join(evalP.as("pa"), col("eval_id") === col("pa.doc_id"))
      .join(trainP.as("pb"),
        col("train_id") === col("pb.doc_id") && col("pa.s") === col("pb.s"))
      .groupBy("eval_id", "train_id")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(evalSizes, col("eval_id") === evalSizes("doc_id"))
      .select(col("eval_id"), col("train_id"),
              (col("inter").cast("double") / col("n_ev").cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ---------------------------------------------------------------- MinHash

  /** Deterministic MinHash permutation parameters: h_i(x) = (a_i·x + b_i)
    * mod p over a 64-bit base hash of the shingle. Fixed seed → stable
    * signatures across runs and executors. */
  private val MinhashPrime = 2305843009213693951L // 2^61 - 1
  private[graft] def minhashParams(numHashes: Int, seed: Long = 42L): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    // re-draw on Long.MinValue: math.abs(Long.MinValue) is NEGATIVE, which
    // would put a multiplier/offset outside [0, p) and break the hash
    // contract for that seed. Re-drawing (not masking) keeps the parameter
    // stream — and therefore every persisted signature — identical to the
    // historical values for all seeds that never hit the edge case.
    def absDraw(): Long = {
      var x = rnd.nextLong()
      while (x == Long.MinValue) x = rnd.nextLong()
      math.abs(x)
    }
    Array.fill(numHashes)((absDraw() % (MinhashPrime - 1) + 1,
                           absDraw() % MinhashPrime))
  }

  /** Fold ONE shingle into a running MinHash signature (the `update` step of
    * the `graft_minhash` Catalyst aggregate — elementwise min keeps it
    * associative/commutative for partial aggregation). */
  private[graft] def minhashUpdate(sig: Array[Long], s: String,
                                   params: Array[(Long, Long)]): Unit = {
    val h = TextAnalysis.stringHash64(s) & Long.MaxValue
    var i = 0
    while (i < params.length) {
      val (a, b) = params(i)
      var v = mulModMersenne61(a, h % MinhashPrime) + b
      if (v >= MinhashPrime) v -= MinhashPrime
      if (v < sig(i)) sig(i) = v
      i += 1
    }
  }

  /** MinHash signature of a shingle set (library form, used by tests and the
    * typed API). */
  private[graft] def minhashSignature(shingles: Iterable[String],
                                          params: Array[(Long, Long)]): Array[Long] = {
    val sig = Array.fill(params.length)(Long.MaxValue)
    shingles.foreach(minhashUpdate(sig, _, params))
    sig
  }

  /** (a·b) mod (2^61-1) without overflow. For p = 2^61-1, 2^61 ≡ 1 (mod p),
    * so reduce the 128-bit product by folding its high bits: x mod p =
    * (x & (2^61-1)) + (x >> 61), repeated. */
  private def mulModMersenne61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // a,b < 2^61 → product < 2^122
    val lo = a * b                   // low 64 bits
    val low61 = lo & MinhashPrime                  // x mod 2^61
    val high = (lo >>> 61) | (hi << 3)             // x >> 61 (< 2^61)
    var s = low61 + high
    if (s >= MinhashPrime) s -= MinhashPrime
    s
  }

  /** Distinct word-n-gram shingles computed in compiled Scala — the typed
    * counterpart of `shinglePostings` for per-document signature functions
    * (bit-identical tokenization: `tokenizeScala` == `tokenize`). */
  private[graft] def shinglesScala(text: String, n: Int): Array[String] = {
    val ws = tokenizeScala(text)
    if (ws.length < n) Array.empty
    else {
      val seen = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= ws.length) {
        val sb = new StringBuilder(ws(i))
        var j = 1
        while (j < n) { sb.append(' ').append(ws(i + j)); j += 1 }
        seen += sb.result()
        i += 1
      }
      seen.toArray
    }
  }

  /** MinHash + LSH banding near-dup pairs:
    * shingle postings → `graft_minhash` AGGREGATE (per-doc signature with
    * map-side partial aggregation — the shuffle carries 128-long sketches,
    * not shingles) → `graft_bands` band hashes → bucket join → exact
    * Jaccard verification on the candidate pairs only.
    * With b=32, r=4 the detection probability at j=0.8 is
    * 1-(1-0.8⁴)³² ≈ 1 − 5·10⁻⁸ — effectively exhaustive at the threshold
    * while examining a tiny fraction of the n² pair space (the scale path
    * when even the prefix-filtered exact join is too wide).
    *
    * `maxBucket` is the skew guard for degenerate band buckets. The pair
    * OUTPUT of a duplicate cluster is inherently quadratic (the exact
    * oracle's too), so the default cap is high enough never to engage on
    * realistic duplication — which is what keeps this query's output equal
    * to the exact n-gram join (the shared-oracle precondition). Lowering it
    * bounds worst-case work on adversarial corpora at the cost of dropping
    * the capped buckets' pairs. */
  def minhashLshPairs(spark: SparkSession, sfDir: String, n: Int = 3,
                      numBands: Int = 32, rowsPerBand: Int = 4,
                      threshold: Double = 0.8, maxBucket: Int = 100000): DataFrame =
    minhashPairsUnordered(spark, sfDir, n, numBands, rowsPerBand, threshold, maxBucket)
      .orderBy("doc_a", "doc_b")

  /** [[minhashLshPairs]] without the presentation sort — the form other
    * operators (clustering) consume, so no global sort runs below a join. */
  private[graft] def minhashPairsUnordered(spark: SparkSession, sfDir: String, n: Int = 3,
                      numBands: Int = 32, rowsPerBand: Int = 4,
                      threshold: Double = 0.8, maxBucket: Int = 100000): DataFrame = {
    // EAGER truncation at every reuse point (r16 — guide §1.2/§5, the
    // ngramPairsUnordered rationale): postings fed four plan references
    // (bands, sizes, both verify probes) and bands fed three (the
    // oversized-bucket count, the anti-join stream, both self-join sides
    // via bounded) — so the MINHASH AGGREGATE, the most expensive stage
    // of the pipeline, ran up to four times per query. Each frame now
    // computes exactly once; every later reference is a cache read.
    val postings = shinglePostings(spark, sfDir, n).cutLineage()

    // (band, bandHash, doc_id) — the LSH bucket stream, fully relational:
    // aggregate to signatures, band-hash with the compiled kernel, explode.
    val bands = postings
      .groupBy("doc_id")
      .agg(call_function("graft_minhash", col("s"),
             lit(numBands * rowsPerBand)).as("sig"))
      .select(col("doc_id"),
              posexplode(call_function("graft_bands", col("sig"),
                lit(numBands), lit(rowsPerBand))))
      .toDF("doc_id", "band", "bhash")
      .cutLineage()

    // Guard against degenerate buckets before the self-join (skew control).
    val bounded = dropOversizedBuckets(bands, maxBucket).cutLineage()

    val candidates = bounded.as("x")
      .join(bounded.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    val sizes = postings.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .cutLineage()
    verifyByPostings(candidates, postings, sizes, threshold)
  }

  /** Skew guard for LSH band buckets: drop every row of a (band, bhash)
    * bucket larger than `maxBucket`. A groupBy-count of the bucket keys
    * anti-joined back onto the stream — a cheap partial-aggregated count
    * instead of a per-row window count, which forced a full sort of the
    * bands stream. The oversized-key set is usually empty/tiny, but on an
    * adversarial corpus it can reach rows/maxBucket keys — so the join
    * strategy is left to AQE, which broadcasts when the runtime size is
    * small and falls back to a shuffled anti-join when it is not, instead
    * of a hint that could OOM the driver at 100 TB. */
  private def dropOversizedBuckets(bands: DataFrame, maxBucket: Int): DataFrame = {
    val oversized = bands.groupBy("band", "bhash")
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > maxBucket)
      .select("band", "bhash")
    bands.join(oversized, Seq("band", "bhash"), "left_anti")
  }

  // ------------------------------------------------- Connected components

  /** Connected components of an undirected edge list: every vertex labeled
    * with the smallest vertex id reachable from it.
    *
    * Algorithm: alternating large-star / small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    * O(log² n) rounds on ANY graph, long chains included, where plain
    * min-label propagation needs O(diameter). Each half-round is one shuffle
    * aggregate (per-vertex neighborhood min) plus one shuffle join (attach
    * that min back to the edges); convergence is a distributed fixed-point
    * check (edge set unchanged), never a collect. The fixed point is a union
    * of stars centered at each component's minimum vertex, which IS the
    * labeling. Lineage is cut per round ([[Lineage]]) so the plan doesn't
    * grow with the iteration count: each star round references its input
    * several times, so an uncut plan grows exponentially with the round
    * count (measured as an OOM in plan stringification within ~8 rounds).
    *
    * Throws if `maxIter` is hit before the fixed point rather than return a
    * wrong labeling. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50): DataFrame = {
    // Canonical directed form (u > v), self-loops dropped, dedup'd.
    // Materialized BEFORE the first round: every round references its input
    // twice (symmetrize + min-join), and without truncation the (possibly
    // expensive) upstream pair join would execute twice.
    // Lazy cut: the count below is its first action. The INNER largeStar
    // cut stays eager: smallStar references it twice (the symmetrize
    // union), two same-stage branches that would race a lazy frame.
    var cur = edges
      .select(greatest(col(srcCol), col(dstCol)).as("u"),
              least(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .cutLineageLazily()
    var nCur = cur.count()
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIter) {
      val next = smallStar(largeStar(cur).cutLineage()).cutLineageLazily()
      val nNext = next.count()
      // Both sides are distinct canonical sets: equal size + empty
      // left-anti difference ⟺ identical edge sets ⟺ star fixed point.
      converged = nNext == nCur &&
        next.join(cur, Seq("u", "v"), "left_anti").isEmpty
      cur = next
      nCur = nNext
      rounds += 1
    }
    require(converged, s"connectedComponents: no fixpoint after $maxIter rounds")
    // Star state: every edge is (member, center). Centers label themselves.
    cur.select(col("u").as("v"), col("v").as("l"))
      .union(cur.select(col("v").as("v"), col("v").as("l")))
      .distinct()
  }

  /** Large-star round: every vertex connects its strictly-larger neighbors
    * to the minimum of its closed neighborhood. Input and output are
    * canonical (u > v) distinct edge sets. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u").as("x"), least(col("u"), col("mn")).as("m"))
    // (y, m(x)) for y ∈ Γ(x), y > x; m(x) ≤ x < y keeps it canonical and
    // self-loop-free by construction.
    sym.join(m, col("u") === col("x"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star round: every vertex connects its smaller neighbors (and
    * itself) to the minimum of that set. Canonical in, canonical out. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val m = edges.groupBy("u").agg(min("v").as("m"))
    val nbr = edges.join(m, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v")) // v > m: m is the min
    nbr.union(m.select(col("u"), col("m").as("v"))) // u > m likewise
      .distinct()
  }

  /** Build (or fingerprint-validated reuse) the PERSISTED cluster-label
    * table over `sfDir`'s documents: connected components over the LSH
    * near-dup pair graph, stored as `(v, l)` — vertex → smallest reachable
    * doc_id, non-singleton vertices only. The labels are the shared
    * artifact under every cluster consumer ([[dedupClusters]], the export
    * pipeline's canonical-document filter): pair generation + CC are the
    * two most expensive stages in the family, and they depend only on the
    * corpus state — so they run once per corpus, not once per query.
    * Returns the table name. */
  def ensureClusterLabels(spark: SparkSession, sfDir: String, n: Int = 3,
                          threshold: Double = 0.8): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_clusters_${sf}_${graft.sources.Warehouse.pathToken(sfDir)}" +
      s"_n${n}j${(threshold * 100).round}_labels"
    // full-precision params in the FINGERPRINT (the name's rounded form is
    // readability only — thresholds rounding to the same integer must not
    // silently share a table)
    val fp = graft.sources.Warehouse.sourceFingerprint(sfDir, "documents") +
      s"|n${n}j$threshold"
    graft.sources.Warehouse.ensureDerivedTables(spark, Seq(table), fp) {
      // Pair source = MinHash LSH + exact verification, whose output equals
      // the exact prefix-filtered join at the threshold (the dedup_minhash /
      // dedup_ngram shared-oracle argument) — and whose measured scale slope
      // is ~10× better on closed-vocabulary corpora where prefix selectivity
      // collapses (SURVEY §6.1). Same clusters, the scale-path generator.
      val pairs = minhashPairsUnordered(spark, sfDir, n, threshold = threshold)
      val labels = connectedComponents(pairs, "doc_a", "doc_b")
      graft.sources.Warehouse.writeBucketed(labels, Seq("v"), table, 8)
    }
    table
  }

  /** Duplicate-cluster assignment — the step after pair finding in any real
    * dedup pipeline: every document labeled with its cluster's canonical
    * representative (smallest reachable doc_id; edge-less documents are
    * their own singleton cluster) and the cluster size. Reads the
    * PERSISTED label table ([[ensureClusterLabels]]) — a repeat run, or
    * any other cluster consumer, costs a label-table join instead of the
    * LSH self-join + CC rounds. */
  def dedupClusters(spark: SparkSession, sfDir: String, n: Int = 3,
                    threshold: Double = 0.8): DataFrame = {
    val labels = spark.table(ensureClusterLabels(spark, sfDir, n, threshold))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .join(labels, col("doc_id") === col("v"), "left")
      .select(col("doc_id"), coalesce(col("l"), col("doc_id")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .orderBy("doc_id")
  }

  /** Canonical-SURVIVOR selection — the decision step a real dedup pipeline
    * runs after clustering: from every non-singleton duplicate cluster,
    * keep the HIGHEST-QUALITY member (rule-based [[TextAnalysis
    * .qualityUnordered]] score; ties broken by smallest doc_id so the
    * choice is deterministic), not merely the smallest id. "Which copy
    * survives" matters at training time: near-dup clusters routinely mix a
    * clean original with truncated or boilerplate-wrapped variants, and
    * min-id keeps whichever happened to be crawled first.
    *
    * Output: one row per non-singleton cluster — size, surviving doc, its
    * quality, and the drop count. Singletons are implicitly kept and
    * carry no decision, so they stay out of the report.
    *
    * 100 TB story: reads the PERSISTED label table (pairs + connected
    * components are paid once per corpus, [[ensureClusterLabels]]); the
    * quality join touches only clustered vertices (the duplicated tail,
    * not the corpus); the argmax is a single `max(struct(quality,
    * −doc_id))` hash aggregate — map-side partial, no window, one shuffle
    * on cluster_id. */
  def clusterCanonical(spark: SparkSession, sfDir: String, n: Int = 3,
                       threshold: Double = 0.8): DataFrame = {
    val labels = spark.table(ensureClusterLabels(spark, sfDir, n, threshold))
    // Left join: a clustered doc below the quality filter's word floor
    // (zero words) still needs a defined score for the argmax.
    val quality = TextAnalysis.qualityUnordered(spark, sfDir)
    labels
      .join(quality, labels("v") === quality("doc_id"), "left")
      .select(col("l").as("cluster_id"), col("v"),
              coalesce(col("quality"), lit(0.0)).as("q"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
           max(struct(col("q"), (-col("v")).as("neg_id"))).as("best"))
      .select(col("cluster_id"), col("cluster_size"),
              (-col("best.neg_id")).as("keep_id"),
              col("best.q").as("keep_quality"),
              (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Duplication ACCOUNTING — the cluster-size histogram a dedup run is
    * judged by: for each cluster size, how many clusters, how many
    * documents they hold, and how many a keep-one policy would drop. The
    * "how duplicated is this corpus" readout (Lee et al. report exactly
    * this curve) that decides whether near-dup dedup is worth its cost on
    * a given source.
    *
    * 100 TB: reads the PERSISTED label table (LSH pairs + connected
    * components paid once, [[ensureClusterLabels]]); two cheap aggregates
    * — cluster sizes (shuffle keyed on cluster_id, map-side combine),
    * then the histogram over one row per CLUSTER, a frame already far
    * smaller than the corpus. */
  def dedupReport(spark: SparkSession, sfDir: String, n: Int = 3,
                  threshold: Double = 0.8): DataFrame = {
    val labels = spark.table(ensureClusterLabels(spark, sfDir, n, threshold))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .join(labels, col("doc_id") === col("v"), "left")
      .select(coalesce(col("l"), col("doc_id")).as("cluster_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
              (col("cluster_size") * col("n_clusters")).as("n_docs"),
              ((col("cluster_size") - 1) * col("n_clusters")).as("n_dropped"))
      .orderBy("cluster_size")
  }

  /** Contamination REPORT — the release-gate summary over
    * [[decontaminationIndexed]]'s pair set: per eval-document source, how
    * many eval docs exist, how many are contained in the training corpus,
    * and the contamination rate. The per-benchmark table an eval release
    * ships with ("x% of source S leaks from training data"); the pair
    * list says WHICH docs leak, this says WHETHER a benchmark is usable.
    *
    * 100 TB: the pair set rides the persisted containment index (band
    * candidates only); the report is a distinct over eval_ids (already
    * only the contaminated tail) left-joined back to the eval shard and
    * one per-source aggregate — no corpus-sized shuffle anywhere. */
  def contaminationReport(spark: SparkSession, sfDir: String): DataFrame = {
    val contaminated = decontaminationIndexedUnordered(spark, sfDir)
      .select(col("eval_id").as("doc_id")).distinct()
      .withColumn("hit", lit(1L))
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % IncrementalDedup.DeltaMod === 0)
      .select(col("doc_id"), col("source"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_eval"),
           sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_rate",
        graft.functions.NumericFunctions.duckRound(
          col("n_contaminated").cast("double") / col("n_eval").cast("double"), 4))
      .orderBy("source")
  }

  /** COMPLIANCE TAKEDOWN with near-dup PROPAGATION — the removal-request
    * op (DMCA, GDPR, licensing pullback): deleting only the documents that
    * MATCH the request leaves their near-duplicate copies in the corpus —
    * crawls duplicate content across sources, so a takedown that doesn't
    * close over duplicate clusters silently ships the removed content
    * under another source id. This emits the full removal MANIFEST: every
    * document in any cluster touched by the request, tagged `direct`
    * (matched the request) or `cluster` (a propagated copy) — the audit
    * trail a compliance process files, and the exclusion list the next
    * export consumes.
    *
    * 100 TB: rides the PERSISTED cluster labels (no pair re-run); the
    * touched-cluster set is tiny (broadcast), so the manifest join never
    * shuffles the corpus. On this corpus src3+src13 propagate to copies
    * under four OTHER sources — the spec pins that the closure catches
    * them. */
  def takedownPropagate(spark: SparkSession, sfDir: String,
                        sources: Seq[String] = Seq("src3", "src13"),
                        n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val labels = spark.table(ensureClusterLabels(spark, sfDir, n, threshold))
    val labeled = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .join(labels, col("doc_id") === col("v"), "left")
      .select(col("doc_id"), col("source"),
              coalesce(col("l"), col("doc_id")).as("cluster_id"))
    val touched = labeled
      .filter(col("source").isin(sources: _*))
      .select("cluster_id").distinct()
    labeled
      .join(broadcast(touched), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(col("source").isin(sources: _*), "direct")
          .otherwise("cluster").as("reason"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash of a token multiset: per-bit vote of the tokens' MD5
    * lower halves (`md5Low64` == DuckDB `md5_number_lower`, which makes the
    * whole sketch SQL-oracle-expressible). Deterministic. */
  private[graft] def simhash64(tokens: Iterable[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h = TextAnalysis.md5Low64(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** SimHash near-dup pairs: 64-bit signature, bucketed by its four 16-bit
    * bands (pigeonhole: any pair within Hamming distance 3 agrees exactly on
    * at least one band), verified with `bit_count(a^b) <= maxHamming` — a
    * built-in, codegen'd popcount.
    *
    * `maxBucket` caps a band bucket before the self-join (skew guard). The
    * pair OUTPUT of any within-distance cluster is inherently quadratic (the
    * oracle's too), so the default cap is high enough to never engage on
    * realistic duplication; lowering it trades completeness (and oracle
    * equality) for bounded work on adversarial corpora. */
  def simhashPairs(spark: SparkSession, sfDir: String,
                   maxHamming: Int = 3, maxBucket: Int = 100000): DataFrame = {
    // `graft_simhash` is a native codegen kernel (one compiled pass per
    // document, fused into the scan) — the typed Dataset.map it replaced
    // deserialized every row and ran interpreted outside codegen. The
    // signature table (16 bytes/row) is materialized ONCE because the plan
    // reads it four times (skew guard + both self-join sides) and nothing
    // else makes those subtrees shareable once one join side broadcasts;
    // re-running the MD5 tokenizer per read would quadruple the dominant
    // scan cost. Cut (not persisted): in the default mode the blocks are
    // reclaimed by the context cleaner when the DataFrame is unreferenced,
    // so nothing leaks into later queries.
    val sigs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), call_function("graft_simhash", col("text")).as("sig"))
      .cutLineage()

    // Band key must be the UNSIGNED low 16 bits: a signed `% 65536` would
    // give negative keys for negative signatures in band 0 (shift 0 is a
    // no-op), silently dropping qualifying pairs that differ in bit 63.
    val bands = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
               shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bhash"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bhash").as("bhash"))

    val bounded = dropOversizedBuckets(bands, maxBucket)

    val pairs = bounded.as("x")
      .join(bounded.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
              col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()

    pairs
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------------------- Embeddings

  /** Embedding-cosine near-dup pairs, sign-bucket blocked: vectors are
    * bucketed by the sign pattern of their leading dimensions (an exact,
    * deterministic blocking key), cosine is computed only within buckets.
    * Semantics: all same-bucket pairs with cosine ≥ threshold. */
  def embeddingDedupPairs(spark: SparkSession, sfDir: String,
                          signBits: Int = 8, threshold: Double = 0.3): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
              VectorFunctions.signBucket(col("embedding"), signBits).as("bkt"))
    e.as("a")
      .join(e.as("b"), col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
              VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** DEDUP THRESHOLD CURVE — the "choose your threshold" table a dedup
    * rollout reads before committing: for each candidate Jaccard
    * threshold, how many near-dup pairs exist and how many documents a
    * keep-one-per-pair-graph pass would touch. Dedup aggressiveness is
    * the single most consequential knob in corpus prep (too low deletes
    * legitimate templated content, too high ships memorization fuel);
    * this emits the pair-mass curve so the knob is set from measurements.
    * Pairs are generated ONCE at the curve's floor by the LSH generator
    * RE-TUNED for that floor — 64 bands × 2 rows, so detection at
    * j = 0.7 is 1 − (1 − 0.7²)⁶⁴ ≈ 1 − 10⁻¹⁹, effectively exhaustive,
    * and the exact-verified output provably equals the exact join (the
    * `dedup_minhash` argument at the lower threshold; the SQL oracle IS
    * the exact join). Each surviving pair then counts toward every curve
    * point it clears — a |thresholds|-way conditional aggregate over one
    * pair set, not |thresholds| joins. */
  def dedupThresholdCurve(spark: SparkSession, sfDir: String, n: Int = 3,
                          floor: Double = 0.7): DataFrame = {
    val thresholds = Seq(0.7, 0.75, 0.8, 0.85, 0.9, 0.95)
    val pairs = minhashPairsUnordered(spark, sfDir, n,
      numBands = 64, rowsPerBand = 2, threshold = floor)
    pairs
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_pairs"),
           countDistinct(col("doc_b")).as("n_droppable"))
      .orderBy("threshold")
  }

  /** TAKEDOWN VERIFICATION — the invariant as a query: after removing
    * [[takedownPropagate]]'s manifest, NO near-dup pair may cross the
    * removal boundary (a surviving doc near-duplicating removed content
    * means the takedown silently ships the removed material under another
    * id). Emits the VIOLATIONS — the correct result is EMPTY, and that
    * emptiness is differentially checked against the exact-join oracle,
    * which elevates the closure property from a spec assertion to a
    * release gate a compliance process runs after every removal. Pair
    * source is the LSH generator (the scale path, provably equal to the
    * exact join at the threshold); the manifest joins as compact ids. */
  def takedownVerify(spark: SparkSession, sfDir: String, n: Int = 3,
                     threshold: Double = 0.8): DataFrame =
    takedownVerifyAgainst(spark, sfDir,
      takedownPropagate(spark, sfDir).select(col("doc_id")), n, threshold)

  /** [[takedownVerify]] against an EXPLICIT removal set — the form the
    * breach spec injects a deliberately broken manifest into. */
  private[graft] def takedownVerifyAgainst(spark: SparkSession, sfDir: String,
      removedIds: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // The manifest is small BY DEFINITION (removal requests, not corpus
    // mass) — broadcast it explicitly rather than trusting AQE to discover
    // that at runtime: at 100 TB the pair stream is the big side and a
    // planned SMJ would shuffle it twice before AQE could re-plan.
    val manifest = broadcast(removedIds.select(col("doc_id")).distinct()
      .withColumn("removed", lit(1)))
    minhashPairsUnordered(spark, sfDir, n, threshold = threshold)
      .join(manifest.select(col("doc_id").as("doc_a"), col("removed").as("ra")),
            Seq("doc_a"), "left")
      .join(manifest.select(col("doc_id").as("doc_b"), col("removed").as("rb")),
            Seq("doc_b"), "left")
      .filter(coalesce(col("ra"), lit(0)) =!= coalesce(col("rb"), lit(0)))
      .select("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  // --------------------------------------------------- Cross-source overlap

  /** Cross-SOURCE near-dup overlap matrix — the corpus-composition question
    * dedup pair lists don't answer: for every (source, other_source) cell,
    * how many of `source`'s documents have a near-duplicate in
    * `other_source`, and what fraction of the source that is. The diagonal
    * is each source's INTERNAL duplication rate; off-diagonal cells expose
    * mirror/syndication relationships between crawl sources — the signal
    * that decides which source to drop entirely versus dedup against, and
    * the provenance table a mixture designer reads before weighting
    * sources ([[graft.operators.TextAnalysis]]'s `source_mix` says how much
    * of each source there IS; this says how much of it is someone else's).
    *
    * Rides [[minhashPairsUnordered]] — the LSH candidate generator (the
    * 100 TB pair path, provably equal to the exact n-gram join at the
    * threshold) — so the pair cost is the dedup run's, not a new all-pairs
    * scan. The pair set symmetrizes (each side of a pair counts for its
    * own source), source labels join on doc_id (compact keys, never text),
    * and the matrix aggregate is a partial-agg'd count-distinct over at
    * most |sources|² groups. Output is |sources|²-bounded — trivially
    * collectable at any corpus size. */
  def corpusOverlap(spark: SparkSession, sfDir: String, n: Int = 3,
                    threshold: Double = 0.8): DataFrame = {
    // pair-mass truncation (r16, guide §1.2): the symmetrize union below
    // references pairs twice, and without it the whole LSH+verify
    // pipeline ran twice per invocation
    val pairs = minhashPairsUnordered(spark, sfDir, n = n, threshold = threshold)
      .cutLineage()
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    // Symmetrize: a near-dup pair makes BOTH endpoints "a doc with a dup in
    // the other endpoint's source".
    val sym = pairs.select(col("doc_a").as("doc"), col("doc_b").as("other"))
      .union(pairs.select(col("doc_b").as("doc"), col("doc_a").as("other")))
    val labeled = sym
      .join(src.select(col("doc_id"), col("source").as("src")), col("doc") === col("doc_id"))
      .drop("doc_id")
      .join(src.select(col("doc_id").as("oid"), col("source").as("other_source")),
            col("other") === col("oid"))
    val hits = labeled
      .groupBy(col("src").as("source"), col("other_source"))
      .agg(countDistinct(col("doc")).as("n_overlapping"))
    val totals = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
    hits.join(totals, Seq("source"))
      .select(col("source"), col("other_source"), col("n_overlapping"), col("n_docs"),
        graft.functions.NumericFunctions.duckRound(
          col("n_overlapping").cast("double") / col("n_docs").cast("double"), 4)
          .as("overlap_rate"))
      .orderBy("source", "other_source")
  }
}
