package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.NumericFunctions.duckRound
import graft.operators.Lineage._
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline: corpus statistics,
  * token counting, quality scoring, marker-based document classification,
  * and content fingerprinting.
  *
  * Everything here is pure Catalyst built-ins (array higher-order functions),
  * so the whole pipeline stays in WholeStageCodegen — no UDF per row, no
  * driver round-trips; it scales linearly with corpus bytes.
  */
object TextAnalysis {

  /** Per-language corpus statistics. Averages are over integer columns
    * (exact long sums), so results are deterministic across partitionings. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"), size(tokenize(col("text"))).cast("bigint").as("n_words"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           duckRound(avg("n_chars"), 4).as("avg_chars"),
           duckRound(avg("n_words"), 4).as("avg_words"),
           sum("n_words").as("total_words"))
      .orderBy("lang")

  /** READABILITY scoring — the Flesch Reading Ease heuristic as a corpus
    * quality signal (a curation pipeline buckets documents by reading
    * level before mixing; pathological scores flag OCR noise and
    * keyword-stuffed spam). Per document: sentence count (split on
    * `[.!?]+`, empty segments dropped, floor 1 so unpunctuated text is
    * one sentence), word count (the engine tokenizer), a deterministic
    * syllable proxy (vowel-group count `[aeiouy]+` — the standard
    * dictionary-free approximation), and
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`.
    *
    * Determinism: every column is row-local — counts are integers and the
    * score is one fixed-order IEEE expression per row, so Spark and
    * DuckDB compute bit-identical doubles (no cross-row float sums
    * anywhere; contrast the 4-dp-tolerance aggregate ops).
    *
    * 100 TB: pure scan-side map work in one WholeStageCodegen pass —
    * regex counts + arithmetic, no shuffle at all (the ORDER BY is the
    * differential harness's, not the operator's). */
  def readability(spark: SparkSession, sfDir: String): DataFrame =
    readabilityFrom(Tables.documents(spark, sfDir))

  /** [[readability]] over an explicit `(doc_id, text)` frame; documents
    * with no words are dropped (no reading level to score). */
  def readabilityFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        greatest(expr("size(filter(split(text, '[.!?]+'), x -> length(trim(x)) > 0))"),
          lit(1)).cast("bigint").as("n_sentences"),
        size(tokenize(col("text"))).cast("bigint").as("n_words"),
        expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
          .cast("bigint").as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch",
        duckRound(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double")), 4)
          + lit(0.0))
      .orderBy("doc_id")

  /** VOCABULARY GROWTH curve (Heaps' law measured, not assumed) — distinct
    * word types vs. cumulative token mass over ten id-ordered corpus
    * slices: the saturation diagnostic behind every feature-selectivity
    * argument in this repo (prefix-filtered n-gram joins scale exactly
    * while vocabulary keeps growing; when the curve flattens, rare-feature
    * pruning collapses and the LSH paths take over — §6.1's closed/open
    * regime sweep, measured per-corpus here instead of asserted). Emits,
    * per decile: cumulative docs, tokens, distinct vocabulary, the
    * type-token ratio, and the NEW types the decile contributed.
    *
    * 100 TB: cumulative distinct needs no cumulative scan — a word's
    * contribution is fully described by its FIRST decile (one groupBy-min
    * over the token explode, partial-agg'd), vocabulary-by-decile is a
    * 10-row rollup of that, and the cumulative sums window over 10 rows.
    * The heavy shuffle carries (word, min-decile) pairs once. */
  def vocabGrowth(spark: SparkSession, sfDir: String, slices: Int = 10): DataFrame =
    vocabGrowthFrom(Tables.documents(spark, sfDir), slices)

  /** [[vocabGrowth]] over an explicit `(doc_id, text)` frame. */
  def vocabGrowthFrom(docs: DataFrame, slices: Int = 10): DataFrame = {
    val n = docs.count()
    require(n > 0, "vocabGrowth: empty corpus")
    val per = (n + slices - 1) / slices   // ceil(N/slices) ids per slice
    val words = docs
      .select(expr(s"doc_id div $per").as("slice"),
              explode(tokenize(col("text"))).as("word"))
    // doc counts from the table itself (a token-less doc still counts)
    val docsBy = docs.groupBy(expr(s"doc_id div $per").as("slice"))
      .agg(count(lit(1)).as("n_docs"))
    val tokensBy = words.groupBy("slice").agg(count(lit(1)).as("n_tokens"))
    val firstSlice = words.groupBy("word").agg(min("slice").as("slice"))
    val newTypesBy = firstSlice.groupBy("slice").agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("slice")  // 10 metadata rows — single partition is the point
    docsBy.join(tokensBy, Seq("slice"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
      .join(newTypesBy, Seq("slice"), "left")
      .select(col("slice"), col("n_docs"), col("n_tokens"),
              coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_docs", sum("n_docs").over(w))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("cum_vocab", sum("new_types").over(w))
      .select(col("slice"), col("cum_docs"), col("cum_tokens"), col("new_types"),
              col("cum_vocab"),
              (duckRound(col("cum_vocab").cast("double") / col("cum_tokens").cast("double"), 6)
                + lit(0.0)).as("type_token_ratio"))
      .orderBy("slice")
  }

  /** DOCUMENT WORD ENTROPY — Shannon entropy of each document's unigram
    * distribution, in bits, plus the type-count-normalized form: the
    * information-density quality signal next to [[repetitionScore]]'s
    * trigram ratio (a looping template scores low entropy even when its
    * trigrams stay distinct; keyword-stuffed spam collapses normalized
    * entropy toward 0 while length-based filters pass it).
    * `H = log₂(n) − (1/n)·Σ_w c_w·log₂(c_w)`; normalized = H / log₂(types)
    * (1.0 = perfectly even usage), guarded to 1.0 for single-type docs.
    *
    * 100 TB: one explode + (doc, word) partial-agg'd count, then a per-doc
    * partial-agg'd sum — two shuffles on doc-keyed rows, no windows, no
    * driver state. Per-doc float folds are unordered over that doc's
    * ≤vocab rows → rounded at 4 dp (the source_divergence tolerance). */
  def docEntropy(spark: SparkSession, sfDir: String): DataFrame =
    docEntropyFrom(Tables.documents(spark, sfDir))

  /** [[docEntropy]] over an explicit `(doc_id, text)` frame; wordless
    * documents are dropped (no distribution to measure). */
  def docEntropyFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokenize(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(col("c").cast("double") * log2(col("c").cast("double"))).as("clc"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        (duckRound(log2(col("n_tokens").cast("double")) -
           col("clc") / col("n_tokens").cast("double"), 4) + lit(0.0)).as("entropy_bits"),
        (duckRound(
          when(col("n_types") === 1L, lit(1.0))
            .otherwise((log2(col("n_tokens").cast("double")) -
              col("clc") / col("n_tokens").cast("double")) /
              log2(col("n_types").cast("double"))), 4) + lit(0.0)).as("evenness"))
      .orderBy("doc_id")

  /** ZIPF SLOPE per source — the rank-frequency power-law exponent fitted
    * by OLS over (ln rank, ln freq): the corpus-health diagnostic next to
    * [[vocabGrowth]]'s Heaps curve (natural language sits near −1;
    * template spam and machine-generated text flatten toward 0, OCR noise
    * steepens — a per-source fingerprint a mixture designer reads before
    * weighting). Emits per source the type count, the fitted slope, and
    * R² of the fit (how power-law-like the source is at all).
    *
    * 100 TB: word counts partial-agg to |sources|×vocab rows; the rank
    * window partitions BY SOURCE over those count rows (vocab-mass, the
    * honest cost of a rank statistic — never corpus mass); the five OLS
    * sums partial-agg per source. Float discipline: the per-source sums
    * are unordered double folds over vocab rows, rounded at 4 dp (the
    * source_divergence tolerance); ln inputs are exact integer ranks and
    * counts, identical both engines. */
  def zipfSlope(spark: SparkSession, sfDir: String): DataFrame =
    zipfSlopeFrom(Tables.documents(spark, sfDir))

  /** [[zipfSlope]] over an explicit `(source, text)` frame. */
  def zipfSlopeFrom(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(tokenize(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy("source").orderBy(col("f").desc, col("word").asc)
    val xy = counts
      .withColumn("r", row_number().over(w))
      .select(col("source"), col("f"),
        log(col("r").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    xy.groupBy("source")
      .agg(count(lit(1)).as("n_types"),
           min("f").as("fmn"), max("f").as("fmx"),
           sum("x").as("sx"), sum("y").as("sy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("x") * col("y")).as("sxy"),
           sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n_types"),
        // Zero-variance guards on INTEGER facts, not float residuals: a
        // single type has no rank spread (slope undefined → 0) and a flat
        // frequency profile (min f = max f) has no y variance (R²
        // undefined → 0). Whether the float residual n·syy − sy² cancels
        // to bit-exact 0.0 depends on double summation order — partition-
        // nondeterministic in Spark and different in DuckDB — so guarding
        // on the residual would make the degenerate branch itself
        // nondeterministic; n_types and min/max(f) are exact aggregates
        // over the integer count column, identical on both engines.
        (duckRound(
          when(col("n_types") <= 1L, lit(0.0))
            .otherwise(
              (col("n_types") * col("sxy") - col("sx") * col("sy")) /
              (col("n_types") * col("sxx") - col("sx") * col("sx"))), 4) + lit(0.0))
          .as("zipf_slope"),
        (duckRound(
          when(col("n_types") <= 1L || col("fmn") === col("fmx"), lit(0.0))
            .otherwise(
              (col("n_types") * col("sxy") - col("sx") * col("sy")) *
              (col("n_types") * col("sxy") - col("sx") * col("sy")) /
              ((col("n_types") * col("sxx") - col("sx") * col("sx")) *
               (col("n_types") * col("syy") - col("sy") * col("sy")))), 4) + lit(0.0))
          .as("r_squared"))
      .orderBy("source")
  }

  /** SOURCE DIVERGENCE matrix — pairwise Jensen–Shannon divergence between
    * the sources' unigram distributions: the distributional complement of
    * `corpus_overlap` (that one counts shared DOCUMENTS; this one measures
    * how differently two sources USE LANGUAGE, catching near-identical
    * mirrors whose docs are all distinct). JS is symmetric, bounded in
    * [0, 1] (log₂), and defined when supports differ — the
    * mixture-design input for deciding whether two crawls are redundant.
    *
    * Relational decomposition (the trick that makes it one equi-join):
    * JS = ½[Σ_both(p·log₂(2p/(p+q)) + q·log₂(2q/(p+q))) + (1−Σ_both p)
    * + (1−Σ_both q)] — words on only one side contribute their whole
    * probability mass through the complements, so only the SHARED-word
    * join is ever materialized. Float discipline: probabilities are exact
    * count ratios, the per-pair sums round at 4 dp (the `embedding_drift`
    * tolerance for unordered double sums), signed zero normalized.
    *
    * 100 TB: token counts partial-agg to |sources|×vocab rows; the pair
    * join is an equi-join ON WORD (each word's row set is ≤ |sources|,
    * so the join never exceeds vocab·|sources|²); output is the
    * |sources|² matrix — trivially collectable. */
  def sourceDivergence(spark: SparkSession, sfDir: String): DataFrame =
    sourceDivergenceFrom(Tables.documents(spark, sfDir))

  /** [[sourceDivergence]] over an explicit `(source, text)` frame. */
  def sourceDivergenceFrom(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(tokenize(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("source").agg(sum("c").as("tot"))
    val dist = counts.join(totals, "source")
      .select(col("source"), col("word"),
              (col("c").cast("double") / col("tot").cast("double")).as("p"))
    val both = dist.as("a")
      .join(dist.as("b"),
        col("a.word") === col("b.word") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
              col("a.p").as("p"), col("b.p").as("q"))
      .groupBy("source_a", "source_b")
      .agg(sum(log2(lit(2.0) * col("p") / (col("p") + col("q"))) * col("p")).as("term_p"),
           sum(log2(lit(2.0) * col("q") / (col("p") + col("q"))) * col("q")).as("term_q"),
           sum("p").as("mass_p"), sum("q").as("mass_q"),
           count(lit(1)).as("n_shared_types"))
    // scaffold of ALL source pairs: a vocabulary-DISJOINT pair has no
    // shared-word group at all, yet it is the matrix's most important
    // cell (JS exactly 1) — |sources|² rows, trivially joined
    val srcs = totals.select(col("source"))
    val pairs = srcs.as("x").join(srcs.as("y"), col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"))
    pairs.join(both, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared_types"), lit(0L)).as("n_shared_types"),
        (duckRound(lit(0.5) * (coalesce(col("term_p"), lit(0.0)) +
            coalesce(col("term_q"), lit(0.0)) +
            (lit(1.0) - coalesce(col("mass_p"), lit(0.0))) +
            (lit(1.0) - coalesce(col("mass_q"), lit(0.0)))), 4) + lit(0.0))
          .as("js_divergence"))
      .orderBy("source_a", "source_b")
  }

  /** Within-document repetition score — the boilerplate/duplication signal
    * corpus quality filters cut on: 1 − distinct/total word-trigrams. A
    * document that repeats itself (template spam, boilerplate, looped
    * generation) has few distinct n-grams relative to its length. Total
    * trigram count is `max(|tokens| − 2, 0)` (positional), distinct comes
    * from the codegen'd `graft_shingles` kernel — one compiled pass per
    * document, zero shuffles before the presentation sort. */
  def repetitionScore(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        greatest(size(tokenize(col("text"))) - 2, lit(0)).cast("bigint").as("n_grams"),
        size(call_function("graft_shingles", col("text"), lit(3)))
          .cast("bigint").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
             duckRound(lit(1.0) - col("n_distinct").cast("double") /
               col("n_grams").cast("double"), 4))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")

  /** LLM training-sequence packing — the layout step between a cleaned
    * corpus and a trainer: per language (in doc_id order) the documents'
    * token streams are concatenated and cut into fixed-`budget` sequences,
    * and each document maps to the sequence range it spans —
    * `(lang, doc_id, n_tokens, start_seq, end_seq, n_seqs)`. This is the
    * concatenate-and-chunk packing real LLM training uses (documents span
    * sequence boundaries; no padding waste), so the mapping is a pure
    * prefix-sum: start_seq = ⌊(cum − n)/budget⌋, end_seq = ⌊(cum − 1)/budget⌋.
    *
    * Scale shape: ONE window aggregate partitioned by `lang` — the
    * per-partition running sum parallelizes across languages and shuffles
    * each doc once; token counting is scan-side. At production shard
    * counts the partition key is (lang, shard) and sequence ids get a
    * shard offset — same plan, finer parallelism. Zero-token documents
    * are excluded (they occupy no sequence). */
  def packSequences(spark: SparkSession, sfDir: String, budget: Int = 2048): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), bpeTokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("lang"), col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("start_seq"),
        expr(s"(cum - 1) div $budget").as("end_seq"))
      .withColumn("n_seqs", col("end_seq") - col("start_seq") + 1)
      .orderBy("lang", "doc_id")
  }

  /** [[packSequences]] at PRODUCTION shard counts — the refinement the
    * per-lang form's doc promises: a language's whole token stream through
    * one window partition caps parallelism at the language count (and the
    * largest language IS most of a web corpus), so here documents are
    * sharded (`doc_id mod nShards`), each (lang, shard) packs its own
    * stream independently, and sequence ids are offset by the shard's BASE
    * (running total of preceding shards' sequence counts within the lang,
    * each shard padding its tail sequence rather than spanning into the
    * next — the property that makes shards independently writable and
    * re-packable). The base computation is a window over nShards rows per
    * language — the heavy prefix-sum runs at lang×shard parallelism, the
    * cross-shard coupling is metadata-sized. Output adds `shard`; sequence
    * ids stay globally unique and dense per language. */
  def packSequencesSharded(spark: SparkSession, sfDir: String,
                           budget: Int = 2048, nShards: Int = 4): DataFrame = {
    val perShard = Window.partitionBy("lang", "shard").orderBy("doc_id")
    val local = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), bpeTokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("shard", col("doc_id") % nShards)
      .withColumn("cum", sum("n_tokens").over(perShard))
      .select(col("lang"), col("shard"), col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("ls"),
        expr(s"(cum - 1) div $budget").as("le"))
    // per-(lang, shard) sequence counts → exclusive running base per lang;
    // nShards rows per language, metadata-sized at any corpus scale
    val byLangShard = Window.partitionBy("lang").orderBy("shard")
    val bases = local.groupBy("lang", "shard")
      .agg((max("le") + 1).as("n_seq"))
      .withColumn("base", coalesce(
        sum("n_seq").over(byLangShard.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("lang"), col("shard"), col("base"))
    local.join(broadcast(bases), Seq("lang", "shard"))
      .select(col("lang"), col("shard"), col("doc_id"), col("n_tokens"),
        (col("base") + col("ls")).as("start_seq"),
        (col("base") + col("le")).as("end_seq"),
        (col("le") - col("ls") + 1).as("n_seqs"))
      .orderBy("lang", "doc_id")
  }

  /** Training-data MIXING — the source-reweighting step between a cleaned
    * corpus and sequence packing: each source contributes a deterministic
    * fraction of its documents (rate = weight/4, weight = source number
    * mod 4 + 1 standing in for an external mixture config), selected by
    * content-hash order so the sample is reproducible, shard-independent
    * and RNG-free (the `sample_hash` principle applied per stratum with
    * non-uniform rates — unlike `stratified_sample`'s constant quota).
    * Quotas are integer-exact: ⌈cnt·w/4⌉ as `(cnt·w + 3) div 4`, no float
    * ceil (binary-inexact thresholds are the known cross-engine trap).
    * Scale shape: one window rank per source partition over scan-side
    * fingerprints — parallel across sources, no collect, no RNG state. */
  def mixtureSample(spark: SparkSession, sfDir: String): DataFrame = {
    val bySource = Window.partitionBy("source")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      // try_cast + coalesce keeps the operator TOTAL: a source name with
      // no digit run (e.g. 'webcrawl') gets the default weight instead of
      // an ANSI cast error — regexp_extract returns '' there and a plain
      // cast throws on both engines.
      .withColumn("weight",
        coalesce(regexp_extract(col("source"), "(\\d+)", 1).try_cast("int"),
                 lit(0)) % 4 + 1)
      .withColumn("rk", row_number().over(bySource.orderBy("fp", "doc_id")))
      .withColumn("cnt", count(lit(1)).over(bySource))
      .filter(col("rk") <= expr("(cnt * weight + 3) div 4"))
      .select(col("source"), col("rk").cast("bigint").as("rk"), col("doc_id"), col("fp"))
      .orderBy("source", "rk")
  }

  /** Token counts per document: whitespace tokens and a BPE-ish subword
    * estimate (ceil(len/4) pieces per word). */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              wsTokenCount(col("text")).as("ws_tokens"),
              bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy("doc_id")

  /** Model-based quality signal: corpus-trained word-BIGRAM language-model
    * surprisal, integer-exact — the standard LM pillar next to the
    * rule-based [[qualityScore]] filters (C4/Gopher-style rules catch
    * shape; an LM score catches boilerplate that is well-formed but
    * predictable). Dirty-vs-clean perplexity filtering is the CCNet/
    * Wenzek-et-al. recipe; this is its distributed, oracle-checkable core.
    *
    * The model IS the corpus (train = score set): bigram counts c(w1,w2)
    * and context counts c(w1) = Σ_w2 c(w1,w2) from one exploded-pairs
    * aggregate. Per-token surprisal uses the INTEGER log2 both engines
    * compute identically as `length(bin(x))` (= ⌊log2 x⌋ + 1 for x ≥ 1):
    * bits(w2|w1) = width(c(w1)) − width(c(w1,w2)) ∈ [0, 64] — the
    * whole-bit form of log2(c(w1)/c(w1,w2)), exact in integers, so this
    * LM score hash-matches DuckDB with no float-product dynamic-range
    * problem (the quantile_sketch philosophy: approximate in modeling,
    * exact in arithmetic). Every scored bigram occurs in the corpus, so
    * counts are ≥ 1 and no smoothing is needed.
    *
    * 100 TB story: tokens explode scan-side; the model is two hash
    * aggregates (bounded by distinct-bigram mass, partial-agg'd map-side);
    * scoring is a shuffle join of doc pairs against the model ON THE
    * BIGRAM KEY — model sharded like any fact table, no driver state, no
    * broadcast of an unbounded vocabulary. `ppl_bits` = mean bits/token;
    * 2^ppl_bits would be the perplexity (kept in bits to stay exact). */
  def perplexityScore(spark: SparkSession, sfDir: String): DataFrame =
    perplexityScoreFrom(Tables.documents(spark, sfDir))

  /** [[perplexityScore]] over an explicit `(doc_id, text)` frame. */
  def perplexityScoreFrom(docs: DataFrame): DataFrame = {
    val pairs = docs
      .select(col("doc_id"), tokenize(col("text")).as("ws"))
      .select(col("doc_id"), explode(expr(
        // adjacent-pair stream; CASE keeps sequence() off the size<2 branch
        // (Spark's sequence(1,0) would count DOWN, not return empty)
        """CASE WHEN size(ws) >= 2
          |THEN transform(sequence(1, size(ws) - 1),
          |       i -> named_struct('w1', element_at(ws, CAST(i AS INT)),
          |                         'w2', element_at(ws, CAST(i + 1 AS INT))))
          |ELSE array() END""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // Model assembled on BIGRAM-vocabulary mass, then attached to the
    // token-mass pair stream ONCE (r16 — guide §2.3 shuffle fewer bytes,
    // §2.4): the old form joined pairs⋈bigrams on (w1,w2) and re-shuffled
    // that token-mass result by w1 for the context join — two full
    // shuffles of every adjacent-pair row. Joining bigrams⋈contexts first
    // costs one bigram-mass shuffle, and the pair stream is shuffled once.
    // Inner joins both ways and every pair's (w1,w2) has exactly one model
    // row whose w1 total always exists — identical rows out. bigrams is
    // deliberately NOT checkpointed: truncation would hide its (small)
    // size estimate from the planner and demote the model joins from
    // broadcast to sort-merge (measured 4× on this query) — the duplicate
    // bigram aggregation under `contexts` is the cheaper of the two.
    val bigrams = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val contexts = bigrams.groupBy("w1").agg(sum("c2").as("c1"))
    val model = bigrams.join(contexts, Seq("w1"))
    val perDoc = pairs
      .join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"),
           sum(length(bin(col("c1"))) - length(bin(col("c2")))).as("bits"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_big", "bits"))
      .select(col("doc_id"), col("n_big").cast("bigint").as("n_big"),
        col("bits").cast("bigint").as("bits"),
        duckRound(when(col("n_big") === 0, lit(0.0))
          .otherwise(col("bits").cast("double") / col("n_big").cast("double")), 4)
          .as("ppl_bits"))
      .orderBy("doc_id")
  }

  /** EXACT heavy hitters at a fraction threshold — every word occurring
    * MORE than `total/s` times — via the two-phase shape that scales where
    * a full `groupBy(word)` shuffle does not: a 100 TB corpus has billions
    * of distinct words (typos, ids, urls), and shuffling every (word,
    * partial-count) pair builds a hash table of the entire vocabulary just
    * to discard all but the few hundred frequent entries.
    *
    *  1. CANDIDATES: per-partition Misra–Gries summaries (s counters,
    *     classic decrement-all, `mapPartitions` — the one imperative loop,
    *     justified because no Catalyst aggregate expresses "bounded
    *     counters with eviction"). MG guarantees any item with partition
    *     count > partCount/s survives its partition's summary; a global
    *     count > total/s implies that bound in ≥1 partition (pigeonhole),
    *     so the candidate union is a SUPERSET of the true heavy hitters
    *     at ≤ s·partitions rows — broadcastable by construction.
    *  2. EXACT RECOUNT: one aggregation over tokens semi-joined (broadcast)
    *     to the candidate set, then the exact integer threshold
    *     `cnt · s > total`. Only candidate-matching tokens shuffle.
    *
    * The candidate SET varies with partitioning (MG is order-sensitive);
    * the OUTPUT does not — supersets all recount to the same exact answer,
    * which is what makes this approximate-candidates/exact-verify pipeline
    * DuckDB-checkable (the dedup_minhash philosophy on frequency). */
  def heavyHitters(spark: SparkSession, sfDir: String, s: Int = 200): DataFrame =
    heavyHittersFrom(Tables.documents(spark, sfDir), s)

  /** [[heavyHitters]] over an explicit `(doc_id, text)` frame. */
  def heavyHittersFrom(docs: DataFrame, s: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(explode(tokenize(col("text"))).as("word"))
    val candidates = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        if (counters.contains(w)) counters(w) += 1
        else if (counters.size < s) counters(w) = 1
        else {
          // decrement-all: drop zeroed counters (amortized O(1)/token)
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counters.keysIterator.foreach { k =>
            val c = counters(k) - 1
            if (c == 0) dead += k else counters(k) = c
          }
          dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.toDF("word").distinct()
    // total as a broadcast one-row frame, NOT a driver-side count(): the
    // query must stay LAZY like every other entry (constructing the frame
    // runs no jobs), and the threshold compare folds into the plan
    val total = toks.agg(count(lit(1)).as("hh_total"))
    toks.join(broadcast(candidates), Seq("word"), "left_semi")
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * s > col("hh_total"))
      .drop("hh_total")
      .orderBy("word")
  }

  /** Count-Min frequency estimation over the corpus vocabulary — the
    * bounded-state complement of [[heavyHitters]]: MG answers "which words
    * are frequent" with a candidate set that must be exactly recounted;
    * the CMS grid answers "how often does THIS word occur" for ANY word
    * from a fixed `depth × width` counter grid (8 KiB at the defaults),
    * no recount pass. Output: the top-`topn` words with their exact count
    * next to the sketch estimate — est ≥ exact always (counters only
    * overcount), est − exact bounded by colliding mass.
    *
    * 100 TB story: the word-count aggregate partial-aggregates map-side;
    * the grid is ONE fixed-size buffer per map partition in the shuffle
    * (`graft_cms` is a TypedImperativeAggregate with associative merge —
    * the [[graft.functions.expressions.KmvAgg]] contract); probes are a
    * TakeOrderedAndProject; estimation is a broadcast of the one-row grid.
    * Feeding the aggregate pre-counted `(word, count)` rows with weighted
    * updates produces the bit-identical grid that raw weight-1 token
    * updates produce (counter addition is associative), which is what lets
    * the STREAMING twin ([[graft.streaming.EventStreams
    * .streamFreqSketchQuery]]) share this oracle exactly. */
  def freqSketch(spark: SparkSession, sfDir: String,
                 depth: Int = 4, width: Int = 256, topn: Int = 20): DataFrame = {
    val wc = wordCounts(Tables.documents(spark, sfDir))
    val grid = wc.agg(call_function("graft_cms",
      col("word"), col("exact_count"), lit(depth), lit(width)).as("grid"))
    cmsEstimates(wc, grid, depth, width, topn)
  }

  /** Per-word corpus counts `(word, exact_count)` — the CMS build input. */
  private[graft] def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(tokenize(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("exact_count"))

  /** Collocation mining — the statistical-phrase step of a tokenizer /
    * vocab pipeline (the word2vec "phrase" pass): adjacent word pairs
    * scored by LIFT = N·c(ab) / (c(a)·c(b)), the exp of PMI. PMI itself is
    * log(lift); log is monotone, so ranking by the rational lift IS the
    * PMI ranking while keeping the score a single divide of exact integer
    * products — bit-identical across engines (no transcendental, the
    * [[perplexityScore]] philosophy). Bigrams that merely ride two frequent
    * unigrams ("of the") score ~1; true collocations score ≫ 1.
    *
    * Scale shape: bigram generation is scan-side (slice+zip, no shuffle);
    * one groupBy per n-gram order (vocab-sized, sublinear in corpus);
    * `c_ab >= minCount` prunes the bigram tail BEFORE the two unigram
    * joins (Heaps' law: most bigrams are hapax — the filter drops the
    * bulk); the N-row total is a 1-row broadcast. Final top-k is
    * TakeOrderedAndProject, never a global sort. */
  def collocations(spark: SparkSession, sfDir: String,
                   minCount: Int = 5, k: Int = 50): DataFrame =
    collocationsFrom(Tables.documents(spark, sfDir), minCount, k)

  /** [[collocations]] over an explicit frame with a `text` column. */
  def collocationsFrom(docsIn: DataFrame, minCount: Int, k: Int): DataFrame = {
    val docs = docsIn.select(tokenize(col("text")).as("ws"))
    val uni = docs.select(explode(col("ws")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c_w"))
    val totals = uni.agg(sum("c_w").as("n_tokens"))
    val n = size(col("ws"))
    val bi = docs.where(n >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), n - 1), slice(col("ws"), lit(2), n - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    bi.join(uni.select(col("word").as("w1"), col("c_w").as("c_w1")), "w1")
      .join(uni.select(col("word").as("w2"), col("c_w").as("c_w2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_ab"),
        duckRound(col("n_tokens").cast("double") * col("c_ab") /
          (col("c_w1") * col("c_w2")), 4).as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Present a materialized CMS `grid` (one row, `array<bigint>` of
    * `depth·width` cells): top-`topn` words by exact count with the grid's
    * estimate read back through the SAME salted hash the build used
    * (`graft_cms_bucket`), min over the word's `depth` cells. */
  private[graft] def cmsEstimates(wc: DataFrame, grid: DataFrame,
                                  depth: Int, width: Int, topn: Int,
                                  keyCol: String = "word"): DataFrame = {
    // the ONE probe-side reader for every CMS consumer (freq_sketch's
    // words, freq_rollup's users): the +1 element_at offset and the salt
    // convention live here only, so the readers cannot diverge
    val est = least((0 until depth).map { i =>
      element_at(col("grid"), lit(i * width) +
        call_function("graft_cms_bucket", col(keyCol), lit(i), lit(width)) + lit(1))
    }: _*)
    wc.orderBy(col("exact_count").desc, col(keyCol).asc).limit(topn)
      .crossJoin(broadcast(grid))
      .select(col(keyCol), col("exact_count"), est.as("est_count"))
      .orderBy(col("exact_count").desc, col(keyCol).asc)
  }

  private[graft] val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Document quality scoring from length / word-shape / stopword ratios —
    * the standard cheap filters applied before LLM training. All ratios are
    * quotients of exact integer counts, rounded at the edge. */
  /** The quality-scoring expression trees over the `text` column — built
    * in exactly ONE place so the batch query, the streaming export and the
    * export pipeline all evaluate identical IEEE doubles (fold order
    * included); a divergent copy would silently split the engines. */
  private[graft] final case class QualityExprs(nWords: Column, nStop: Column,
                                               totalLen: Column, quality: Column)

  private[graft] def qualityExprs: QualityExprs = {
    val ws = tokenize(col("text"))
    val nWords = size(ws).cast("double")
    val nStop = size(filter(ws, w => w.isin(Stopwords: _*))).cast("double")
    val totalLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("bigint")).cast("double")
    // score: reward stopword presence and moderate word length;
    // penalize very short documents.
    QualityExprs(nWords, nStop, totalLen,
      duckRound(least(nWords / lit(50.0), lit(1.0)) * lit(0.5)
        + least(nStop / nWords * lit(5.0), lit(1.0)) * lit(0.3)
        + when(totalLen / nWords between(3.0, 8.0), lit(0.2)).otherwise(lit(0.0)), 4))
  }

  /** (word count, rounded quality score) — the pair the streaming export
    * consumes. */
  private[graft] def qualityCols: (Column, Column) = {
    val q = qualityExprs
    (q.nWords, q.quality)
  }

  /** `(doc_id, quality)` without the presentation sort — the form
    * compositions (corpus_export) consume below further joins. */
  private[graft] def qualityUnordered(spark: SparkSession, sfDir: String): DataFrame = {
    val (nWords, quality) = qualityCols
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), nWords.as("n_words"), quality.as("quality"))
      .filter(col("n_words") > 0)
      .select("doc_id", "quality")
  }

  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val q = qualityExprs
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        q.nWords.cast("bigint").as("n_words"),
        duckRound(q.totalLen / q.nWords, 4).as("avg_word_len"),
        duckRound(q.nStop / q.nWords, 4).as("stopword_ratio"),
        q.quality.as("quality"))
      .filter(col("n_words") > 0)
      .orderBy("doc_id")
  }

  /** PARETO FRONTIER over (quality, brevity) — the documents not dominated
    * on the two axes every token-budgeted selection trades off: for every
    * length budget, the highest-quality document reachable within it (data
    * selection under a token budget reads this frontier, the way
    * mixture_weights reads per-source mass). A document is ON the frontier
    * iff no other document has quality ≥ AND words ≤ with one strict.
    *
    * The textbook 2-D skyline is one global sort + running min — a
    * single-partition scan over the corpus. The scale form is the
    * peak_concurrency two-level split applied to a prefix-MIN: per
    * quality level, `min(words)` partial-aggregates from the scan (the
    * only corpus-mass shuffle); the strictly-higher prefix min windows
    * over the quality LEVELS — value-bounded at ≤10⁴+1 rows by the 4-dp
    * score lattice, metadata-sized at any corpus; the verdict joins the
    * level table back BROADCAST. Ties at the same (quality, words) are
    * all kept (equal points don't dominate). */
  def paretoFrontier(spark: SparkSession, sfDir: String): DataFrame = {
    val q = qualityExprs
    paretoFrontierFrom(Tables.documents(spark, sfDir)
      .select(col("doc_id"), q.nWords.cast("bigint").as("n_words"),
              q.quality.as("quality"))
      .filter(col("n_words") > 0))
  }

  /** [[paretoFrontier]]'s two-level skyline core over an explicit
    * `(doc_id, n_words, quality)` frame. */
  def paretoFrontierFrom(docs: DataFrame): DataFrame = {
    val grp = docs.groupBy("quality").agg(min("n_words").as("min_w"))
    // strictly-higher-quality prefix min over the quality levels — a
    // metadata-sized window (≤ 10⁴+1 rows on the 4-dp score lattice)
    val w = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val lvl = grp.withColumn("hi_min", min("min_w").over(w))
    docs.join(broadcast(lvl), Seq("quality"))
      .filter(col("n_words") === col("min_w") &&
              (col("hi_min").isNull || col("n_words") < col("hi_min")))
      .select(col("doc_id"), col("n_words"), col("quality"))
      .orderBy(col("quality").desc, col("n_words").asc, col("doc_id").asc)
  }

  /** Rule-based quality FILTER with per-rule verdicts — the op that sits in
    * front of every pretraining corpus (the C4/Gopher "repetition + shape"
    * rules): where [[qualityScore]] emits one blended score, this emits the
    * DECISION — each rule's pass flag plus the conjunction — because a real
    * pipeline needs per-rule attribution (which rule cut how much of which
    * source) to tune thresholds, not just a scalar.
    *
    * Every rule is evaluated in INTEGER arithmetic (cross-multiplied
    * thresholds: `20·stop ≥ words` instead of `stop/words ≥ 0.05`), so
    * both engines decide each boundary document identically — no float
    * division, no rounding epsilon, no NULL-on-zero-division edge.
    *
    * 100 TB: one codegen'd scan pass (tokenize + the `graft_shingles`
    * distinct-trigram kernel per row), zero shuffles before the
    * presentation sort — the same slope class as `quality_score`. */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = tokenize(col("text"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(ws).cast("bigint").as("nw"),
        size(filter(ws, w => w.isin(Stopwords: _*))).cast("bigint").as("nstop"),
        aggregate(ws, lit(0L), (acc, w) => acc + length(w).cast("bigint")).as("totlen"),
        greatest(size(ws) - 2, lit(0)).cast("bigint").as("ngr"),
        size(call_function("graft_shingles", col("text"), lit(3))).cast("bigint").as("ndist"))
      .select(col("doc_id"), col("nw").as("n_words"),
        // ≥ 10 words: too-short fragments carry no training signal
        (col("nw") >= 10).cast("int").as("pass_words"),
        // mean word length in [3, 8] chars: outside = code/garbage/spam
        (col("nw") > 0 && col("totlen") >= col("nw") * 3 &&
         col("totlen") <= col("nw") * 8).cast("int").as("pass_word_len"),
        // ≥ 5% stopwords: natural prose has function words
        (col("nw") > 0 && col("nstop") * 20 >= col("nw")).cast("int").as("pass_stopwords"),
        // ≤ 80% repeated trigrams: heavy repetition = boilerplate/loops
        (col("ngr") === 0 || col("ndist") * 5 >= col("ngr")).cast("int").as("pass_repetition"))
      .withColumn("keep",
        (col("pass_words") === 1 && col("pass_word_len") === 1 &&
         col("pass_stopwords") === 1 && col("pass_repetition") === 1).cast("int"))
      .orderBy("doc_id")
  }

  /** Corpus COMPOSITION report — the mixture designer's input: per source,
    * document count, total (BPE-ish) token mass, the source's share of
    * corpus tokens, and mean quality. This is the table a data team reads
    * before choosing `mixture_sample` weights: shares say what the corpus
    * IS, weights say what the training mix SHOULD BE.
    *
    * 100 TB: per-doc token/quality exprs ride the scan (codegen); the
    * groupBy carries one partial row per (partition, source) — sources
    * number in the dozens, so the shuffle is O(partitions). The global
    * token total for the share column is a window over the AGGREGATED
    * frame (|sources| rows), not the corpus — at scale that is one extra
    * single-partition pass over a handful of rows, not a data shuffle. */
  def sourceMix(spark: SparkSession, sfDir: String): DataFrame = {
    val q = qualityExprs
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"),
              bpeTokenCount(col("text")).as("toks"),
              when(q.nWords > 0, q.quality).as("quality"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("toks").as("total_tokens"),
           duckRound(avg("quality"), 4).as("avg_quality"))
    perSource
      .withColumn("token_share",
        duckRound(col("total_tokens").cast("double") /
                  sum("total_tokens").over(Window.partitionBy()), 4))
      .select("source", "n_docs", "total_tokens", "token_share", "avg_quality")
      .orderBy("source")
  }

  /** TEMPERATURE-SAMPLED mixture WEIGHTS (the multilingual/multi-source
    * up-sampling formula of mBERT/XLM-R, α = 0.5): sampling weight
    * w_s ∝ n_tokens_s^α flattens the source distribution — big sources
    * sampled under their natural share, small sources boosted — which is
    * how a training mixture keeps tail sources represented without
    * repeating them into memorization. [[sourceMix]] reports what the
    * corpus IS; this emits what the sampler should DO: per source, the
    * α-share, the natural share, the boost ratio (> 1 ⇒ the source is
    * up-sampled), and the expected epochs of the source under a fixed
    * 1M-token training budget (epochs ≫ 1 ⇒ the source repeats — the
    * memorization-risk flag a mixture review reads).
    *
    * Float discipline: α = 0.5 makes the power an IEEE-correctly-rounded
    * `sqrt`, and weights are FLOORED to integers so the normalizing sum
    * stays exact integer arithmetic — every emitted double is a
    * fixed-order expression over exact operands, bit-reproducible in
    * DuckDB (a float SUM over an unordered group would not be).
    *
    * 100 TB: one partial-agg'd scan to |sources| rows; everything after
    * operates on the tiny aggregate. */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"), bpeTokenCount(col("text")).as("toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("bigint"))
    val w = Window.partitionBy()
    perSource
      .withColumn("sample_share",
        col("weight").cast("double") / sum("weight").over(w).cast("double"))
      .withColumn("natural_share",
        col("n_tokens").cast("double") / sum("n_tokens").over(w).cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        duckRound(col("sample_share"), 6).as("sample_share"),
        duckRound(col("natural_share"), 6).as("natural_share"),
        duckRound(col("sample_share") / col("natural_share"), 4).as("boost"),
        duckRound(col("sample_share") * lit(1000000.0) /
          col("n_tokens").cast("double"), 4).as("expected_epochs"))
      .orderBy("source")
  }

  /** Declared DSIR parameters, shared with both SQL oracles (one
    * definition site): hashed-n-gram feature buckets, the curated target
    * source, and the selection share divisor (top ⌈N/div⌉ kept). */
  private[graft] val DsirBuckets = 1024
  private[graft] val DsirTargetSource = "src0"
  private[graft] val DsirShareDiv = 10L

  /** The DSIR hashed feature bag per document: unigrams + adjacent
    * bigrams (the paper's n ≤ 2 n-grams), hashed to [[DsirBuckets]]
    * buckets with the repo-wide replayable hash. Bigram key =
    * `w1 ⊔ w2` — tokens are letter-only so the space is collision-free.
    * One exploded pass, partial-agg'd to (doc, bucket) counts. */
  /** The n ≤ 2 gram array of a tokenized document — ONE definition site
    * shared by the batch feature explode and the streaming per-row scorer
    * (requires a column named `ws` in scope). */
  private def dsirGrams: Column =
    concat(col("ws"), expr(
      """CASE WHEN size(ws) >= 2
        |THEN transform(sequence(1, size(ws) - 1),
        |       i -> concat(element_at(ws, CAST(i AS INT)), ' ',
        |                   element_at(ws, CAST(i + 1 AS INT))))
        |ELSE array() END""".stripMargin))

  private def dsirFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"), tokenize(col("text")).as("ws"))
      .select(col("doc_id"), col("source"), explode(dsirGrams).as("g"))
      .select(col("doc_id"), col("source"),
              (call_function("graft_hash64", col("g")) % DsirBuckets).as("b"))
      .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("c"))

  /** The trained DSIR model as DRIVER-LOCAL constants: the dense Δ array
    * ([[DsirBuckets]] longs — absent buckets are exactly
    * `bitlen(1) − bitlen(1) = 0`) plus the calibration term. This is the
    * broadcast-model form the streaming twin scores against: models are
    * trained offline on the corpus and shipped to the ingest path as
    * constants — a bounded collect of metadata (the codebook-collect
    * class), never fact mass. */
  private[graft] def dsirModel(spark: SparkSession, sfDir: String): (Seq[Long], Long) = {
    val prof = dsirFeatures(Tables.documents(spark, sfDir))
      .groupBy("b").agg(sum("c").as("cp"),
        sum(when(col("source") === DsirTargetSource, col("c")).otherwise(0L)).as("cq"))
    val rows = prof.select(col("b"),
        (length(bin(col("cq") + 1)) - length(bin(col("cp") + 1))).cast("long").as("d"),
        col("cp"), col("cq"))
      .collect()
    val delta = new Array[Long](DsirBuckets)
    rows.foreach(r => delta(r.getLong(0).toInt) = r.getLong(1))
    val np = rows.map(_.getLong(2)).sum
    val nq = rows.map(_.getLong(3)).sum
    val cal = (63 - java.lang.Long.numberOfLeadingZeros(np + DsirBuckets) + 1).toLong -
              (63 - java.lang.Long.numberOfLeadingZeros(nq + DsirBuckets) + 1).toLong
    (delta.toSeq, cal)
  }

  /** Per-ROW DSIR scoring against a fixed model — the stateless form a
    * streaming ingest path runs ([[graft.streaming.EventStreams
    * .streamDsirWeightsQuery]]): the whole weight is computed inside one
    * row via HOFs over the gram array and an `element_at` into the model
    * literal, so no streaming aggregate and no state exist. Identical
    * arithmetic to [[dsirWeightsFrom]] (Σ_g Δ(b(g)) = Σ_b c_b·Δ_b). */
  private[graft] def dsirScoreRows(docs: DataFrame,
                                   delta: Seq[Long], cal: Long): DataFrame =
    docs.select(col("doc_id"), tokenize(col("text")).as("ws"))
      .select(col("doc_id"), dsirGrams.as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_feats"),
        aggregate(
          transform(col("gs"), g =>
            element_at(typedLit(delta),
              (call_function("graft_hash64", g) % DsirBuckets).cast("int") + 1)),
          lit(0L), (acc, v) => acc + v).as("wraw"))
      .select(col("doc_id"), col("n_feats"),
              (col("wraw") + col("n_feats") * cal).as("w_bits"))

  /** DSIR IMPORTANCE WEIGHTS (Xie et al., NeurIPS'23 "Data Selection for
    * Language Models via Importance Resampling") — the data-SELECTION
    * signal the mixture family lacks: [[mixtureWeights]] reweights whole
    * SOURCES by size; DSIR scores each DOCUMENT by how target-like its
    * content is — log q̂(x)/p̂(x) under hashed-n-gram bag models of a
    * curated target ([[DsirTargetSource]]) vs the raw corpus — the
    * pretraining-data curation move ("select raw documents that look
    * like the trusted set") that no source label can express.
    *
    * INTEGER discipline (the perplexity_score bits convention): the
    * log-ratio is quantized to bit-lengths — per bucket
    * `Δ_b = bitlen(cq_b+1) − bitlen(cp_b+1)` (add-one smoothed counts),
    * plus the per-feature normalizer calibration
    * `cal = bitlen(Np+B) − bitlen(Nq+B)`, so
    * `w_bits = Σ_b c_b·Δ_b + n_feats·cal` is exact int64 at any corpus
    * size (no count product ever forms; bitlen ≤ 63) and the whole
    * weight replays in DuckDB via `length(bin(x))`. The ±1-bit
    * quantization per factor is the declared trade for a
    * hash-differential weight — the RANKING signal survives (spec-gated:
    * target-source documents dominate the top of the ranking).
    *
    * 100 TB: one exploded scan partial-aggs to (doc, bucket) counts; the
    * profile is ONE [[DsirBuckets]]-row frame (broadcast); the per-doc
    * weight is a second partial-agg — scan-shaped throughout, no joins
    * beyond the broadcast. */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame =
    dsirWeightsFrom(Tables.documents(spark, sfDir))

  /** [[dsirWeights]] over an explicit `(doc_id, source, text)` frame. */
  def dsirWeightsFrom(docs: DataFrame): DataFrame = {
    // ONE gram pass (r16 — guide §1.2 don't recompute, §5 cache on reuse):
    // the plan references feats three times (Δ profile, calibration, the
    // per-doc weights) and prof twice, and each un-truncated reference
    // re-ran the tokenize+explode+hash scan — the expensive part of the
    // whole operator. Checkpoint the compact (doc, source, bucket, count)
    // frame once and the 1024-row profile once; every branch reads cache.
    val feats = dsirFeatures(docs).cutLineageLazily()
    // prof truncates LAZILY: its two readers (Δ and cal) are broadcast
    // futures that may race the first materialization, but the racing
    // compute is a 1024-row aggregate over feats' CACHED blocks — benign —
    // while an eager checkpoint would cost a scheduling barrier
    val prof = feats.groupBy("b").agg(sum("c").as("cp"),
      sum(when(col("source") === DsirTargetSource, col("c")).otherwise(0L)).as("cq"))
      .cutLineageLazily()
    val delta = prof.select(col("b"),
      (length(bin(col("cq") + 1)) - length(bin(col("cp") + 1))).cast("long").as("d"))
    val cal = prof.agg(
      (length(bin(sum("cp") + DsirBuckets)) -
       length(bin(sum("cq") + DsirBuckets))).cast("long").as("cal"))
    val perDoc = feats.join(broadcast(delta), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_feats"), sum(col("c") * col("d")).as("wraw"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_feats", "wraw"))
      .crossJoin(broadcast(cal))
      .select(col("doc_id"), col("n_feats"),
              (col("wraw") + col("n_feats") * col("cal")).as("w_bits"))
      .orderBy("doc_id")
  }

  /** DSIR SELECTION (`dsir_sample`) — the top-⌈N/[[DsirShareDiv]]⌉
    * documents by [[dsirWeights]], selected WITHOUT a global sort: the
    * threshold comes from the integer HISTOGRAM of `w_bits` (distinct
    * bit-weights are a metadata-sized set — the quantileSketch move), as
    * the largest T with `|{w_bits ≥ T}| ≥ K`; the emitted set is every
    * document with `w_bits ≥ T` — boundary TIES INCLUDED, declared, so
    * selection is deterministic and partitioning-free (a tie-broken
    * exact-K cut would need a global rank over the boundary class; a
    * curation pipeline keeps the ties). The paper's Gumbel-noise
    * resampling is deliberately replaced by the deterministic top-share
    * cut — the differential-testability trade, same as every seeded
    * mechanism in this repo, and what production selection runs actually
    * ship. 100 TB: the histogram is one partial-agg; the only window
    * orders ≤|distinct w_bits| sketch rows, never documents. */
  def dsirSample(spark: SparkSession, sfDir: String): DataFrame = {
    // The weight frame is read three times (histogram under the threshold
    // broadcast, histogram again under the count broadcast, final filter)
    // — one LAZY truncation lets the first of those materialize it and
    // the rest read cache (r16, guide §1.2/§5). Racing broadcast futures
    // can at worst duplicate the weight compute CONCURRENTLY — exactly
    // the r15 behavior, with the cache winning whenever stages queue —
    // while an eager checkpoint would serialize it ahead of everything
    // (measured as a net loss at bench scale on sibling operators).
    // n comes from the histogram itself (Σm ≡ count(*) over w, exactly),
    // so no pass over raw documents remains beyond the weight computation.
    val w = dsirWeightsFrom(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("w_bits"))
      .cutLineageLazily()
    val hist = w.groupBy("w_bits").agg(count(lit(1)).as("m"))
      .withColumn("cum", sum("m").over(Window.orderBy(col("w_bits").desc)))
    val n1 = hist.agg(sum("m").as("n"))
    val thr = hist.crossJoin(broadcast(n1))
      .filter(col("cum") >= expr(s"(n + ${DsirShareDiv - 1}) div $DsirShareDiv"))
      .agg(max("w_bits").as("t"))
    w.crossJoin(broadcast(thr))
      .filter(col("w_bits") >= col("t"))
      .select("doc_id", "w_bits")
      .orderBy("doc_id")
  }

  /** N-GRAM NOVELTY — the corpus-level diversity signal per document: the
    * fraction of a document's distinct trigrams that appear in NO other
    * document. [[repetitionScore]] asks "does this doc repeat itself";
    * this asks "does this doc say anything the corpus hasn't already" —
    * low novelty across a source flags syndicated/templated content that
    * near-dup pair finding underestimates (shared phrasing spread thin
    * over many docs never clears a pair threshold), and novelty mass is
    * what mixture designers up-weight. One shingle explode with a
    * partial-agg'd document-frequency count, joined back per doc —
    * exactly the inverted-index shape, no pair join at all. */
  def ngramNovelty(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    val postings = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(call_function("graft_shingles", col("text"), lit(n))).as("s"))
    val df = postings.groupBy("s").agg(countDistinct("doc_id").as("df"))
    postings.join(df, Seq("s"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        duckRound(col("n_unique").cast("double") / col("n_grams").cast("double"), 4)
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** SOURCE NOVELTY — [[ngramNovelty]] rolled up to the table a mixture
    * designer reads: per source, document count, total/unique trigram
    * mass and the pooled novelty rate (unique / total across the source's
    * docs — the mass-weighted form, so one long templated doc can't hide
    * behind many short fresh ones). Read with `corpus_overlap`: overlap
    * says whose content a source duplicates, novelty says how much of it
    * nobody else has — the two sides of the keep/drop/reweight decision.
    * The novelty frame reduced by one further partial-agg'd aggregate to
    * \|sources\| rows. */
  def sourceNovelty(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    val perDoc = ngramNovelty(spark, sfDir, n)
      .select("doc_id", "n_grams", "n_unique")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_grams").as("total_grams"),
           sum("n_unique").as("unique_grams"))
      .withColumn("novelty_rate",
        duckRound(col("unique_grams").cast("double") /
          col("total_grams").cast("double"), 4))
      .orderBy("source")
  }

  /** QUALITY CALIBRATION — do the two quality signals agree? The
    * contingency table of rule-based [[qualityScore]] (surface statistics)
    * against [[perplexityScore]] (corpus bigram-LM surprisal), each cut
    * into FIXED bins: quality into ten 0.1-wide bins, surprisal into
    * whole-bit bins (capped at 15+). A filtering stack that stacks two
    * signals should know whether they measure the same thing (diagonal
    * mass ⇒ one is redundant) or complementary things (spread ⇒ both earn
    * their cost) — this is the table that answers it. Fixed bins, not
    * quantiles, on purpose: binning is scan-side arithmetic with NO
    * corpus-sized global sort (a decile rank would be one), and the bins
    * stay comparable across corpus revisions. */
  def qualityCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val q = qualityUnordered(spark, sfDir).select(col("doc_id"), col("quality"))
    val p = perplexityScore(spark, sfDir).select(col("doc_id"), col("ppl_bits"))
    q.join(p, Seq("doc_id"))
      .select(
        least(floor(col("quality") * 10).cast("bigint"), lit(9L)).as("q_bin"),
        least(floor(col("ppl_bits")).cast("bigint"), lit(15L)).as("p_bin"))
      .groupBy("q_bin", "p_bin")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("q_bin", "p_bin")
  }

  /** PACKING REPORT — the utilization accounting of [[packSequences]]'
    * layout, per language: sequence count, token mass, tail padding (the
    * final sequence's unfilled remainder — concatenate-and-chunk wastes
    * nothing else) and utilization = tokens / (sequences × budget). The
    * efficiency number a trainer tracks per mixture revision: utilization
    * dropping means budget and length distribution have drifted apart
    * (see `token_length_histogram` for which way). Derived wholly from
    * the per-language token totals — one partial-agg'd scan to \|langs\|
    * rows; integer arithmetic except the final rounded ratio. */
  def packingReport(spark: SparkSession, sfDir: String,
                    budget: Int = 2048): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), bpeTokenCount(col("text")).as("toks"))
      .filter(col("toks") > 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("n_seqs", expr(s"(n_tokens + $budget - 1) div $budget"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_seqs"),
        (col("n_seqs") * budget - col("n_tokens")).as("tail_padding"),
        duckRound(col("n_tokens").cast("double") /
          (col("n_seqs") * budget).cast("double"), 4).as("utilization"))
      .orderBy("lang")

  /** TOKEN-LENGTH HISTOGRAM — the context-length planning table: documents
    * binned by ⌊log₂(tokens)⌋, with doc and token mass per bin. This is
    * the distribution that sets `pack_sequences`' budget and predicts
    * packing waste (mass above the budget splits, mass far below it
    * concatenates); log₂ bins because sequence budgets are powers of two
    * and the tail spans orders of magnitude. The bin is INTEGER-exact on
    * both engines via the `perplexity_score` trick — ⌊log₂ n⌋ =
    * length(bin(n)) − 1, binary-string arithmetic, no float log. Zero-token
    * docs land in bin −1 ("empty", the data-quality bucket). One
    * partial-agg'd scan to ~40 bins. */
  def tokenLengthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val binned = Tables.documents(spark, sfDir)
      .select(bpeTokenCount(col("text")).as("toks"))
      .withColumn("bin",
        when(col("toks") <= 0, lit(-1L))
          .otherwise(expr("length(bin(toks)) - 1").cast("bigint")))
    val total = Window.partitionBy()
    binned.groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
      .withColumn("doc_share",
        duckRound(col("n_docs").cast("double") /
          sum("n_docs").over(total).cast("double"), 4))
      .withColumn("token_share",
        duckRound(col("n_tokens").cast("double") /
          sum("n_tokens").over(total).cast("double"), 4))
      .select(col("bin"),
        when(col("bin") < 0, lit(0L))
          .otherwise(expr("shiftleft(1L, cast(bin as int))")).as("lo_tokens"),
        col("n_docs"), col("n_tokens"), col("doc_share"), col("token_share"))
      .orderBy("bin")
  }

  /** QUOTA SAMPLING — [[mixtureWeights]] MATERIALIZED: the α=0.5 per-source
    * token budgets actually spent against the corpus, selecting concrete
    * documents. Per source, docs are taken in content-independent digest
    * order (`md5(doc_id)` — no RNG, rerun-stable, the same discipline as
    * `cluster_sample`) until the source's integer token budget
    * (`weight · B div Σweight` — exact BIGINT arithmetic) is exhausted;
    * a doc is kept iff its running token total fits the budget. The
    * pipeline arc completes: `source_mix` says what the corpus IS,
    * `mixture_weights` what the sampler SHOULD do, this is the sampler
    * DOING it — the doc list a training run reads.
    *
    * 100 TB: one |sources|-row broadcast of budgets onto the scan, one
    * shuffle on source for the per-source running sum (the same
    * window-over-partition shape as `pack_sequences`); no global sort
    * before the presentation ordering. */
  def quotaSample(spark: SparkSession, sfDir: String,
                  totalBudget: Long = 20000L): DataFrame = {
    val perSource = Tables.documents(spark, sfDir)
      .select(col("source"), bpeTokenCount(col("text")).as("toks"))
      .groupBy("source")
      .agg(sum("toks").as("n_tokens"))
      .withColumn("weight", floor(sqrt(col("n_tokens").cast("double"))).cast("bigint"))
    val budgets = perSource
      .withColumn("sumw", sum("weight").over(Window.partitionBy()))
      .withColumn("budget", expr(s"weight * ${totalBudget}L div sumw"))
      .select("source", "budget")
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), bpeTokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .join(broadcast(budgets), Seq("source"))
      .filter(col("cum_tokens") <= col("budget"))
      .select("source", "doc_id", "n_tokens", "cum_tokens", "budget")
      .orderBy("source", "cum_tokens")
  }

  /** Fixed-window document CHUNKING — the retrieval/context-window prep
    * step: each document becomes overlapping `width`-char chunks on a
    * `stride`-char grid (overlap = width − stride keeps boundary-spanning
    * phrases inside at least one chunk). Emits the chunk MAP — `(doc_id,
    * chunk_id, start, chunk_len, chunk_fp)` with an md5 content
    * fingerprint per chunk — rather than duplicated text: downstream
    * consumers (embedding jobs, chunk-level dedup) re-slice lazily from
    * the source column, so the materialized output is O(chunks), not
    * O(chunks × width) bytes.
    *
    * 100 TB: pure narrow scan — sequence/posexplode/substring/md5 all
    * codegen inside one stage, no shuffle before the presentation sort;
    * output rows ≈ corpus_chars / stride. */
  def docChunks(spark: SparkSession, sfDir: String,
                width: Int = 64, stride: Int = 48): DataFrame =
    docChunksFrom(Tables.documents(spark, sfDir), width, stride)

  /** [[docChunks]] over an explicit `(doc_id, text)` frame — CHARACTER
    * semantics throughout (length/substring count code points, not bytes;
    * md5 hashes the chunk's UTF-8 re-encoding), pinned by the unicode
    * spec. */
  def docChunksFrom(docs: DataFrame, width: Int = 64, stride: Int = 48): DataFrame =
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .filter(col("len") >= 1)
      .select(col("doc_id"), col("text"), col("len"),
              posexplode(sequence(lit(0L), expr(s"CAST((len - 1) div $stride AS BIGINT)"))))
      .toDF("doc_id", "text", "len", "chunk_id", "idx")
      .select(col("doc_id"),
        col("chunk_id").cast("bigint").as("chunk_id"),
        (col("idx") * stride + 1).cast("bigint").as("chunk_start"),
        least(lit(width.toLong), col("len") - col("idx") * stride).cast("bigint").as("chunk_len"),
        md5(expr(s"substring(text, CAST(idx * $stride + 1 AS INT), $width)")).as("chunk_fp"))
      .orderBy("doc_id", "chunk_id")

  private val StreamMarkers = Seq("stream", "window", "event")
  private val TableMarkers = Seq("table", "row", "column")
  private val JoinMarkers = Seq("join", "merge", "hash")

  /** Marker-word document classifier (the n-gram-heuristic language-ID
    * shape: count marker hits per class, argmax with a deterministic tie
    * order). Classes here are topical since the corpus is synthetic
    * English word-soup, but the operator shape is exactly a language
    * identifier's. */
  def classifyDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val ws = tokenize(col("text"))
    def score(markers: Seq[String]) =
      size(filter(ws, w => w.isin(markers: _*))).cast("bigint")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              score(StreamMarkers).as("s_stream"),
              score(TableMarkers).as("s_table"),
              score(JoinMarkers).as("s_join"))
      .withColumn("pred",
        when(col("s_stream") >= col("s_table") && col("s_stream") >= col("s_join"), "streaming")
          .when(col("s_table") >= col("s_join"), "tabular")
          .otherwise("relational"))
      .orderBy("doc_id")
  }

  /** Character-n-gram profiles for the language identifier: the highest-
    * frequency letter trigrams of each language (standard n-gram-profile
    * language ID à la Cavnar–Trenkle, reduced to a fixed marker set so the
    * score is a deterministic integer). */
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", " th", "ion"),
    "es" -> Seq(" de", "que", "los", "ión", "ent"),
    "de" -> Seq("der", "ein", "sch", "ich", "den"),
    "fr" -> Seq(" de", "les", "ent", "une", "ais"))

  /** Language identification by char-n-gram profile scoring: count each
    * profile trigram's occurrences with the replace-length identity
    * `(len(t) - len(replace(t, m, ''))) / len(m)` — pure codegen'd string
    * built-ins, one pass per marker over the text, no tokenization, no UDF.
    * Prediction = argmax score with a fixed language priority for ties.
    * (On this synthetic English-soup corpus the scores skew English — the
    * operator, not the labels, is what's exercised.) */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val t = lower(col("text"))
    def occurrences(marker: String) =
      ((length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(marker), ""))) /
        marker.length).cast("bigint")
    def score(markers: Seq[String]) = markers.map(occurrences).reduce(_ + _)
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id") +:
        LangProfiles.map { case (l, ms) => score(ms).as(s"s_$l") }: _*)
    val langs = LangProfiles.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last): Column) { (l, els) =>
      val c = col(s"s_$l")
      val others = langs.dropWhile(_ != l).tail
      when(others.map(o => c >= col(s"s_$o")).reduce(_ && _), lit(l)).otherwise(els)
    }
    scored.withColumn("pred", pred).orderBy("doc_id")
  }

  /** LANGUAGE-ID CONFUSION MATRIX — [[langId]] evaluated against the
    * corpus's labeled `lang` column: per (actual, predicted) cell the
    * document count and the recall share of the actual language (the
    * diagonal is per-language recall). The eval instrument the heuristic
    * needs before anyone mixes on its output — the `ann_recall` /
    * `winnow_recall` discipline applied to classification: ship the
    * measurement next to the operator, priced honestly.
    *
    * 100 TB: predictions are [[langId]]'s scan-side marker arithmetic;
    * the join is doc-keyed; cells partial-agg to ≤|langs|² rows and the
    * recall share windows over that metadata-sized matrix. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val preds = langId(spark, sfDir).select(col("doc_id"), col("pred"))
    val cells = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang").as("lang_actual"))
      .join(preds, "doc_id")
      .groupBy(col("lang_actual"), col("pred").as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    // ≤|langs|² matrix rows — metadata-sized window
    val w = Window.partitionBy("lang_actual")
    cells
      .withColumn("recall_share",
        duckRound(col("n_docs").cast("double") /
          sum("n_docs").over(w).cast("double"), 4) + lit(0.0))
      .orderBy("lang_actual", "lang_pred")
  }

  /** Content fingerprint per document: md5 of whitespace-normalized text.
    * The join key for exact dedup at scale (fingerprint once, shuffle the
    * 32-byte digest instead of the document). */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Deterministic content-hash sampling — the reproducible way to
    * subsample a 100 TB corpus: keep a document iff the leading hex nibble
    * of its content digest clears the rate (here 2/16 = 12.5%). No RNG and
    * no seed plumbing; membership is a pure function of content, so the
    * same sample falls out on any cluster, partitioning, or rerun — and the
    * filter runs scan-side with zero shuffle. */
  def sampleHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
      .filter(substring(col("fp"), 1, 1) <= "1")
      .orderBy("doc_id")

  /** Deterministic stratified sample: k documents per language stratum,
    * picked by content-digest order — per-group quotas without an RNG, so
    * quota membership is engine- and run-independent. One shuffle on the
    * stratum key; Catalyst's WindowGroupLimit pushes the k-cutoff below the
    * full sort. */
  def stratifiedSample(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("fp").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), fingerprintMd5(col("text")).as("fp"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select("lang", "rk", "doc_id", "fp")
      .orderBy("lang", "rk")
  }

  /** Probability-proportional-to-size (PPS) Poisson sampling — the weighted
    * sampling form a mixture pipeline uses when "one document, one vote" is
    * wrong: a 50k-char document should be `50k/avg` times as likely to enter
    * a size-calibrated subsample as a tweet. Each document is an independent
    * Bernoulli draw with p_i = min(1, target·w_i / W) (w = `n_chars`, W =
    * corpus total), realized WITHOUT an RNG: the draw is the 32-bit integer
    * parsed from the content digest's leading 8 hex chars compared against
    * an integer threshold `(target·w·2^32) div W` — all-BIGINT arithmetic
    * (threshold ≤ target·maxdoc·2^32, corpus-size-independent, so no
    * overflow at any W), so membership is a pure function of content and
    * the oracle replays it exactly. Poisson PPS (one scan, no global sort,
    * no coordination between draws) is the form that survives 100 TB: the
    * only aggregate is ONE scalar sum broadcast back to a scan-side filter.
    * `p_permille` carries the integer inclusion probability for downstream
    * Horvitz–Thompson reweighting. */
  def ppsSample(spark: SparkSession, sfDir: String, target: Int = 64): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.agg(sum("n_chars").as("w_total"))
    docs
      .select(col("doc_id"), col("n_chars"),
        conv(substring(fingerprintMd5(col("text")), 1, 8), 16, 10)
          .cast("bigint").as("u32"))
      .crossJoin(broadcast(total))
      .withColumn("thresh",
        expr(s"($target * n_chars * 4294967296) div w_total"))
      .filter(col("u32") < col("thresh"))
      .select(col("doc_id"), col("n_chars"), col("u32"),
        least(lit(1000L), expr(s"($target * n_chars * 1000) div w_total"))
          .as("p_permille"))
      .orderBy("doc_id")
  }

  /** Per-source BOILERPLATE line removal — the CCNet/RefinedWeb pass that
    * strips navigation headers, cookie banners and copyright footers
    * before any content-level dedup sees the text: a line (hash) occurring
    * in ≥ half of a source's documents is boilerplate FOR THAT SOURCE and
    * is dropped from every document carrying it; the same sentence in a
    * different source is untouched (a quote is not boilerplate just
    * because some other site templates it). The corpus has no line
    * structure, so — the `scrub_pii` discipline — a deterministic
    * synthetic page frame (per-source header/footer, a 20 %-coverage
    * newsletter insert, a per-doc unique line) is wrapped around the text
    * before splitting, making every branch of the detector observable:
    * header/footer caught at 100 % coverage, the insert caught at exactly
    * the ≥ 50 % boundary's complement (20 % → kept), the unique line and
    * the body never caught. Output per document: line counts and the md5
    * of the CLEANED text (order-preserving), so the gate checks the full
    * reconstruction, not just the counts.
    *
    * 100 TB: one scan + explode; line stats partial-aggregate on
    * (source, line) — boilerplate is BY DEFINITION high-frequency, so the
    * dictionary that survives the coverage filter is tiny and broadcast;
    * reconstruction is one hash aggregate on doc_id. No self-join, no
    * all-pairs anywhere. */
  def boilerplateLines(spark: SparkSession, sfDir: String): DataFrame =
    boilerplateLinesFrom(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), syntheticPage.as("page")))

  /** The deterministic synthetic page frame `boilerplate_lines` wraps
    * around the line-structure-free corpus — ONE definition site shared
    * with the streaming twin and mirrored by both SQL oracles, so the
    * fixture can never drift between the batch and stream paths. */
  private[graft] def syntheticPage: Column = concat(
    lit("home about "), col("source"), lit(" products contact\n"),
    col("text"), lit("\n"),
    when(col("doc_id") % 5 === 0,
      concat(lit("subscribe to the "), col("source"), lit(" newsletter\n")))
      .otherwise(lit("")),
    lit("ref "), col("doc_id").cast("string"), lit(" "), col("source"),
    lit("\ncopyright "), col("source"), lit(" all rights reserved"))

  /** [[boilerplateLines]] over an explicit `(doc_id, source, page)` frame
    * whose `page` already carries real line structure — the form a crawl
    * pipeline with native newlines calls, and the spec's hand-fixture
    * entry point (the ≥ half-coverage boundary is pinned there at exactly
    * df·2 = n_docs). */
  def boilerplateLinesFrom(docs: DataFrame): DataFrame =
    cleanWithLineCounts(docs, boilerplateLineCounts(docs))

  /** Per-(source, line) document-frequency counts — each document
    * contributes each of its DISTINCT lines once (the per-doc
    * `array_distinct` makes the count a plain associative SUM, which is
    * what lets the streaming twin maintain this exact table as state with
    * no distinct-aggregate support needed). */
  private[graft] def boilerplateLineCounts(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        explode(array_distinct(split(col("page"), "\n"))).as("line"))
      .groupBy("source", "line")
      .agg(count(lit(1)).as("df"))

  /** The cleaning read-out against an already-materialized line-frequency
    * table — shared with the streaming twin, whose state store maintains
    * exactly these `(source, line, df)` rows. */
  private[graft] def cleanWithLineCounts(docs: DataFrame, lineDf: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("page"), "\n")).as(Seq("pos", "line")))
    val srcSizes = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val boiler = lineDf
      .join(srcSizes, "source")
      .filter(col("df") * 2 >= col("n_docs"))
      .select(col("source"), col("line"), lit(1).as("is_b"))
    lines
      .join(broadcast(boiler), Seq("source", "line"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
           count(col("is_b")).as("n_boiler"),
           md5(concat_ws("\n",
             transform(array_sort(collect_list(
               when(col("is_b").isNull, struct(col("pos"), col("line"))))),
               x => x.getField("line")))).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** UNICODE NFC NORMALIZATION report (`graft_nfc`, a codegen'd native
    * expression over the JDK Normalizer) — the canonicalization pass a
    * text pipeline runs BEFORE any content hashing: decomposed
    * `e`+U+0301 and precomposed `é` are byte-distinct but canonically
    * equal, so exact dedup, shingle dedup and every fingerprint in this
    * engine silently miss such duplicate pairs unless all text is
    * normalized to one form first (the CCNet/RefinedWeb cleanup step).
    * The corpus is ASCII — NFC would be the identity — so (the scrub_pii
    * discipline) a deterministic decomposed suffix keyed by doc_id is
    * appended first: `doc_id % 3` copies of a combining-mark phrase,
    * which makes the changed/unchanged branches, the codepoint-count
    * delta, AND the r = 0 identity case all observable and
    * oracle-replayable (DuckDB `nfc_normalize` implements the same
    * Unicode algorithm as `java.text.Normalizer`, and the md5 of the
    * normalized text gates the full content). Pure per-row codegen'd
    * expressions — scales with the scan, no shuffle until the
    * presentation sort; the kernel's ASCII fast path skips the
    * Normalizer walk for the common case. */
  def normalizeText(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTextFrom(Tables.documents(spark, sfDir))

  /** The decomposed suffix unit: 'e' + U+0301 (combining acute) and
    * 'n' + U+0303 (combining tilde) — NFC composes both, so the
    * normalized text is strictly shorter in codepoints whenever the
    * repeat count is nonzero. ONE definition site, interpolated into the
    * engine expression and the SQL oracle (as chr(769)/chr(771) so the
    * oracle text is escape-auditable). */
  private[graft] val NfcSuffixUnit = " café mañana"

  /** [[normalizeText]] over an explicit frame with `doc_id`/`text`. */
  def normalizeTextFrom(docs: DataFrame): DataFrame =
    normalizeCore(docs).orderBy("doc_id")

  /** The sort-free normalization pipeline — shared with the streaming
    * twin ([[graft.streaming.EventStreams.streamNormalizeQuery]]), which
    * cannot sort an unbounded stream (the presentation sort happens on
    * the materialized sink). Stateless per-row codegen end to end. */
  private[graft] def normalizeCore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        concat(col("text"),
          // column-function form, NOT an interpolated SQL string: the
          // suffix constant travels as a literal, so a future suffix
          // containing a quote can never break parsing (r11 ADVICE)
          call_function("repeat", lit(NfcSuffixUnit),
            (col("doc_id") % 3).cast("int"))).as("t"))
      .select(col("doc_id"), col("t"),
              call_function("graft_nfc", col("t")).as("nt"))
      .select(col("doc_id"),
        (col("nt") =!= col("t")).cast("bigint").as("changed"),
        length(col("t")).cast("bigint").as("chars_before"),
        length(col("nt")).cast("bigint").as("chars_after"),
        md5(col("nt")).as("fp"))

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before anything else sees the text. Emails and URLs are detected with
    * dialect-portable regexes (no lookaround — Java and RE2 agree), counted,
    * and replaced with typed placeholder tags; the output carries the counts
    * plus a digest of the scrubbed text, so the differential gate checks the
    * full redacted content without shipping it. The corpus contains no PII,
    * so a deterministic synthetic tail (derived from doc_id — varying email
    * counts, a path-bearing URL) is appended before scrubbing to make the
    * check non-vacuous. Pure per-row codegen'd expressions: scales with the
    * scan, no shuffle until the presentation sort. */
  def scrubPii(spark: SparkSession, sfDir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          when(col("doc_id") % 2 === 0, lit(" admin@corp.io")).otherwise(lit("")),
          lit(" via https://host.example/p/"), col("doc_id").cast("string"),
          lit(" end")).as("t"))
      .select(col("doc_id"),
        regexp_count(col("t"), lit(email)).cast("bigint").as("n_emails"),
        regexp_count(col("t"), lit(url)).cast("bigint").as("n_urls"),
        md5(regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
                           url, "<URL>")).as("scrub_fp"))
      .orderBy("doc_id")
  }

  /** WINNOWING fingerprint selection per document (Schleimer–Wilkerson–
    * Aiken, the MOSS algorithm; `graft_winnowstats` native kernel): over
    * the 8-token Karp–Rabin chunk chain, each sliding window of `w`
    * consecutive chunk hashes selects its minimum (rightmost on ties);
    * the distinct selected set is a ~2/(w+1)-density sample of the chunk
    * chain that GUARANTEES any shared passage of ≥ window+w−1 tokens
    * leaves a common fingerprint in both documents. Summarized per doc as
    * (count, min, max, sum, position-sum) so the oracle checks the exact
    * selected set, not just its size.
    *
    * 100 TB: pure scan-side codegen — zero shuffle before the output sort;
    * this is the cheap pass that makes [[winnowMatches]]' index 4× smaller
    * than [[commonPassages]]' full chunk explode. */
  def winnowFingerprints(spark: SparkSession, sfDir: String,
                         window: Int = 8, w: Int = 4): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              call_function("graft_winnowstats", col("text"), lit(window), lit(w)).as("s"))
      .select(col("doc_id"), col("s.n_fp").as("n_fp"), col("s.fp_min").as("fp_min"),
              col("s.fp_max").as("fp_max"), col("s.fp_sum").as("fp_sum"),
              col("s.pos_sum").as("pos_sum"))
      .orderBy("doc_id")

  /** Cross-document WINNOW match mining — MOSS's registry-scale pair
    * detection: the winnowed fingerprints ([[winnowFingerprints]]' sample,
    * not the full chunk chain) explode to (doc_id, fp) rows, ubiquitous
    * fingerprints (> `maxDocFreq` documents — boilerplate, the skew risk)
    * are dropped exactly as MOSS drops over-threshold hashes, and the
    * remaining postings self-join on the hash: pairs sharing ≥ `minShared`
    * fingerprints, with containment = shared / min(|A|, |B|).
    *
    * 100 TB: identical candidate-generation shape to `common_passages`
    * (hash-join on compact keys, partial-agg'd counts) but over the
    * winnowed sample — ~(w+1)/2× fewer index rows at the same guaranteed
    * passage-detection floor, plus the document-frequency cap bounding any
    * single hash's pair fan-out at maxDocFreq². */
  def winnowMatches(spark: SparkSession, sfDir: String, window: Int = 8,
                    w: Int = 4, maxDocFreq: Int = 50, minShared: Int = 2): DataFrame =
    winnowMatchesFrom(Tables.documents(spark, sfDir), window, w, maxDocFreq, minShared)

  /** [[winnowMatches]] over an explicit `(doc_id, text)` frame. */
  def winnowMatchesFrom(docs: DataFrame, window: Int, w: Int,
                        maxDocFreq: Int, minShared: Int): DataFrame = {
    // EAGER truncation at the reuse points (r16, guide §1.2/§5): sel fed
    // two references (df count + anti-join stream), cold four (per-doc
    // sizes, both self-join sides) and perDoc two — so the winnow explode
    // ran ~5× per query. Each frame now computes once; the winnowed
    // posting set is (w+1)/2× smaller than the chunk set by design, so
    // caching it is cheap by construction.
    val sel = docs
      .select(col("doc_id"),
              explode(call_function("graft_winnow", col("text"), lit(window), lit(w))).as("s"))
      .select(col("doc_id"), col("s.fp").as("fp"))
      .distinct() // one posting per (doc, hash): a value re-selected at two positions counts once
      .cutLineageLazily()
    // hot (the boilerplate list — hashes in > maxDocFreq docs) is tiny by
    // construction at any corpus size: broadcast it explicitly, because
    // sel's checkpoint hides the estimate that used to let the planner
    // see that (r16, guide §3.1)
    val hot = sel.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select("fp")
    val cold = sel.join(broadcast(hot), Seq("fp"), "left_anti").cutLineageLazily()
    val perDoc = cold.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      .cutLineageLazily()
    val pairs = cold.as("a")
      .join(cold.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n_fp").as("nfa")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n_fp").as("nfb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        duckRound(col("n_shared").cast("double") /
          least(col("nfa"), col("nfb")).cast("double"), 4).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** WINNOW RECALL — the instrument that prices winnowing's sampling: how
    * many of the pairs sharing at least one (cold) chunk hash does the
    * winnowed match pass detect? The guarantee covers passages ≥
    * window+w−1 tokens; pairs overlapping only in SHORTER passages are
    * detected with probability ≈ density² per shared chunk — the
    * documented trade for the ~(w+1)/2× smaller index. Same discipline as
    * `ann_recall`/`pq_recall`: the approximate path ships with an
    * oracle-checked measurement, so the trade is a number, not a claim.
    * Truth and approx both exclude boilerplate hashes (> `maxDocFreq`
    * docs, each on its own posting basis) so the instrument compares
    * like with like. One accounting row: truth pairs, detected, recall. */
  def winnowRecall(spark: SparkSession, sfDir: String, window: Int = 8,
                   w: Int = 4, maxDocFreq: Int = 50): DataFrame = {
    val chunks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(call_function("graft_chunks", col("text"), lit(window))).as("fp"))
      .distinct()
    val hot = chunks.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select("fp")
    // LAZY truncation ×2 (r16, guide §1.2): cold feeds BOTH sides of the
    // truth self-join and truth feeds BOTH output aggregates — without
    // truncation the chunk explode ran three times and the self-join
    // twice, all for two scalars. Lazy keeps the plan's subtree
    // concurrency (a race costs at most the old duplicate compute) while
    // sequential reuse hits the cache. hot is broadcast explicitly
    // (boilerplate list — tiny by contract).
    val cold = chunks.join(broadcast(hot), Seq("fp"), "left_anti").cutLineageLazily()
    val truth = cold.as("a")
      .join(cold.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .cutLineageLazily()
    val approx = winnowMatchesFrom(Tables.documents(spark, sfDir),
        window, w, maxDocFreq, minShared = 1)
      .select("doc_a", "doc_b")
    val detected = truth.join(approx, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(detected.agg(count(lit(1)).as("n_detected")))
      .select(col("n_truth"), col("n_detected"),
        duckRound(col("n_detected").cast("double") / col("n_truth").cast("double"), 4)
          .as("recall"))
  }

  /** The persisted WINNOW REGISTRY — the index half of the MOSS service at
    * scale: the corpus-side winnowed postings `(doc_id, fp)` stored
    * bucketed on the hash (lookups join shuffle-free against it), plus the
    * registry's BOILERPLATE list (hashes in > `maxDocFreq` documents,
    * computed once at index build and dropped from both sides of every
    * lookup — MOSS's over-threshold hash exclusion as a maintained
    * artifact rather than a per-query recount). Fingerprint-gated like
    * every derived store: a changed corpus can never be silently served
    * by a stale registry. Registry = the train shard (doc_id % 10 ≠ 0);
    * the held-out shard plays the arriving-submissions role. */
  def ensureWinnowIndex(spark: SparkSession, sfDir: String, window: Int = 8,
                        w: Int = 4, maxDocFreq: Int = 50, buckets: Int = 8): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val prefix = s"graft_winnowidx_${sf}_${graft.sources.Warehouse.pathToken(sfDir)}"
    val fp = graft.sources.Warehouse.sourceFingerprint(sfDir, "documents")
    val tables = Seq(s"${prefix}_postings", s"${prefix}_hot")
    graft.sources.Warehouse.ensureDerivedTables(spark, tables, fp) {
      val post = Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          explode(call_function("graft_winnow", col("text"), lit(window), lit(w))).as("s"))
        .select(col("doc_id"), col("s.fp").as("fp"))
        .distinct()
      val hot = post.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq).select("fp")
      graft.sources.Warehouse.writeBucketed(
        post.join(hot, Seq("fp"), "left_anti"), Seq("fp"), s"${prefix}_postings", buckets)
      graft.sources.Warehouse.writeBucketed(hot, Seq("fp"), s"${prefix}_hot", 1)
    }
    prefix
  }

  /** [[winnowMatches]] against the PERSISTED registry — the production
    * lookup path: each held-out document (the submissions shard) winnows
    * itself scan-side, drops the registry's boilerplate hashes, and joins
    * the stored postings on the hash; pairs sharing ≥ `minShared`
    * fingerprints emit with containment = shared / |probe's cold set|.
    *
    * 100 TB: the corpus is NOT re-fingerprinted per lookup — probe-side
    * work is proportional to the submissions batch, registry-side to the
    * candidate postings touched (bucketed equi-join on the hash), and the
    * boilerplate exclusion is a broadcast of a maintained tiny table. */
  def winnowMatchesIndexed(spark: SparkSession, sfDir: String, window: Int = 8,
                           w: Int = 4, minShared: Int = 2): DataFrame = {
    val prefix = ensureWinnowIndex(spark, sfDir, window, w)
    val registry = spark.table(s"${prefix}_postings")
    val hot = spark.table(s"${prefix}_hot")
    val probes = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        explode(call_function("graft_winnow", col("text"), lit(window), lit(w))).as("s"))
      .select(col("doc_id").as("probe_id"), col("s.fp").as("fp"))
      .distinct()
      .join(broadcast(hot), Seq("fp"), "left_anti")
    val nProbe = probes.groupBy("probe_id").agg(count(lit(1)).as("n_probe_fp"))
    probes
      .join(registry.select(col("fp"), col("doc_id").as("match_id")), Seq("fp"))
      .groupBy("probe_id", "match_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(nProbe, Seq("probe_id"))
      .select(col("probe_id"), col("match_id"), col("n_shared"),
        duckRound(col("n_shared").cast("double") / col("n_probe_fp").cast("double"), 4)
          .as("containment"))
      .orderBy("probe_id", "match_id")
  }

  /** Rolling-hash chunk fingerprint summary per document (`graft_chunkstats`
    * native kernel): every 8-token Karp–Rabin chunk hash, summarized as
    * (count, min, max, sum) — the chunk-level-dedup fingerprint, 32-bit
    * arithmetic pinned so DuckDB expresses the identical computation. */
  /** Feature-hashing document embeddings (hashing trick, Weinberger et al.
    * 2009) — the deterministic text→vector bridge: each token's 32-bit
    * hash picks a dimension (`h mod d`) and an unbiasing sign
    * (`(h div d) mod 2`), and the document embeds as the signed
    * token-count vector. One codegen'd O(tokens) scan-side pass per
    * document ([[graft.functions.expressions.HashEmbedKernel]]), fixed
    * d-long integer state, ZERO shuffle — at 100 TB this is pure map work
    * that pipelines into whatever consumes the vectors (clustering, ANN,
    * semantic dedup all accept explicit frames). Integer-exact end to end
    * (same `md5_number_lower mod 2³²` token-hash chain as the chunk
    * fingerprints), so the full embedding replays in DuckDB SQL. */
  def embedDocuments(spark: SparkSession, sfDir: String, dim: Int = 64): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              call_function("graft_hash_embed", col("text"), lit(dim)).as("emb"))
      .orderBy("doc_id")

  /** Driver-facing form of [[embedDocuments]]: the embedding projected to a
    * comma-joined string. The harness checker sorts/hashes output columns,
    * which requires scalar cells — internal consumers (clustering, ANN,
    * semantic dedup) keep the `array<bigint>` form above. */
  def embedDocumentsFlat(spark: SparkSession, sfDir: String, dim: Int = 64): DataFrame =
    embedDocuments(spark, sfDir, dim)
      .select(col("doc_id"),
              concat_ws(",", transform(col("emb"), _.cast("string"))).as("emb"))
      .orderBy("doc_id")

  def chunkFingerprint(spark: SparkSession, sfDir: String, window: Int = 8): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
              call_function("graft_chunkstats", col("text"), lit(window)).as("cs"))
      .select(col("doc_id"), col("cs.n_chunks").as("n_chunks"),
              col("cs.fp_min").as("fp_min"), col("cs.fp_max").as("fp_max"),
              col("cs.fp_sum").as("fp_sum"))
      .orderBy("doc_id")

  /** Cross-document repeated-PASSAGE mining — sub-document granularity
    * dedup analysis (the Lee et al. "Deduplicating Training Data" signal:
    * corpora repeat boilerplate passages inside otherwise-distinct
    * documents, and document-level dedup cannot see them). Every
    * `window`-token chunk's Karp–Rabin rolling hash ([[graft.functions
    * .expressions.ChunkKernel]] arithmetic — codegen'd scan-side kernel,
    * shared with `chunk_fingerprint` so the oracle replays it exactly)
    * explodes to `(chunk_fp, doc_id)` rows; grouping on the hash yields,
    * for every passage seen in ≥ `minDocs` DISTINCT documents, the
    * document reach, total occurrence count, and the canonical first doc.
    *
    * 100 TB story: the hash explode is scan-shaped; the shuffle carries
    * (hash, doc_id) pairs with map-side partial aggregation, and the
    * output is only the repeated tail — the same shape as exact dedup one
    * granularity down. Windows overlap, so a shared k-token passage with
    * k > window appears as k−window+1 consecutive shared chunks. */
  def commonPassages(spark: SparkSession, sfDir: String,
                     window: Int = 8, minDocs: Int = 2): DataFrame =
    commonPassagesFrom(Tables.documents(spark, sfDir), window, minDocs)

  /** [[commonPassages]] over an explicit `(doc_id, text)` frame. */
  def commonPassagesFrom(docs: DataFrame, window: Int, minDocs: Int): DataFrame =
    docs
      .select(col("doc_id"),
        explode(call_function("graft_chunks", col("text"), lit(window))).as("chunk_fp"))
      .groupBy("chunk_fp")
      .agg(countDistinct("doc_id").as("n_docs"),
           count(lit(1)).as("n_occurrences"),
           min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .orderBy("chunk_fp")

  /** Per-document repeated-passage COVERAGE — the measurement half of the
    * Lee et al. exact-substring-dedup transform: for every document, how
    * many of its tokens sit inside at least one `window`-token chunk whose
    * Karp–Rabin hash also appears in another document ([[commonPassages]]'
    * duplicated tail). A chunk starting at token position i covers
    * positions i..i+window−1; overlapping duplicated chunks cover the
    * UNION of their windows, so `dup_tokens` is exactly the token count an
    * excision pass would remove. `dup_ratio` is the per-doc boilerplate
    * fraction — the filter signal ("drop docs that are mostly shared
    * passages") that doc-level dedup cannot produce.
    *
    * 100 TB story: chunk hashing is the scan-fused [[graft.functions
    * .expressions.ChunkKernel]] codegen kernel; the duplicated-fp set is a
    * (fp → distinct-doc reach) hash aggregate with map-side partials; the
    * join back is fp-keyed (compact integers); and the window explode
    * multiplies only DUPLICATED chunk starts by `window` — work scales
    * with the duplication tail, not the corpus. The per-position distinct
    * is bounded by window × duplicated-chunks and collapses map-side. */
  def dedupPassages(spark: SparkSession, sfDir: String,
                    window: Int = 8, minDocs: Int = 2): DataFrame =
    dedupPassagesFrom(Tables.documents(spark, sfDir), window, minDocs)

  /** [[dedupPassages]] over an explicit `(doc_id, text)` frame. */
  def dedupPassagesFrom(docs: DataFrame, window: Int, minDocs: Int): DataFrame = {
    // The exploded chunk frame feeds BOTH the reach aggregate and the
    // coverage join, and the two subtrees can't share an exchange — so the
    // (dominant) full-corpus Karp–Rabin pass is materialized once instead
    // of evaluated twice (the simhashPairs discipline; blocks are
    // reclaimed when the frame is unreferenced).
    val chunks = docs.select(col("doc_id"),
        posexplode(call_function("graft_chunks", col("text"), lit(window)))
          .as(Seq("pos", "chunk_fp")))
      .cutLineage()
    val dupFps = chunks.groupBy("chunk_fp")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("chunk_fp")
    val covered = chunks
      .join(dupFps, Seq("chunk_fp"))
      .select(col("doc_id"),
              explode(sequence(col("pos"), col("pos") + lit(window - 1))).as("p"))
      .groupBy("doc_id")
      .agg(countDistinct("p").as("dup_tokens"))
    docs
      .select(col("doc_id"), size(tokenize(col("text"))).cast("bigint").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
              coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_ratio",
        duckRound(col("dup_tokens").cast("double")
                    / greatest(col("n_tokens"), lit(1L)).cast("double"), 4))
      .orderBy("doc_id")
  }

  /** Exact-substring EXCISION — the transform half of the Lee et al.
    * dedup pass ([[dedupPassages]] is the measurement half): rewrite every
    * document's token stream with all cross-document repeated passages
    * removed, keeping surviving tokens in their original order. Output is
    * the token-normalized clean document (the unit the rest of the dedup
    * pipeline already works in) plus its surviving-token count; documents
    * whose every token is duplicated excise to the empty string.
    *
    * 100 TB story: the duplicated-fp detection is [[dedupPassages]]'
    * fp-keyed aggregate, and the per-doc covered-position SETS that shuffle
    * are bounded by window × duplicated chunk starts — the duplication
    * tail, not the corpus. The rewrite itself never shuffles tokens: the
    * kept-position list is `array_except(sequence, cov)` (hash lookup,
    * order of the first argument preserved) and the rebuild is
    * `element_at` over the scan-side token array — all codegen'd
    * higher-order functions fused into the document scan. */
  def excisePassages(spark: SparkSession, sfDir: String,
                     window: Int = 8, minDocs: Int = 2): DataFrame =
    excisePassagesFrom(Tables.documents(spark, sfDir), window, minDocs)

  /** [[excisePassages]] over an explicit `(doc_id, text)` frame. */
  def excisePassagesFrom(docs: DataFrame, window: Int, minDocs: Int): DataFrame = {
    // same shared-chunk-frame materialization as dedupPassagesFrom: the
    // Karp–Rabin pass feeds both the reach aggregate and the coverage join
    val chunks = docs.select(col("doc_id"),
        posexplode(call_function("graft_chunks", col("text"), lit(window)))
          .as(Seq("pos", "chunk_fp")))
      .cutLineage()
    val dupFps = chunks.groupBy("chunk_fp")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("chunk_fp")
    val covSets = chunks.join(dupFps, Seq("chunk_fp"))
      .select(col("doc_id"),
              explode(sequence(col("pos"), col("pos") + lit(window - 1))).as("p"))
      .groupBy("doc_id")
      .agg(collect_set(col("p")).as("cov"))
    // Spark's sequence(1, 0) counts DOWN — guard the empty-token case
    val allPos = when(size(col("ws")) > 0,
                      sequence(lit(0), size(col("ws")) - 1))
      .otherwise(array().cast("array<int>"))
    docs
      .join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"), tokenize(col("text")).as("ws"),
              coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .select(col("doc_id"),
              array_except(allPos, col("cov")).as("kept"), col("ws"))
      .select(col("doc_id"),
              size(col("kept")).cast("bigint").as("kept_tokens"),
              concat_ws(" ",
                transform(col("kept"), i => element_at(col("ws"), i + 1)))
                .as("clean_text"))
      .orderBy("doc_id")
  }

  /** URL canonicalization + dedup — the web-crawl dedup pass that catches
    * the SAME resource crawled under cosmetically different URLs. The
    * corpus has no URL column, so a deterministic synthetic URL is derived
    * from doc_id (mixed-case host, optional default port / tracking params
    * / fragment / trailing slash — the variants real crawls produce), then
    * canonicalized: scheme+host lowercased (path case PRESERVED — it is
    * significant), `www.` and `:443` stripped, `utm_*` params and fragments
    * dropped, trailing slash removed. Groups on the canonical form count
    * how many crawl variants collapse. Pure codegen'd regex/string ops,
    * scan-shaped; the only shuffle is the canonical-key groupBy — at 100 TB
    * this is exactly exact-dedup's shape with the canonicalizer fused into
    * the scan. */
  def urlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val synth = concat(
      when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
      when(col("doc_id") % 4 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Shard"), (col("doc_id") % 5).cast("string"), lit(".Example.COM"),
      when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
      lit("/Data/set"), (col("doc_id") % 20).cast("string"),
      when(col("doc_id") % 6 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
           concat(lit("?utm_source=feed&id="), (col("doc_id") % 4).cast("string")))
        .when(col("doc_id") % 3 === 1,
           concat(lit("?id="), (col("doc_id") % 4).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#Top")).otherwise(lit("")))
    val hostRaw = lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1))
    val canon = concat(
      lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)), lit("://"),
      regexp_replace(regexp_replace(hostRaw, "^www\\.", ""), ":443$", ""),
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^#]*)", 1),
              "utm_[a-z]+=[^&#]*&?", ""),
            "[?&]$", ""),
          "/$", ""),
        "/\\?", "?"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), synth.as("url"))
      .select(col("doc_id"), canon.as("canon_url"))
      .groupBy("canon_url")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_variants"))
      .orderBy("canon_url")
  }

  /** Karp-Rabin rolling polynomial hash over the token stream — a
    * locality-sensitive fingerprint family (used for chunk-level dedup).
    * Deterministic; exposed as a Scala function for the typed API and tests.
    * Returns the set of hashes of every `window`-token chunk. */
  def rollingHashes(tokens: IndexedSeq[String], window: Int, base: Long = 1000003L): Set[Long] = {
    if (tokens.length < window) return Set.empty
    val hs = tokens.map(stringHash64)
    var pow = 1L // base^(window-1), for removing the outgoing token
    var i = 1
    while (i < window) { pow *= base; i += 1 }
    var h = 0L
    i = 0
    while (i < window) { h = h * base + hs(i); i += 1 }
    var out = Set(h)
    var j = window
    while (j < tokens.length) {
      h = (h - hs(j - window) * pow) * base + hs(j)
      out += h
      j += 1
    }
    out
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Lower 64 bits of MD5(s): digest bytes 8..15 read little-endian — the
    * exact value of DuckDB's `md5_number_lower`, so sketches built on this
    * hash are SQL-oracle-expressible (used by SimHash). */
  def md5Low64(s: String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (d(8 + i) & 0xffL); i -= 1 }
    h
  }

  /** K-ANONYMITY cell suppression — the release-side privacy gate that
    * complements [[scrubPii]]'s content-side scrub: a document whose
    * (lang, source) quasi-identifier cell holds fewer than `k` documents is
    * re-identifiable BY ITS METADATA alone (publish "the one Basque doc
    * from crawler X" and you've published who wrote it, whatever the text
    * says), so the whole cell is suppressed from the release. Emits every
    * retained document with its cell size — the auditable form: a reviewer
    * can check `cell_size >= k` row by row, and the suppressed complement
    * is exactly `documents MINUS this`.
    *
    * 100 TB: one partial-agg'd count over |cells| groups (thousands, not
    * corpus-sized), then a broadcast-friendly equi-join of the tiny
    * retained-cell list back onto the scan — the corpus is touched once,
    * no self-join, no window. More quasi-identifier columns = a wider
    * groupBy key, same plan. */
  def kanonSuppress(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "source")
    val cells = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("cell_size"))
      .filter(col("cell_size") >= k)
    docs.join(broadcast(cells), Seq("lang", "source"))
      .select("doc_id", "lang", "source", "cell_size")
      .orderBy("doc_id")
  }

  /** NOISED CELL RELEASE — the third leg of the release-side privacy
    * family: [[kanonSuppress]] suppresses small cells but publishes EXACT
    * counts for the rest, and an exact count is itself a side channel
    * (publish n=847 for a cell twice and the delta re-identifies the one
    * doc added between releases). This op releases per-(lang, source)
    * cell counts with two-sided geometric noise (the discrete mechanism
    * of Ghosh–Roughgarden–Sundararajan, SICOMP 2012) and re-applies the
    * size threshold to the NOISY value — the true count never appears in
    * the output.
    *
    * Noise is SEEDED and integer-exact, which is what makes it a
    * differentially-TESTABLE pipeline op: u = `graft_hash64(lang:source)`
    * (the repo-wide md5 convention), sign = lowest bit, magnitude =
    * trailing zeros of u>>1 (a true Geometric(1/2), mean 1, from hash
    * bits alone — `bit_count((g & -g) - 1)`, no float ln/exp whose libm
    * rounding could diverge between engines), capped at `capMag`. The
    * ε-ACCOUNTING IS THE CALLER'S: a fixed seed means a fixed noise draw
    * per cell per corpus — the privacy contract of a single release, and
    * exactly reproducible for audit; rotating the release epoch into the
    * hash input redraws the noise.
    *
    * 100 TB: one partial-agg'd count to |cells| rows; everything after is
    * per-row integer bit arithmetic on the metadata-sized cell table. */
  /** Shared with the SQL oracle (one definition site — the
    * compactionPlanSql desync-proofing pattern). */
  val NoisedReleaseK = 5
  val NoisedReleaseCap = 16

  def noisedRelease(spark: SparkSession, sfDir: String,
                    k: Int = NoisedReleaseK,
                    capMag: Int = NoisedReleaseCap): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"))
    val h = call_function("graft_hash64",
      concat(col("lang"), lit(":"), col("source")))
    val g = shiftright(h, 1)
    val sign = when(h.bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
    val mag = least(expr("bit_count((g & -g) - 1)").cast("long"), lit(capMag.toLong))
    cells
      .withColumn("g", g)
      .withColumn("noisy_n", greatest(col("n") + sign * mag, lit(0L)))
      .withColumn("released", when(col("noisy_n") >= k, 1).otherwise(0))
      .select("lang", "source", "noisy_n", "released")
      .orderBy("lang", "source")
  }

  /** METRIC CORRELATION — per-source Pearson correlation between document
    * quality metrics: chars↔tokens (near-linear by construction) and
    * tokens↔types (sub-linear — the closed vocabulary saturates distinct
    * types on long documents, so this one genuinely varies by source).
    * The corpus-health diagnostic that tells a pipeline operator whether
    * a cheap metric (chars) can proxy an expensive one (types) per slice.
    *
    * NOT `corr()`: both engines implement Pearson over FLOAT co-moments,
    * whose summation order is partition-nondeterministic in Spark. The
    * per-doc metrics here are small integers, so the five moment sums are
    * kept EXACT in int64 (the [[zipfSlopeFrom]] discipline, strengthened:
    * integer sums, not float) and the formula is evaluated from them —
    * the single int→double rounding at the end is IEEE-identical in both
    * engines. Bounds: moments ≤ n·max(chars)² — int64-safe to ~10¹² docs
    * per source at these doc sizes; widen to the sketch path beyond.
    *
    * 100 TB: one fact scan partial-aggs to |sources| rows of moments;
    * everything after is metadata-sized arithmetic. */
  def metricCorr(spark: SparkSession, sfDir: String): DataFrame =
    metricCorrFrom(Tables.documents(spark, sfDir))

  /** [[metricCorr]] over an explicit `(source, text)` frame. */
  def metricCorrFrom(docs: DataFrame): DataFrame =
    metricPearson(metricMoments(docs))

  /** Stage 1 of [[metricCorrFrom]]: per-source EXACT int64 moment sums
    * over the per-doc (chars, tokens, types) metrics. Commutative integer
    * sums — the streaming twin maintains exactly this table as
    * complete-mode state and the final table equals the batch aggregate
    * under any arrival order. */
  private[graft] def metricMoments(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        length(col("text")).cast("bigint").as("c"),
        size(tokenize(col("text"))).cast("bigint").as("t"),
        size(array_distinct(tokenize(col("text")))).cast("bigint").as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("c").as("sc"), sum("t").as("st"), sum("y").as("sy"),
           sum(col("c") * col("c")).as("scc"),
           sum(col("t") * col("t")).as("stt"),
           sum(col("y") * col("y")).as("syy"),
           sum(col("c") * col("t")).as("sct"),
           sum(col("t") * col("y")).as("sty"))

  /** Stage 2 of [[metricCorrFrom]]: the Pearson formula over the exact
    * moment table — metadata-sized arithmetic, shared verbatim with the
    * streaming twin (the anomalyVerdict discipline). */
  private[graft] def metricPearson(g: DataFrame): DataFrame = {
    def pearson(n: Column, sa: Column, sb: Column, sab: Column,
                saa: Column, sbb: Column): Column = {
      val cov  = (n * sab - sa * sb).cast("double")
      val va   = (n * saa - sa * sa).cast("double")
      val vb   = (n * sbb - sb * sb).cast("double")
      duckRound(when(va * vb === 0.0, lit(0.0))
                  .otherwise(cov / sqrt(va * vb)), 4) + lit(0.0)
    }
    g.select(col("source"), col("n_docs"),
        pearson(col("n_docs"), col("sc"), col("st"), col("sct"),
                col("scc"), col("stt")).as("corr_chars_tokens"),
        pearson(col("n_docs"), col("st"), col("sy"), col("sty"),
                col("stt"), col("syy")).as("corr_tokens_types"))
      .orderBy("source")
  }

  /** Deterministic 64-bit FNV-1a string hash (no JVM hash dependence). */
  def stringHash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}
