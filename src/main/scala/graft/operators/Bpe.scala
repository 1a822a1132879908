package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Lineage._
import graft.sources.Tables

/** BPE tokenizer induction over the corpus — the vocabulary-training step
  * of an LLM data pipeline: learn up to `merges` highest-count pair merge
  * rules from corpus word frequencies (after Sennrich et al., "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016).
  *
  * Scale shape: the DISTRIBUTED work is the corpus word count (the same
  * map-side-combined aggregate as `wc`) and the per-round pair count over
  * the vocabulary; the winning rule — a single row, the argmax of that
  * distributed aggregate — is collected to the driver and applied as a
  * literal (the k-means-codebook pattern: tiny loop-carried state lives on
  * the driver, heavy state stays distributed). Rounds cost one
  * vocabulary-sized aggregate each, never a corpus re-scan; vocabulary
  * lineage is cut per round via [[Lineage]]. Training stops early when
  * no pair is left to merge — an exhausted round cannot wipe or corrupt
  * the state.
  *
  * Merge convention (differential gate): pair counts are integer sums over
  * ALL adjacent positions (overlap counted); the winning pair breaks ties
  * by (count desc, p1 asc, p2 asc); the rule is applied as a literal
  * string `replace` on the space-joined symbol sequence, TWICE per round —
  * `replace`'s left-to-right non-overlapping scan plus a second pass
  * merges every non-overlapping occurrence including those sharing a
  * separator space in a repeated-symbol run. Fidelity to canonical greedy
  * BPE is bounded, and by run length of identical symbols: even runs ≤ 4
  * match exactly (`a a a a` → `aa aa`); odd runs produce the canonical
  * MULTISET but can place the leftover single elsewhere (`5×a` →
  * `aa a aa`, canonical `aa aa a`); even runs ≥ 6 diverge outright — the
  * non-overlapping scan strands interior singles (`6×a` → `aa a aa a`,
  * canonical `aa aa aa`). The actual contract is not tokenizer fidelity
  * but ENGINE LOCKSTEP: both sides implement the identical literal-replace
  * semantics, so the whole loop is SQL-oracle-checkable (unrolled CTEs,
  * one block per round — the k-means oracle technique).
  *
  * Output: one row per learned rule `(step, p1, p2, pcnt)`. */
object Bpe {

  def bpeTrain(spark: SparkSession, sfDir: String, merges: Int = 6): DataFrame =
    bpeTrainFromCounts(corpusCounts(spark, sfDir), merges)

  /** Apply the learned merges back to the vocabulary: each word's subword
    * segmentation after training — the encode half of the tokenizer,
    * `(word, wcnt, n_subwords, seg)`. Shares the training CTE chain in
    * the oracle (the segmentation IS the final round's state). */
  def bpeEncode(spark: SparkSession, sfDir: String, merges: Int = 6): DataFrame =
    bpeSegmentsFromCounts(corpusCounts(spark, sfDir), merges)

  private def corpusCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(TextFunctions.tokenize(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("wcnt"))

  /** Learned rules over an explicit `(word, wcnt)` frame. */
  def bpeTrainFromCounts(wc: DataFrame, merges: Int): DataFrame =
    trainLoop(wc, merges)._1

  /** Final segmentations over an explicit `(word, wcnt)` frame. */
  def bpeSegmentsFromCounts(wc: DataFrame, merges: Int): DataFrame =
    trainLoop(wc, merges)._2
      .select(col("word"), col("wcnt"),
        size(split(trim(col("seq")), " ")).cast("bigint").as("n_subwords"),
        trim(col("seq")).as("seg"))
      .orderBy("word")

  /** Largest vocabulary (distinct words) the driver merge loop takes. */
  private val MaxDriverVocab = 2000000

  /** Runs the merge loop; returns (learned rules, final symbol state).
    *
    * Two strategies, picked by vocabulary size:
    *
    *  - **Driver loop** (vocab ≤ [[MaxDriverVocab]], 2M distinct
    *    words): ONE distributed job — the corpus word count, the
    *    only step whose cost scales with corpus mass — then the whole merge
    *    loop runs driver-side over the (small) vocabulary with incremental
    *    pair-count maintenance: a pair→words inverted index plus a
    *    lazy-deletion max-heap, so each round touches only the words
    *    containing the merged pair. A 30k-merge production vocabulary costs
    *    30k heap pops, not 30k Spark jobs. This is how reference BPE
    *    trainers work, and it is exact — no re-sync recount needed, the
    *    counts are maintained, not approximated.
    *  - **Distributed loop** (larger vocabularies): the original
    *    one-aggregate-per-round form — each round is a vocabulary-sized
    *    aggregate plus a 1-row argmax collect.
    *
    * Both apply the identical per-word merge (literal double `replace`) and
    * the identical argmax tie-break (count desc, then UTF-8-byte-ascending
    * pair — Spark's UTF8String and DuckDB's VARCHAR comparisons are both
    * binary, so the driver loop compares UTF-8 bytes, NOT Java's UTF-16
    * `compareTo`), so the two strategies and the SQL oracle stay in
    * lockstep — asserted at merges=64 in BpeSpec. */
  private def trainLoop(wc: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    val spark = wc.sparkSession
    import spark.implicits._
    // ONE run of the corpus aggregate both decides the strategy and feeds
    // the driver loop: take MaxDriverVocab+1 rows — if the vocabulary fits, we
    // already hold all of it (a separate count() would re-run the corpus
    // scan, the only corpus-mass-scaled step, twice).
    val head = wc.select(col("word"), col("wcnt")).as[(String, Long)].take(MaxDriverVocab + 1)
    if (head.length <= MaxDriverVocab) trainLoopDriverFromRows(spark, head, merges)
    else trainLoopDistributed(wc, merges)
  }

  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Initial symbol state of one word: code points space-joined, wrapped in
    * single spaces — the same form `regexp_replace(word, "(.)", "$1 ")`
    * builds (Java regex `.` matches a code POINT, so the driver split must
    * too). */
  private def initialSeq(word: String): String =
    word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
      .mkString(" ", " ", " ")

  /** Adjacent-pair multiset of a symbol sequence (overlap counted — the
    * same semantics as the posexplode+lead distributed count). */
  private def pairMultiset(seq: String): scala.collection.mutable.HashMap[(String, String), Long] = {
    val toks = seq.trim.split(" ")
    val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
    var i = 0
    while (i + 1 < toks.length) {
      val k = (toks(i), toks(i + 1))
      m.update(k, m.getOrElse(k, 0L) + 1L)
      i += 1
    }
    m
  }

  /** Driver-side merge loop over a collected vocabulary (spec/library
    * entry point; [[trainLoop]] hands over already-collected rows). */
  private[graft] def trainLoopDriver(wc: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    val spark = wc.sparkSession
    import spark.implicits._
    trainLoopDriverFromRows(spark,
      wc.select(col("word"), col("wcnt")).as[(String, Long)].collect(), merges)
  }

  private def trainLoopDriverFromRows(spark: SparkSession,
                                      rows: Array[(String, Long)],
                                      merges: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val words = rows.map(_._1)
    val wcnt = rows.map(_._2)
    val seqs = words.map(initialSeq)

    val pairCount = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val pairWords = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.BitSet]
    // Max-heap with lazy deletion: entries are (count, p1, p2) snapshots;
    // a popped entry is valid only if it matches the CURRENT count.
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val c1 = utf8Cmp(b._2, a._2) // smaller pair wins ties → "greater"
          if (c1 != 0) c1 else utf8Cmp(b._3, a._3)
        }
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, String, String)](ord)

    def bump(pr: (String, String), delta: Long, wi: Int, inWord: Boolean): Unit = {
      val next = pairCount.getOrElse(pr, 0L) + delta
      if (next <= 0L) pairCount.remove(pr) else pairCount.update(pr, next)
      val set = pairWords.getOrElseUpdate(pr, scala.collection.mutable.BitSet.empty)
      if (inWord) set.add(wi) else set.remove(wi)
      if (next > 0L) heap.enqueue((next, pr._1, pr._2))
    }

    words.indices.foreach { wi =>
      pairMultiset(seqs(wi)).foreach { case (pr, m) => bump(pr, m * wcnt(wi), wi, inWord = true) }
    }

    val rules = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // pop stale snapshots until the head reflects a live count
      while (heap.nonEmpty &&
             !pairCount.get((heap.head._2, heap.head._3)).contains(heap.head._1))
        heap.dequeue()
      if (heap.isEmpty) exhausted = true
      else {
        val (pcnt, p1, p2) = heap.dequeue()
        rules += ((step.toLong, p1, p2, pcnt))
        val pat = s" $p1 $p2 "
        val rep = s" $p1$p2 "
        // only words containing the merged pair are touched this round
        pairWords.getOrElse((p1, p2), scala.collection.mutable.BitSet.empty)
          .toArray.foreach { wi =>
            val before = seqs(wi)
            val after = before.replace(pat, rep).replace(pat, rep)
            if (after != before) {
              // full-multiset diff: subtract every old pair, add every new
              // one — net (neu − old)·wcnt per pair, membership from neu.
              // Intermediate heap snapshots are discarded lazily.
              val old = pairMultiset(before)
              val neu = pairMultiset(after)
              old.foreach { case (pr, m) =>
                bump(pr, -m * wcnt(wi), wi, inWord = neu.contains(pr))
              }
              neu.foreach { case (pr, m) =>
                bump(pr, m * wcnt(wi), wi, inWord = true)
              }
              seqs(wi) = after
            }
          }
        step += 1
      }
    }
    val state = words.indices.map(i => (words(i), wcnt(i), seqs(i)))
      .toDF("word", "wcnt", "seq")
    (rules.toSeq.toDF("step", "p1", "p2", "pcnt").orderBy("step"), state)
  }

  /** Distributed merge loop — one vocabulary-sized aggregate + 1-row argmax
    * collect per round; the form for vocabularies too large to collect. */
  private[graft] def trainLoopDistributed(wc: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    val spark = wc.sparkSession
    import spark.implicits._
    // symbol sequence per word: characters space-joined, wrapped in single
    // spaces so a merge rule ' p1 p2 ' matches on symbol boundaries only
    var seqs = wc.select(col("word"), col("wcnt"),
      concat(lit(" "),
        trim(regexp_replace(col("word"), "(.)", "$1 ")),
        lit(" ")).as("seq"))
      .cutLineage()
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val byWord = Window.partitionBy("word").orderBy("i")
    var exhausted = false
    for (step <- 1 to merges if !exhausted) {
      val top = seqs
        .select(col("word"), col("wcnt"), posexplode(split(trim(col("seq")), " ")))
        .toDF("word", "wcnt", "i", "t")
        .withColumn("nxt", lead("t", 1).over(byWord))
        .filter(col("nxt").isNotNull)
        .groupBy("t", "nxt")
        .agg(sum("wcnt").as("pcnt"))
        .orderBy(col("pcnt").desc, col("t").asc, col("nxt").asc)
        .limit(1)
        .collect() // ≤ 1 row: the argmax of a distributed aggregate
      if (top.isEmpty) exhausted = true // nothing left to merge — stop
      else {
        val (p1, p2, pcnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rules += ((step.toLong, p1, p2, pcnt))
        val pat = lit(s" $p1 $p2 ")
        val rep = lit(s" $p1$p2 ")
        seqs = seqs.withColumn("seq",
          call_function("replace",
            call_function("replace", col("seq"), pat, rep), pat, rep))
          .cutLineage()
      }
    }
    (rules.toSeq.toDF("step", "p1", "p2", "pcnt").orderBy("step"), seqs)
  }

  /** Shared CTE chain of the DuckDB oracle — generated, one block per
    * merge round, mirroring the engine's operation order. An exhausted
    * round has an empty `t$k`, which the LEFT JOIN turns into a no-op
    * round (state preserved), matching the engine's early stop. */
  private def bpeCtes(merges: Int): String = bpeCtesFiltered(merges, "")

  /** The training CTE chain over an optionally SHARD-FILTERED corpus
    * (`where` like "WHERE doc_id % 10 <> 0") — [[bpeCoverageOracle]] trains
    * on the train shard only, exactly as the operator does. */
  private def bpeCtesFiltered(merges: Int, where: String): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH toks AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), w -> w <> '')) AS word FROM documents $where),
             |wc AS (SELECT word, count(*) AS wcnt FROM toks GROUP BY word),
             |s0 AS (SELECT word, wcnt, ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS seq FROM wc)""".stripMargin
    for (k <- 1 to merges) {
      sb ++= s""",
                |p$k AS (SELECT lst[i] AS a, lst[i+1] AS b, CAST(sum(wcnt) AS BIGINT) AS pcnt
                |  FROM (SELECT wcnt, lst, unnest(range(1, len(lst))) AS i
                |        FROM (SELECT wcnt, string_split(trim(seq), ' ') AS lst FROM s${k - 1}) y) x
                |  GROUP BY 1, 2),
                |t$k AS (SELECT a, b, pcnt FROM p$k ORDER BY pcnt DESC, a, b LIMIT 1),
                |s$k AS (SELECT word, wcnt,
                |  CASE WHEN t.a IS NULL THEN seq
                |       ELSE replace(replace(seq, ' ' || t.a || ' ' || t.b || ' ', ' ' || t.a || t.b || ' '),
                |                    ' ' || t.a || ' ' || t.b || ' ', ' ' || t.a || t.b || ' ') END AS seq
                |  FROM s${k - 1} LEFT JOIN t$k t ON TRUE)""".stripMargin
    }
    sb.result()
  }

  /** The [[bpeTrain]] oracle: the learned rule list. */
  def bpeOracle(merges: Int = 6): String =
    bpeCtes(merges) + (1 to merges)
      .map(k => s"SELECT CAST($k AS BIGINT) AS step, a AS p1, b AS p2, pcnt FROM t$k")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY step")

  /** The [[bpeEncode]] oracle: the final round's segmentation state. */
  def bpeEncodeOracle(merges: Int = 6): String =
    bpeCtes(merges) +
      s"""
         |SELECT word, wcnt, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_subwords,
         |  trim(seq) AS seg
         |FROM s$merges ORDER BY word""".stripMargin

  /** TOKENIZER FERTILITY per language — the multilingual-fairness metric a
    * tokenizer review reads (Rust et al. 2021): pieces-per-word by
    * language under the learned vocabulary. A BPE vocabulary trained on a
    * skewed mixture over-segments the under-represented languages —
    * inflating their effective sequence lengths and compute cost per
    * character — and fertility is where that shows up first. Emits, per
    * language: word occurrences, total pieces, total chars, fertility
    * (pieces/word) and compression (chars/piece).
    *
    * Cost shape: the merge loop is [[bpeEncode]]'s (vocabulary-sized,
    * driver-side with distributed fallback); the language attribution is
    * one (lang, word) count joined to the segment table on the word — all
    * integer sums, so the metric is exact. */
  def bpeFertility(spark: SparkSession, sfDir: String, merges: Int = 6): DataFrame = {
    val seg = bpeEncode(spark, sfDir, merges).select(col("word"), col("n_subwords"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), explode(TextFunctions.tokenize(col("text"))).as("word"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("cnt"))
      .join(seg, Seq("word"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
           sum(col("cnt") * col("n_subwords")).as("n_pieces"),
           sum(col("cnt") * length(col("word")).cast("bigint")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        graft.functions.NumericFunctions.duckRound(
          col("n_pieces").cast("double") / col("n_words").cast("double"), 4).as("fertility"),
        graft.functions.NumericFunctions.duckRound(
          col("n_chars").cast("double") / col("n_pieces").cast("double"), 4).as("chars_per_piece"))
      .orderBy("lang")
  }

  def bpeFertilityOracle(merges: Int = 6): String =
    bpeCtes(merges) +
      s""",
         |lw AS (SELECT lang, word, count(*) AS cnt FROM
         |  (SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), w -> w <> '')) AS word FROM documents) z
         |  GROUP BY 1, 2),
         |jf AS (SELECT lang, cnt,
         |    CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS np,
         |    CAST(length(s$merges.word) AS BIGINT) AS wl
         |  FROM lw JOIN s$merges ON lw.word = s$merges.word),
         |ag AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_words,
         |    CAST(sum(cnt * np) AS BIGINT) AS n_pieces,
         |    CAST(sum(cnt * wl) AS BIGINT) AS n_chars
         |  FROM jf GROUP BY lang)
         |SELECT lang, n_words, n_pieces, n_chars,
         |  round(CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS fertility,
         |  round(CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE), 4) AS chars_per_piece
         |FROM ag ORDER BY lang""".stripMargin

  /** TOKENIZER COVERAGE per language — [[bpeFertility]]'s missing sibling
    * (the other half of the multilingual-fairness review): train the
    * vocabulary on the TRAIN shard (doc_id % 10 ≠ 0, the repo's standard
    * split), apply the learned merges to the HELD-OUT shard, and report
    * per language how much of the text the learned vocabulary actually
    * absorbs:
    *
    *  - `merge_coverage` — fraction of characters covered by multi-char
    *    learned pieces (vs. falling back to single-character pieces). A
    *    vocabulary trained on a skewed mixture absorbs the dominant
    *    language's text and leaves the rest spelled out char-by-char —
    *    this is where that shows up, before fertility even moves.
    *  - `n_fallback_bytes` / `fallback_rate` — BYTE-FALLBACK: pieces
    *    whose single character never occurred in the train shard at all
    *    (out-of-alphabet), costed in UTF-8 bytes — the tokens a
    *    byte-fallback tokenizer would emit. Zero on an alphabet-closed
    *    corpus (this fixture — the oracle proves the zeros); the column
    *    is live, spec-proven by injecting a foreign-alphabet shard.
    *
    * Mechanics: merge RULES (≤ `merges` rows) are staged to the driver
    * and replayed on eval words as literal replaces — the probe-staging
    * pattern (rules are codebook-scale, never corpus-scale); the train
    * ALPHABET joins as a broadcast char set. Everything else is exploded
    * (lang, piece, cnt) rows with partial-agg'd integer sums — exact, and
    * replayed verbatim by the SQL oracle. */
  def bpeCoverage(spark: SparkSession, sfDir: String, merges: Int = 6): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    bpeCoverageFrom(docs.filter(col("doc_id") % 10 =!= 0),
                    docs.filter(col("doc_id") % 10 === 0), merges)
  }

  /** [[bpeCoverage]] over explicit `(lang, text)` train/eval frames — the
    * form the byte-fallback spec injects a foreign-alphabet shard into. */
  private[graft] def bpeCoverageFrom(train: DataFrame, eval: DataFrame,
                                     merges: Int): DataFrame = {
    val wcTrain = train
      .select(explode(TextFunctions.tokenize(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
    // learned rules, in application order — vocabulary-scale, driver-staged
    val rules = bpeTrainFromCounts(wcTrain, merges)
      .orderBy("step").select("p1", "p2").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val alphabet = train
      .select(explode(split(regexp_replace(lower(col("text")), "[^\\p{L}]+", ""), "")).as("ch"))
      .filter(col("ch") =!= "").distinct()
    val spaced = concat(lit(" "),
      trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" "))
    val seq = rules.foldLeft(spaced) { case (s, (a, b)) =>
      val from = lit(s" $a $b "); val to = lit(s" $a$b ")
      // literal (non-regex) double replace: adjacent occurrences
      // ("a b a b") share the boundary space, so one pass misses every
      // second site — same as the training loop and the oracle's chain
      org.apache.spark.sql.functions.replace(
        org.apache.spark.sql.functions.replace(s, from, to), from, to)
    }
    eval
      .select(col("lang"), explode(TextFunctions.tokenize(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("cnt"),
              explode(split(trim(seq), " ")).as("piece"))
      .join(broadcast(alphabet.select(col("ch").as("piece"), lit(1).as("known"))),
            Seq("piece"), "left")
      .select(col("lang"), col("cnt"), col("piece"),
        (length(col("piece")) > 1).cast("long").as("merged"),
        (length(col("piece")) === 1 && col("known").isNull).cast("long").as("fallback"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_pieces_raw"),
           sum(col("cnt") * length(col("piece")).cast("long")).as("n_chars"),
           sum(col("cnt") * col("merged") * length(col("piece")).cast("long")).as("n_merged_chars"),
           sum(col("cnt") * col("fallback")).as("n_fallback_pieces"),
           sum(col("cnt") * col("fallback") * expr("octet_length(piece)").cast("long"))
             .as("n_fallback_bytes"))
      .select(col("lang"),
        col("n_pieces_raw").as("n_pieces"), col("n_chars"),
        graft.functions.NumericFunctions.duckRound(
          col("n_merged_chars").cast("double") / col("n_chars").cast("double"), 4)
          .as("merge_coverage"),
        col("n_fallback_bytes"),
        graft.functions.NumericFunctions.duckRound(
          col("n_fallback_pieces").cast("double") / col("n_pieces_raw").cast("double"), 4)
          .as("fallback_rate"))
      .orderBy("lang")
  }

  def bpeCoverageOracle(merges: Int = 6): String =
    bpeCtesFiltered(merges, "WHERE doc_id % 10 <> 0") +
      s""",
         |alpha AS (SELECT DISTINCT unnest(string_split(regexp_replace(lower(text), '[^\\p{L}]+', '', 'g'), '')) AS ch
         |  FROM documents WHERE doc_id % 10 <> 0 AND regexp_replace(lower(text), '[^\\p{L}]+', '', 'g') <> ''),
         |ew AS (SELECT lang, word, count(*) AS cnt FROM
         |  (SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '[^\\p{L}]+'), w -> w <> '')) AS word
         |   FROM documents WHERE doc_id % 10 = 0) z GROUP BY 1, 2),
         |e0 AS (SELECT lang, word, cnt, ' ' || trim(regexp_replace(word, '(.)', '\\1 ', 'g')) || ' ' AS seq FROM ew),
         |""".stripMargin +
      (1 to merges).map { k =>
        s"""e$k AS (SELECT lang, word, cnt,
           |  CASE WHEN t.a IS NULL THEN seq
           |       ELSE replace(replace(seq, ' ' || t.a || ' ' || t.b || ' ', ' ' || t.a || t.b || ' '),
           |                    ' ' || t.a || ' ' || t.b || ' ', ' ' || t.a || t.b || ' ') END AS seq
           |  FROM e${k - 1} LEFT JOIN t$k t ON TRUE)""".stripMargin
      }.mkString(",\n") +
      s""",
         |pc AS (SELECT lang, cnt, unnest(string_split(trim(seq), ' ')) AS piece FROM e$merges),
         |fl AS (SELECT lang, cnt, piece,
         |    CASE WHEN length(piece) > 1 THEN 1 ELSE 0 END AS merged,
         |    CASE WHEN length(piece) = 1 AND piece NOT IN (SELECT ch FROM alpha) THEN 1 ELSE 0 END AS fallback
         |  FROM pc),
         |ag AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_pieces,
         |    CAST(sum(cnt * length(piece)) AS BIGINT) AS n_chars,
         |    CAST(sum(cnt * merged * length(piece)) AS BIGINT) AS n_merged_chars,
         |    CAST(sum(cnt * fallback) AS BIGINT) AS n_fallback_pieces,
         |    CAST(sum(cnt * fallback * strlen(piece)) AS BIGINT) AS n_fallback_bytes
         |  FROM fl GROUP BY lang)
         |SELECT lang, n_pieces, n_chars,
         |  round(CAST(n_merged_chars AS DOUBLE) / CAST(n_chars AS DOUBLE), 4) AS merge_coverage,
         |  n_fallback_bytes,
         |  round(CAST(n_fallback_pieces AS DOUBLE) / CAST(n_pieces AS DOUBLE), 4) AS fallback_rate
         |FROM ag ORDER BY lang""".stripMargin
}
