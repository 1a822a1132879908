package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.NumericFunctions.duckRound
import graft.functions.TextFunctions
import graft.operators.Lineage._
import graft.sources.{Tables, Warehouse}

/** Lexical relevance ranking over the document corpus: TF-IDF term
  * weighting and BM25 retrieval — the scoring layer between the inverted
  * index (CoreQueries.ii) and a search/training-data pipeline.
  *
  * Scale design: corpus-level statistics (per-term document frequency,
  * document lengths, N/avgdl) are PERSISTED warehouse tables built once
  * per corpus ([[ensureStats]]) and read by every query — at 100 TB the
  * statistics build is the indexing job and each query pays only its own
  * postings aggregate plus a broadcast of the (tiny) stats it touches.
  * Reuse is fingerprint-gated exactly like the dedup index (canonical-path
  * token in the table name + source file fingerprint in table properties),
  * so stale statistics can never silently score a changed corpus.
  *
  * Float discipline (differential gate): scores use `ln` on both engines
  * with an IDENTICAL operation tree, so both evaluate the same IEEE
  * doubles; sums across query terms are written as fixed-order explicit
  * additions (never a float SUM over an unordered group), and outputs are
  * rounded at the edge. `avgdl` is persisted as the exact double
  * `sum(dl)/N` of integer-valued doubles — order-independent below 2^53 —
  * so the stored value equals the on-the-fly aggregate bit for bit.
  */
object Ranking {

  /** (doc_id, word, tf) — per-document term frequencies of the letter-run
    * tokenizer, one shuffle on (doc_id, word). */
  private def termFreqs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextFunctions.tokenize(col("text"))).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))

  /** Build (or fingerprint-validated reuse) the persisted ranking
    * statistics for `sfDir`'s documents:
    *
    *  - `<prefix>_termdf(word, df)` bucketed by word — per-term document
    *    frequency (each (doc, word) counted once);
    *  - `<prefix>_doclen(doc_id, dl)` bucketed by doc_id — token count per
    *    document;
    *  - `<prefix>_corpus(n_docs, avgdl)` — the one-row corpus statistics.
    *
    * Returns the table prefix. */
  def ensureStats(spark: SparkSession, sfDir: String, buckets: Int = 8): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val prefix = s"graft_rankstats_${sf}_${Warehouse.pathToken(sfDir)}"
    val fp = Warehouse.sourceFingerprint(sfDir, "documents")
    val tables = Seq("termdf", "doclen", "corpus").map(s => s"${prefix}_$s")
    Warehouse.ensureDerivedTables(spark, tables, fp) {
      val tf = termFreqs(spark, sfDir)
      Warehouse.writeBucketed(
        tf.groupBy("word").agg(count(lit(1)).as("df")),
        Seq("word"), s"${prefix}_termdf", buckets)
      val dl = Tables.documents(spark, sfDir).select(col("doc_id"),
        size(TextFunctions.tokenize(col("text"))).cast("bigint").as("dl"))
      Warehouse.writeBucketed(dl, Seq("doc_id"), s"${prefix}_doclen", buckets)
      Warehouse.writeBucketed(
        dl.agg(count(lit(1)).as("n_docs"), avg(col("dl").cast("double")).as("avgdl")),
        Seq("n_docs"), s"${prefix}_corpus", 1)
    }
    prefix
  }

  /** Top-k TF-IDF terms per document: tf × ln(N / df), ranked per doc.
    * df and N come from the persisted statistics tables; the
    * vocabulary-sized df table broadcasts to the postings join, so the
    * query pays one postings aggregate and zero corpus-wide re-scans. */
  def tfidfTerms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val prefix = ensureStats(spark, sfDir)
    val tf = termFreqs(spark, sfDir)
    val df = spark.table(s"${prefix}_termdf")
    val n = spark.table(s"${prefix}_corpus").select("n_docs")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("word").asc)
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("word"), col("tf"),
              duckRound(col("tfidf"), 6).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  // BM25 parameters: k1 = 1.2, b = 0.75 (the standard defaults), written
  // inline as literals below so both engines parse the identical decimals.
  private val QueryTerms = Seq("stream", "join", "window")

  /** BM25 top-k retrieval for a fixed conjunctive-ish query. Per-term
    * contributions land in one column each (pivoted with `max(when)`), so
    * the final score is a FIXED-ORDER sum — float addition order never
    * depends on partitioning. df / dl / N / avgdl all come from the
    * persisted statistics tables (broadcast or doc_id-bucket-local), so
    * the per-query work is one term-filtered postings aggregate. */
  def bm25Search(spark: SparkSession, sfDir: String, k: Int = 10): DataFrame = {
    val prefix = ensureStats(spark, sfDir)
    val dl = spark.table(s"${prefix}_doclen")
    val stats = spark.table(s"${prefix}_corpus")
    val tf = termFreqs(spark, sfDir)
      .filter(col("word").isin(QueryTerms: _*))
    val df = spark.table(s"${prefix}_termdf")
      .filter(col("word").isin(QueryTerms: _*))
    // idf and the tf-saturation quotient, written once; the same Column
    // tree instantiates per query term so the op order is identical.
    val scored = tf.join(broadcast(df), "word")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
              (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib",
        // constants written as plain decimal literals (2.2, 1.2, 0.25,
        // 0.75) in BOTH engines — no compile-time folding whose rounding
        // the SQL oracle can't reproduce
        col("idf") * ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))))
    val perDoc = scored.groupBy("doc_id")
      .pivot("word", QueryTerms)
      .agg(max(col("contrib")))
      .na.fill(0.0)
    val score = QueryTerms.map(t => col(s"`$t`")).reduceLeft(_ + _)
    val ranked = perDoc
      .withColumn("score", score)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
    ranked
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("bigint"))
      .select(col("rnk"), col("doc_id"), duckRound(col("score"), 4).as("score"))
      .orderBy("rnk")
  }

  /** INTEGER-EXACT PageRank over a document link graph — the link-graph
    * quality prior web-scale corpus pipelines weight documents by (the
    * harmonic-centrality/PageRank signal behind Common-Crawl-derived
    * corpus curation). The corpus has no link column, so a deterministic
    * synthetic graph is derived from doc ids (2–3 out-links per doc via
    * fixed affine maps mod N — the [[TextAnalysis.urlDedup]] convention),
    * self-links dropped, duplicate edges collapsed.
    *
    * All float hazards are removed by fixed-point arithmetic: ranks are
    * longs scaled by 2⁴⁰, per-edge contributions are `rank div outdeg`,
    * the damping update is `(15·base + 85·inflow) div 100` — exact
    * integer sums are order-independent, so the result is deterministic
    * under ANY partitioning and exactly replayable in SQL (the
    * quantile-sketch philosophy applied to an iterative graph kernel).
    * Bounds: inflow ≤ 2⁴⁰, 85·inflow < 2⁴⁷ — no overflow for any corpus
    * below 2²³ documents per unit of rank mass. Dangling mass is not
    * redistributed (the standard simplification; no synthetic node
    * dangles).
    *
    * 100 TB story: each round is the Pregel shape — one join of the edge
    * list against ranks on src, one inflow aggregate on dst (both
    * partial-agg'd, both key-partitioned; co-partitioning edges by src
    * across rounds reuses the exchange). Rounds are fixed (3), so plan
    * depth is bounded; N-row state never touches the driver. */
  def linkRank(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame =
    linkRankFrom(Tables.documents(spark, sfDir).select("doc_id"), iters)

  /** [[linkRank]] over an explicit `(doc_id)` frame. */
  def linkRankFrom(docs: DataFrame, iters: Int = 3): DataFrame = {
    val n = docs.count()
    require(n > 0, "linkRankFrom: empty corpus — the affine edge maps and " +
      "the base rank 2^40/n are undefined at n = 0")
    val scale = 1099511627776L // 2^40
    val base = scale / n
    val t12 = docs.select(col("doc_id").as("src"),
      explode(array((col("doc_id") * 7 + 3) % n,
                    (col("doc_id") * 13 + 5) % n)).as("dst"))
    val t3 = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("src"), ((col("doc_id") * 31 + 11) % n).as("dst"))
    val edges = t12.union(t3).filter(col("src") =!= col("dst")).distinct()
    val od = edges.groupBy("src").agg(count(lit(1)).as("odeg"))
    var ranks = docs.select(col("doc_id"), lit(base).as("r"))
    for (_ <- 1 to iters) {
      val inflow = edges.join(od, "src")
        .join(ranks, col("src") === col("doc_id"))
        .select(col("dst"), expr("r div odeg").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = docs.join(inflow, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          (lit(15L * base) + lit(85L) * coalesce(col("m"), lit(0L))).as("t"))
        .select(col("doc_id"), expr("t div 100").as("r"))
    }
    val ind = edges.groupBy("dst").agg(count(lit(1)).as("in_links"))
    ranks.join(ind, col("doc_id") === col("dst"), "left")
      .select(col("doc_id"), coalesce(col("in_links"), lit(0L)).as("in_links"),
              col("r").as("rank_scaled"))
      .orderBy("doc_id")
  }

  /** INTEGER-EXACT PERSONALIZED PageRank from the curated-seed class —
    * the trust-PROPAGATION member next to [[linkRankFrom]]'s global
    * centrality and [[seedHopsFrom]]/[[seedCostsFrom]]'s distances: the
    * restart vector concentrates all teleport mass on the vetted seeds
    * (`doc_id % SeedHopsSeedMod = 0`), so rank flows OUT from the seeds
    * and decays with link distance — the actual TrustRank computation
    * (Gyöngyi et al. VLDB'04), where hop distance is only the skeleton.
    * A page can be 2 hops from a seed yet low-trust (one weak path) or
    * high-trust (many strong paths); PPR integrates over ALL paths where
    * the distance ops take a min.
    *
    * Same fixed-point discipline as [[linkRankFrom]]: ranks are longs
    * scaled by 2⁴⁰, restart mass `scale div n_seeds` on seeds and 0
    * elsewhere, update `(15·restart + 85·inflow) div 100` — exact
    * integer sums, deterministic under any partitioning, replayed
    * verbatim in SQL. Same overflow bounds (total mass ≤ 2⁴⁰ since the
    * restart vector sums to ≤ scale and damping contracts).
    *
    * 100 TB: identical Pregel shape to link_rank — per round one edge⋈rank
    * join on src + one partial-agg'd inflow on dst; fixed 3 rounds. */
  def seedRank(spark: SparkSession, sfDir: String, iters: Int = 3): DataFrame =
    seedRankFrom(Tables.documents(spark, sfDir).select("doc_id"), iters)

  /** [[seedRank]] over an explicit `(doc_id)` frame. */
  def seedRankFrom(docs: DataFrame, iters: Int = 3): DataFrame = {
    val n = docs.count()
    require(n > 0, "seedRankFrom: empty corpus")
    val scale = 1099511627776L // 2^40
    val nSeeds = docs.filter(col("doc_id") % SeedHopsSeedMod === 0).count()
    require(nSeeds > 0, "seedRankFrom: no seeds in corpus — restart vector undefined")
    val seedMass = scale / nSeeds
    val edges = affineEdges(docs, n)
    val od = edges.groupBy("src").agg(count(lit(1)).as("odeg"))
    val restart = when(col("doc_id") % SeedHopsSeedMod === 0, lit(seedMass))
      .otherwise(lit(0L))
    var ranks = docs.select(col("doc_id"), restart.as("r"))
    for (_ <- 1 to iters) {
      val inflow = edges.join(od, "src")
        .join(ranks, col("src") === col("doc_id"))
        .select(col("dst"), expr("r div odeg").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
      ranks = docs.join(inflow, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          (lit(15L) * restart + lit(85L) * coalesce(col("m"), lit(0L))).as("t"))
        .select(col("doc_id"), expr("t div 100").as("r"))
    }
    ranks
      .select(col("doc_id"),
        when(col("doc_id") % SeedHopsSeedMod === 0, lit(1L)).otherwise(lit(0L))
          .as("is_seed"),
        col("r").as("ppr_scaled"))
      .orderBy("doc_id")
  }

  /** TRIANGLE COUNT over the [[linkRank]] graph, undirected — the
    * clustering-structure signal (community density, spam-farm detection)
    * next to PageRank's centrality. The naive triangle join is the
    * textbook scale killer (adjacency² explodes on hubs); the fix is
    * DEGREE-ORDERED ORIENTATION: each undirected edge points from its
    * lower-(degree, id) endpoint to the higher, so every triangle is
    * counted exactly once from its lowest-degree corner and the wedge
    * join's work is Σ d⁺(v)² ≤ O(m^1.5) REGARDLESS of hub skew — a
    * celebrity vertex has huge in-orientation but tiny out-orientation.
    * Both the wedge join and the closing-edge semi-join are plain
    * equi-joins (shuffle on vertex / edge keys, partial-agg'd counts);
    * nothing touches the driver. Output is one accounting row
    * `(n_edges, n_wedges, n_triangles)` — global clustering coefficient
    * = 3·triangles/wedges, left as exact integers. */
  def triangleCount(spark: SparkSession, sfDir: String): DataFrame =
    triangleCountFrom(Tables.documents(spark, sfDir).select("doc_id"))

  /** [[triangleCount]] over an explicit `(doc_id)` frame: same affine
    * edge derivation as [[linkRankFrom]], symmetrized. */
  def triangleCountFrom(docs: DataFrame): DataFrame = {
    val n = docs.count()
    require(n > 0, "triangleCountFrom: empty corpus")
    val t12 = docs.select(col("doc_id").as("src"),
      explode(array((col("doc_id") * 7 + 3) % n,
                    (col("doc_id") * 13 + 5) % n)).as("dst"))
    val t3 = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("src"), ((col("doc_id") * 31 + 11) % n).as("dst"))
    triangleCountEdges(t12.union(t3).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct())
  }

  /** The oriented-count core over an explicit UNDIRECTED edge set
    * `(a, b)` with a < b, duplicate-free. */
  def triangleCountEdges(und: DataFrame): DataFrame = {
    // und feeds four references (both degree-union branches, the
    // degree-attach join, the edge count) and oriented four more (both
    // wedge sides, the closing semi-join, the wedge count) — truncate
    // each once or the upstream edge derivation re-runs per reference
    // (r16, guide §1.2)
    val undM = und.cutLineageLazily()
    val deg = undM.select(col("a").as("v")).union(undM.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = undM
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("db")).otherwise(col("da")).as("dw"))
      .cutLineageLazily()
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dw") < col("y.dw") ||
            (col("x.dw") === col("y.dw") && col("x.w") < col("y.w"))))
      .select(col("x.w").as("p"), col("y.w").as("q"))
    val tri = wedges
      .join(oriented.select(col("u").as("p"), col("w").as("q")), Seq("p", "q"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val em = undM.agg(count(lit(1)).as("n_edges"))
    val wm = oriented.groupBy("u").agg(count(lit(1)).as("dd"))
      .agg(sum(expr("dd * (dd - 1) div 2")).as("n_wedges"))
    em.crossJoin(wm).crossJoin(tri)
  }

  /** LINK-FARM COMMUNITY DETECTION — the grouping complement of
    * [[linkRank]] (centrality) and [[triangleCount]] (density): every
    * document labeled with its community in the SAME-HOST link subgraph,
    * the spam-farm signal a web-scale curation pipeline down-weights by
    * (a "farm" is a set of co-hosted documents that link among
    * themselves; its size is the down-weighting knob, the way
    * Common-Crawl-derived corpora demote link-scheme domains).
    *
    * Graph: the [[linkRank]] affine edge derivation restricted to edges
    * whose endpoints share a host (the [[TextAnalysis.urlDedup]]
    * convention, host = doc_id mod 5) — empirically a rich multi-scale
    * component structure (sizes 1…N/25 across corpus scales), unlike the
    * full link graph, which is one giant component and carries no
    * grouping information. Labels are min-reachable-id via
    * [[Dedup.connectedComponents]] — the alternating-star CC that
    * converges in O(log² n) rounds on any topology — so the labeling is
    * integer-exact, partitioning-independent, and hash-matches the
    * recursive-CTE oracle exactly like `dedup_clusters` does.
    *
    * 100 TB: the edge list is id-derived (scan-shaped, no text); CC is
    * the proven persisted-cluster machinery (per-round shuffle aggregates
    * + joins, lineage checkpointed); the size column is one window
    * PARTITIONED by community over (doc, label) rows. */
  def linkCommunities(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = spark.table(ensureCommunityLabels(spark, sfDir))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(labels, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
              coalesce(col("l"), col("doc_id")).as("community_id"))
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy("community_id")))
      .orderBy("doc_id")
  }

  /** PERSISTED community labels — the [[graft.operators.Dedup.ensureClusterLabels]]
    * pattern applied to the link graph: the CC rounds depend only on the
    * corpus state, so they run once per corpus and every community
    * consumer ([[linkCommunities]], [[communityRollup]]) pays a label-table
    * join instead of re-running the alternating-star iteration. Stored as
    * `(v, l)` non-singleton labels, bucketed on `v`, fingerprint-gated
    * against the documents parquet. Returns the table name. */
  def ensureCommunityLabels(spark: SparkSession, sfDir: String): String = {
    val sf = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_linkcc_${sf}_${graft.sources.Warehouse.pathToken(sfDir)}_labels"
    val fp = graft.sources.Warehouse.sourceFingerprint(sfDir, "documents")
    graft.sources.Warehouse.ensureDerivedTables(spark, Seq(table), fp) {
      val docs = Tables.documents(spark, sfDir).select("doc_id")
      val n = docs.count()
      require(n > 0, "ensureCommunityLabels: empty corpus")
      val labels = graft.operators.Dedup.connectedComponents(hostEdges(docs, n), "a", "b")
      graft.sources.Warehouse.writeBucketed(labels, Seq("v"), table, 8)
    }
    table
  }

  /** The directed affine link edges (the [[linkRankFrom]] derivation),
    * self-loops dropped, dedup'd. */
  private def affineEdges(docs: DataFrame, n: Long): DataFrame = {
    val t12 = docs.select(col("doc_id").as("src"),
      explode(array((col("doc_id") * 7 + 3) % n,
                    (col("doc_id") * 13 + 5) % n)).as("dst"))
    val t3 = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("src"), ((col("doc_id") * 31 + 11) % n).as("dst"))
    t12.union(t3).filter(col("src") =!= col("dst")).distinct()
  }

  /** The DENSE-CLASS graph the density family (k-core, triangles) runs
    * over: the affine link edges PLUS the planted circulant ring on the
    * `doc_id ≡ 7 (mod 10)` class (offsets +10j, j = 1..5 — the link-farm
    * shape those operators exist to isolate; the organic affine graph is
    * near-regular with no dense substructure: no 5-core, and — verified —
    * zero triangles). */
  private def denseClassEdges(docs: DataFrame, n: Long): DataFrame = {
    val planted = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("src"),
        explode(array((1 to 5).map(j => (col("doc_id") + lit(10L * j)) % n): _*)).as("dst"))
      .filter(col("src") =!= col("dst"))
    affineEdges(docs, n).union(planted).distinct()
  }

  /** The SAME-HOST undirected edge set (a < b, distinct) the community
    * family groups over. */
  private def hostEdges(docs: DataFrame, n: Long): DataFrame =
    affineEdges(docs, n)
      .filter(col("src") % 5 === col("dst") % 5)
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** [[linkCommunities]] over an explicit `(doc_id)` frame. */
  def linkCommunitiesFrom(docs: DataFrame): DataFrame = {
    val n = docs.count()
    require(n > 0, "linkCommunitiesFrom: empty corpus")
    val labels = graft.operators.Dedup.connectedComponents(hostEdges(docs, n), "a", "b")
    docs.join(labels, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
              coalesce(col("l"), col("doc_id")).as("community_id"))
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy("community_id")))
      .orderBy("doc_id")
  }

  /** COMMUNITY ROLLUP — the per-FARM table the curation pipeline actually
    * reads off [[linkCommunities]]'s per-document labels: for every
    * multi-member community, its size, internal edge count, LINK DENSITY
    * (internal edges / possible pairs — 1.0 is a clique, the strongest
    * farm signal) and TOTAL IN-LINKS over the full link graph (how much
    * the farm is cited from outside its host — the raw citation mass
    * PageRank redistributes). Size × density ranks the down-weighting
    * candidates; singleton communities are excluded (they ARE the normal
    * web and would make the rollup corpus-sized for zero information).
    *
    * 100 TB: labels from the shared CC; both aggregates partial-agg over
    * (label) keys; every internal edge is within one community BY
    * CONSTRUCTION (components are edge-closed), so the edge attribution
    * is a single equi-join on the `a` endpoint — no pair re-derivation.
    * Output is bounded by the farm count, not the corpus. */
  def communityRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val n = docs.count()
    require(n > 0, "communityRollup: empty corpus")
    // rides the persisted label table — the rollup pays two equi-joins,
    // never a second CC run
    rollupOver(linkCommunities(spark, sfDir), docs, n)
  }

  /** [[communityRollup]] over an explicit `(doc_id)` frame (direct CC, no
    * persisted store — the spec-facing form). */
  def communityRollupFrom(docs: DataFrame): DataFrame = {
    val n = docs.count()
    require(n > 0, "communityRollupFrom: empty corpus")
    rollupOver(linkCommunitiesFrom(docs), docs, n)
  }

  /** The rollup aggregates over an already-labeled community table. */
  private def rollupOver(labeled: DataFrame, docs: DataFrame, n: Long): DataFrame = {
    val members = labeled.filter(col("community_size") >= 2)
    val inDeg = affineEdges(docs, n)
      .groupBy("dst").agg(count(lit(1)).as("in_links"))
    val perDoc = members
      .join(inDeg, col("doc_id") === col("dst"), "left")
      .groupBy("community_id")
      .agg(count(lit(1)).as("n_members"),
           sum(coalesce(col("in_links"), lit(0L))).as("total_in_links"))
    val internal = hostEdges(docs, n)
      .join(members.select(col("doc_id").as("a"), col("community_id")), Seq("a"))
      .groupBy("community_id").agg(count(lit(1)).as("n_internal_edges"))
    perDoc.join(internal, Seq("community_id"), "left")
      .select(col("community_id"), col("n_members"),
        coalesce(col("n_internal_edges"), lit(0L)).as("n_internal_edges"),
        duckRound(coalesce(col("n_internal_edges"), lit(0L)).cast("double") /
          (col("n_members") * (col("n_members") - 1) / 2).cast("double"), 4)
          .as("link_density"),
        col("total_in_links"))
      .orderBy("community_id")
  }

  /** HITS hubs & authorities (Kleinberg, JACM'99) — the second centrality
    * the link graph supports next to [[linkRank]]'s PageRank: an AUTHORITY
    * is a page good pages point TO (content worth keeping), a HUB is a
    * page that points to good pages (directories/link farms — a high-hub
    * low-authority score is itself a curation down-weighting signal).
    * Mutual recursion `a(v) = Σ_{u→v} h(u)`, `h(u) = Σ_{u→v} a(v)`, run a
    * fixed `iters` rounds.
    *
    * Float discipline (the [[linkRank]] fixed-point idea, further
    * simplified): the classical per-round normalization exists only to
    * stop value growth — with a FIXED round count and degree-bounded
    * growth (in/out-degree ≤ 3 by construction → ≤ 3×/round from the 2²⁰
    * seed) raw long sums never overflow, and rankings are scale-invariant,
    * so the scores stay exact integers, partitioning-independent, and
    * replayable as chained CTEs.
    *
    * 100 TB: each half-round is one Pregel-shaped equi-join of the edge
    * list against the current scores + one partial-agg'd sum on the other
    * endpoint; co-partitioning edges by the join key across rounds reuses
    * the exchange; plan depth is bounded by the fixed round count. */
  def hitsScores(spark: SparkSession, sfDir: String, iters: Int = 2): DataFrame =
    hitsScoresFrom(Tables.documents(spark, sfDir).select("doc_id"), iters)

  /** [[hitsScores]] over an explicit `(doc_id)` frame: the [[linkRankFrom]]
    * affine edge derivation. */
  def hitsScoresFrom(docs: DataFrame, iters: Int = 2): DataFrame = {
    val n = docs.count()
    require(n > 0, "hitsScoresFrom: empty corpus")
    val edges = affineEdges(docs, n)
    val seed = 1L << 20
    var hub = docs.select(col("doc_id"), lit(seed).as("h"))
    var auth = docs.select(col("doc_id"), lit(seed).as("a"))
    for (_ <- 1 to iters) {
      val inflow = edges.join(hub, col("src") === col("doc_id"))
        .groupBy("dst").agg(sum("h").as("m"))
      auth = docs.join(inflow, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"), coalesce(col("m"), lit(0L)).as("a"))
      val outflow = edges.join(auth, col("dst") === col("doc_id"))
        .groupBy("src").agg(sum("a").as("m"))
      hub = docs.join(outflow, col("doc_id") === col("src"), "left")
        .select(col("doc_id"), coalesce(col("m"), lit(0L)).as("h"))
    }
    auth.join(hub, "doc_id")
      .select(col("doc_id"), col("a").as("authority"), col("h").as("hub"))
      .orderBy("doc_id")
  }

  /** K-CORE decomposition (Seidman 1983), bounded peeling — the graph
    * DENSITY complement of the family: [[linkRank]] scores importance,
    * [[linkCommunitiesFrom]] groups connectivity, this one isolates the
    * maximal subgraph where EVERY member keeps ≥ k neighbors — the
    * "dense-core" signal link-spam farms and mutual-citation rings light
    * up, and the standard graph-sparsification prefilter (peel the ≤1-core
    * before any pair-expensive analysis).
    *
    * Semantics are the R-ROUND PEEL, declared as such: each round removes
    * every vertex whose degree among survivors is < k, simultaneously
    * (the parallel peel, not the sequential min-degree order — round
    * counts are therefore deterministic). R rounds upper-bound the true
    * k-core and EQUAL it once a round removes nothing; KernelProperties
    * proves convergence on the fixture graphs, and `removed_round` makes
    * non-convergence visible (a round-R removal means "check R"). Fixed R
    * is what makes the op oracle-able (unrolled SQL, the [[hitsScoresFrom]]
    * discipline) and 100 TB-plannable: R barrier-free aggregate+anti-join
    * rounds, each one shuffle on vertex id, no driver-side loop state —
    * vs the unbounded-iteration form whose round count is data-dependent.
    *
    * Output per document: `in_core` 0/1, `removed_round` (1-based peel
    * round, 0 = survived), `core_deg` (degree within the surviving core,
    * 0 for peeled vertices). Undirected degree over the symmetrized
    * edge set: the affine maps PLUS a planted circulant ring (every
    * `doc_id ≡ 7 (mod 10)` links the next five in-class ids) — the
    * mutual-link farm shape this operator exists to isolate; without it
    * the near-regular affine graph has no k-core at ANY k (min degree 3,
    * and the 4-core cascades to empty — measured, not guessed), so the
    * plant is what makes the fixture discriminating: at k = 5 the peel
    * strips the organic graph in ≤ 4 cascading rounds and the ring alone
    * survives. */
  def kcore(spark: SparkSession, sfDir: String, k: Int = 5, rounds: Int = 6): DataFrame =
    kcoreFrom(Tables.documents(spark, sfDir).select("doc_id"), k, rounds)

  /** [[kcore]] over an explicit `(doc_id)` frame. */
  def kcoreFrom(docs: DataFrame, k: Int = 5, rounds: Int = 6): DataFrame = {
    val n = docs.count()
    require(n > 0, "kcoreFrom: empty corpus")
    // Per-round lineage truncation (the connectedComponents discipline):
    // each round references `alive` THREE times (two degree semi-joins +
    // the anti-join), so an untruncated plan grows 3^R-fold — the same
    // blowup the oracle's MATERIALIZED CTEs prevent on the DuckDB side.
    val directed = denseClassEdges(docs, n)
    val und = directed.select(col("src").as("ka"), col("dst").as("kb"))
      .union(directed.select(col("dst").as("ka"), col("src").as("kb")))
      .distinct()
      .cutLineage()
    var alive = docs.select(col("doc_id").as("v"))
    def degAmong(frame: DataFrame): DataFrame = und
      .join(frame.select(col("v").as("va")), col("ka") === col("va"))
      .join(frame.select(col("v").as("vb")), col("kb") === col("vb"))
      .groupBy("ka").agg(count(lit(1)).as("d"))
    var removed: DataFrame = null
    var fixpoint = false
    for (r <- 1 to rounds if !fixpoint) {
      // ONE materialization per round (r15 — guide §2.4): score every
      // alive vertex's in-core degree once, then BOTH the peeled set and
      // the survivor set are filters over that materialized frame — the
      // old form paid a second checkpoint for an anti-join that computes
      // exactly `coalesce(d, 0) ≥ k`. ONE action per round (r16, guide
      // §1.2): the cut is lazy and the peel-fixpoint probe is an
      // aggregate over it, so materialization and the emptiness check
      // share a single job instead of a checkpoint job + an isEmpty job.
      val scored = alive.join(degAmong(alive), col("v") === col("ka"), "left")
        .select(col("v"), coalesce(col("d"), lit(0L)).as("d"))
        .cutLineageLazily()
      val nPeeled = scored.agg(count(when(col("d") < k, lit(1)))).head().getLong(0)
      // EARLY EXIT at the peel fixpoint (guide §1.2, don't compute what
      // you throw away): a round that removes nothing leaves `alive`
      // unchanged, so every later round is a pure no-op pass; empty
      // rounds contribute no output rows, so the result is untouched.
      if (nPeeled == 0L) fixpoint = true
      else {
        val rem = scored.filter(col("d") < k)
          .select(col("v"), lit(r.toLong).as("r"))
        removed = if (removed == null) rem else removed.union(rem)
        alive = scored.filter(col("d") >= k).select("v")
      }
    }
    if (removed == null)
      removed = docs.sparkSession.emptyDataFrame
        .select(lit(0L).as("v"), lit(0L).as("r")).limit(0)
    docs
      .join(removed.select(col("v").as("remv"), col("r")),
        col("doc_id") === col("remv"), "left")
      .join(degAmong(alive).select(col("ka").as("cv"), col("d").as("cd")),
        col("doc_id") === col("cv"), "left")
      .select(col("doc_id"),
        col("remv").isNull.cast("int").cast("bigint").as("in_core"),
        coalesce(col("r"), lit(0L)).as("removed_round"),
        coalesce(col("cd"), lit(0L)).as("core_deg"))
      .orderBy("doc_id")
  }

  /** TRIANGLE COUNT with degree-ordered orientation (Schank–Wagner 2005;
    * the Cohen MapReduce formulation) — the clustering-density signal
    * next to [[kcoreFrom]]'s coreness: triangles are what separate a
    * mutual-promotion clique from an innocent high-degree hub (a star has
    * huge degree and ZERO triangles), the standard local-clustering
    * feature for spam/community detection. Runs over the SAME dense-class
    * graph as k-core ([[denseClassEdges]]) — the organic affine graph is
    * verified triangle-free, so exactly the planted ring class and its
    * boundary light up.
    *
    * 100 TB: the naive wedge join explodes on hubs (Σ deg² — a
    * celebrity node with 10⁷ followers generates 10¹⁴ wedges). The
    * standard fix, declared here as the semantics: orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher
    * one — an acyclic orientation in which every vertex's OUT-degree is
    * O(√m) regardless of its in-degree — generate wedges only from the
    * two out-edges of the (unique) lowest-rank vertex of each triangle,
    * and close them with one equi-join probe on the oriented edge set.
    * Each triangle is found exactly once (no ÷3, no ÷6 correction); all
    * three joins are vertex-keyed shuffles; per-node counts partial-agg.
    * The DuckDB oracle runs the NAIVE id-canonical triple self-join, so
    * the orientation rewrite is differentially proven to count the same
    * triangles (the interval_join / waiting_suppliers discipline). */
  def trianglesPerNode(spark: SparkSession, sfDir: String): DataFrame =
    trianglesPerNodeFrom(Tables.documents(spark, sfDir).select("doc_id"))

  /** [[trianglesPerNode]] over an explicit `(doc_id)` frame. */
  def trianglesPerNodeFrom(docs: DataFrame): DataFrame = {
    val n = docs.count()
    require(n > 0, "trianglesPerNodeFrom: empty corpus")
    // und feeds three references (both degree-union branches + the
    // degree-attach join) and oriented three (both wedge sides + the
    // closing join) — truncate each once or the distinct edge derivation
    // re-runs per reference (r16, guide §1.2)
    val und = denseClassEdges(docs, n)
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .cutLineageLazily()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // oriented edge (src → dst) with the dst endpoint's rank carried for
    // wedge ordering
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .cutLineageLazily()
    val e1 = oriented.as("e1"); val e2 = oriented.as("e2")
    val wedges = e1.join(e2,
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
           (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    // the closing edge always runs low-rank → high-rank = y → z
    val tris = wedges.join(oriented.select(col("src").as("y"), col("dst").as("z")),
                           Seq("y", "z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** CO-CITATION similarity (Small 1973) — the link-structure complement
    * of the content-similarity family: two documents are related when the
    * SAME documents cite both, the signal behind "related pages" and the
    * citation-graph dedup of mirror hubs (near-identical link targets
    * betray mirrored navigation even when every page body is distinct).
    * Emits the top-`k` co-cited pairs with their co-citation count, both
    * in-degrees, and the in-link Jaccard |citers(a) ∩ citers(b)| /
    * |citers(a) ∪ citers(b)| — the normalized strength.
    *
    * 100 TB: pair generation self-joins the edge list on the CITING side,
    * so fan-out is bounded by out-degree — a crawl-policy constant (here
    * ≤3 by construction) — never by in-degree, the hub-skewed direction
    * that makes the naive "join on shared in-link" explode on popular
    * pages. Pairs partial-aggregate on (a, b); in-degrees join AFTER the
    * collapse (|pairs| rows, not |wedges|); top-k is
    * TakeOrderedAndProject — map-side heads, no global sort. */
  def cocitation(spark: SparkSession, sfDir: String, k: Int = 50): DataFrame =
    cocitationFrom(Tables.documents(spark, sfDir).select("doc_id"), k)

  /** [[cocitation]] over an explicit `(doc_id)` frame: the [[linkRankFrom]]
    * affine edge derivation. */
  def cocitationFrom(docs: DataFrame, k: Int = 50): DataFrame = {
    val n = docs.count()
    require(n > 0, "cocitationFrom: empty corpus")
    // edges feeds three references (in-degree + both pair-join sides) —
    // truncate once (r16, guide §1.2)
    val edges = affineEdges(docs, n).cutLineageLazily()
    val inDeg = edges.groupBy("dst").agg(count(lit(1)).as("ind"))
    val pairs = edges.as("x").join(edges.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.dst").as("a"), col("y.dst").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cocite"))
    pairs
      .join(inDeg.select(col("dst").as("a"), col("ind").as("in_a")), Seq("a"))
      .join(inDeg.select(col("dst").as("b"), col("ind").as("in_b")), Seq("b"))
      .select(col("a"), col("b"), col("cocite"), col("in_a"), col("in_b"),
        (duckRound(col("cocite").cast("double") /
          (col("in_a") + col("in_b") - col("cocite")).cast("double"), 4)
          + lit(0.0)).as("jaccard"))
      .orderBy(col("cocite").desc, col("a").asc, col("b").asc)
      .limit(k)
  }

  /** Declared `seed_hops` parameters, shared with the SQL oracle (the
    * compactionPlanSql discipline — one definition site, so tuning a
    * default re-derives the oracle instead of desynchronizing the gate).
    * Seeds = `doc_id % SeedHopsSeedMod == 0` (~1% of the corpus, id 0
    * always a seed so the op never degenerates to all-unreached), and the
    * propagation horizon is [[SeedHopsMaxHops]] hops. */
  val SeedHopsSeedMod = 97L
  val SeedHopsMaxHops = 4

  /** CURATED-SEED HOP DISTANCE (the TrustRank propagation skeleton —
    * Gyöngyi/Garcia-Molina/Pedersen, VLDB 2004) — the graph family's
    * REACHABILITY member, the shape none of the others cover:
    * [[linkRank]] scores global importance, [[kcoreFrom]] isolates
    * density, [[linkCommunitiesFrom]] labels undirected connectivity —
    * none answers "how many clicks from a CURATED page is this document?"
    * — the crawl-curation signal quality pipelines weight by (content
    * linked from vetted seeds inherits trust that decays with distance;
    * pages unreachable within the horizon are the spam-farm suspects).
    * Output per document: `hops` = min directed-hop distance from any
    * seed (0 = seed itself), or −1 beyond the [[SeedHopsMaxHops]] horizon.
    *
    * The semantics are DECLARED as the frontier rewrite: round r joins
    * only the round-(r−1) FRONTIER against the edge list (vertex-keyed
    * equi-join) and anti-joins the settled set, so every vertex is
    * expanded AT MOST ONCE across all rounds — total join work is bounded
    * by one pass over the edge set regardless of horizon, and per-round
    * state is vertex-mass, never walk-mass. The DuckDB oracle instead
    * enumerates ALL bounded walks through a recursive CTE and takes
    * min(hops) — the textbook form whose intermediate blows up with
    * density — so the differential proves the frontier rewrite computes
    * the same distances (the interval_join / waiting_suppliers
    * discipline for declared rewrites). BFS min-distance is confluent:
    * frontier order and partitioning cannot change any label
    * (integer-exact, no floats anywhere).
    *
    * 100 TB: edges materialize once (cut) and every round re-reads that
    * one artifact; lineage is cut per round via [[Lineage]] (the
    * connectedComponents discipline — an uncut plan would nest R joins
    * deep); the per-round `isEmpty` early-exit reads one boolean
    * action on the already-checkpointed frontier, not a collect of it;
    * fan-out per round is bounded by out-degree (a crawl-policy constant,
    * ≤3 here by construction), never by in-degree. */
  def seedHops(spark: SparkSession, sfDir: String,
               maxHops: Int = SeedHopsMaxHops): DataFrame =
    seedHopsFrom(Tables.documents(spark, sfDir).select("doc_id"), maxHops)

  /** [[seedHops]] over an explicit `(doc_id)` frame: the [[linkRankFrom]]
    * affine edge derivation. */
  def seedHopsFrom(docs: DataFrame, maxHops: Int = SeedHopsMaxHops): DataFrame = {
    val n = docs.count()
    require(n > 0, "seedHopsFrom: empty corpus")
    require(maxHops >= 0, s"seedHopsFrom: negative horizon $maxHops")
    val edges = affineEdges(docs, n).cutLineage()
    // Lazy cut + count (r16, guide §1.2): each round runs exactly
    // ONE action — the count that materializes the round's checkpoint IS
    // the exhaustion probe — where the r15 form paid a checkpoint job, an
    // isEmpty job, AND a settled-set re-materialization per round. The
    // settled set needs no checkpoint of its own: it is a union of
    // already-materialized round frontiers (≤ maxHops of them, so the
    // plan stays constant-depth), read from their cached blocks.
    var dist = docs.filter(col("doc_id") % SeedHopsSeedMod === 0)
      .select(col("doc_id").as("v"), lit(0L).as("hops"))
      .cutLineageLazily()
    var frontier = dist
    var r = 1
    var exhausted = frontier.count() == 0L
    while (r <= maxHops && !exhausted) {
      // expand the frontier one hop, keep only first-time vertices: the
      // distinct collapses multi-inlink duplicates BEFORE the anti-join
      // so the settled-set probe sees each candidate once
      val next = frontier.join(edges, col("v") === col("src"))
        .select(col("dst").as("v")).distinct()
        .join(dist, Seq("v"), "left_anti")
        .select(col("v"), lit(r.toLong).as("hops"))
        .cutLineageLazily()
      exhausted = next.count() == 0L
      // fold the round in only when it found anything: unioning an empty
      // frontier in would be a wasted plan node on the terminal round
      if (!exhausted) {
        dist = dist.unionByName(next)
        frontier = next
      }
      r += 1
    }
    docs.join(dist, col("doc_id") === col("v"), "left")
      .select(col("doc_id"), coalesce(col("hops"), lit(-1L)).as("hops"))
      .orderBy("doc_id")
  }

  /** Edge-weight modulus for [[seedCostsFrom]] — weight of edge (src, dst)
    * is `(src + dst) % SeedCostWeightMod + 1` ∈ [1, 7]: deterministic,
    * integer, strictly positive (zero-weight edges would make the bounded
    * horizon meaningless), and varied enough that cheapest ≠ shortest. ONE
    * definition site interpolated into the SQL oracle. */
  private[graft] val SeedCostWeightMod = 7L

  /** WEIGHTED curated-seed distance — [[seedHopsFrom]]'s cost-aware form:
    * crawl edges carry a traversal cost (link quality, page depth, nofollow
    * penalties) and the trust signal is the CHEAPEST path from a vetted
    * seed within the same bounded horizon, not the fewest-click one — a
    * 3-hop chain of clean links outranks a 1-hop spam redirect. Output per
    * document: `cost` = min total edge weight over directed walks of ≤
    * [[SeedHopsMaxHops]] hops from any seed (0 = seed), −1 if unreachable
    * within the horizon.
    *
    * Algorithm — bounded Bellman–Ford with an IMPROVED-ONLY frontier: round
    * r relaxes edges out of exactly the vertices whose label improved in
    * round r−1 (sound: a min-cost ≤r-hop walk's prefix is itself minimal at
    * ≤r−1 hops, so the terminal relaxation always fires from an improved
    * vertex), then folds candidate labels into the settled map with one
    * vertex-keyed min. Unlike BFS, a vertex can re-enter the frontier when
    * a cheaper longer path arrives — the settled set is a running min, not
    * an anti-join — but per-round work stays frontier × out-degree and
    * total rounds are capped by the horizon. Integer min is confluent:
    * partitioning and relaxation order cannot change any label.
    *
    * The DuckDB oracle enumerates ALL bounded walks with their costs
    * through the recursive CTE and takes min(cost) — the textbook form —
    * so the frontier relaxation rewrite is differentially proven
    * cost-exact (the seed_hops discipline); the spec additionally replays
    * a scalar hop-indexed DP (structurally different) and proves cheapest
    * genuinely diverges from shortest on the fixture.
    *
    * 100 TB: same physics as [[seedHopsFrom]] — edges checkpoint once,
    * every round is one vertex-keyed equi-join + partial-agg'd min,
    * lineage truncated per round, horizon a small constant. */
  def seedCosts(spark: SparkSession, sfDir: String,
                maxHops: Int = SeedHopsMaxHops): DataFrame =
    seedCostsFrom(Tables.documents(spark, sfDir).select("doc_id"), maxHops)

  /** [[seedCosts]] over an explicit `(doc_id)` frame. */
  def seedCostsFrom(docs: DataFrame, maxHops: Int = SeedHopsMaxHops): DataFrame = {
    val n = docs.count()
    require(n > 0, "seedCostsFrom: empty corpus")
    require(maxHops >= 0, s"seedCostsFrom: negative horizon $maxHops")
    val edges = affineEdges(docs, n)
      .withColumn("w", (col("src") + col("dst")) % SeedCostWeightMod + 1L)
      .cutLineage()
    // Lazy cut + count (r16, guide §1.2): ONE action per round —
    // the count materializing the improved set doubles as the exhaustion
    // probe — where the r15 form paid a checkpoint job, an isEmpty job,
    // and an eager settled-map re-aggregation per round. The settled map
    // keeps its per-round min-collapse (it must stay vertex-mass) but
    // is cut LAZILY: it materializes inside the next round's count
    // (or the final label join), never as its own barrier.
    var best = docs.filter(col("doc_id") % SeedHopsSeedMod === 0)
      .select(col("doc_id").as("v"), lit(0L).as("cost"))
      .cutLineageLazily()
    var frontier = best
    var r = 1
    var exhausted = frontier.count() == 0L
    while (r <= maxHops && !exhausted) {
      // relax one hop out of the improved frontier; collapse per-round
      // duplicates to one candidate per vertex before probing the map
      val cand = frontier.join(edges, col("v") === col("src"))
        .select(col("dst").as("v"), (col("cost") + col("w")).as("cost"))
        .groupBy("v").agg(min("cost").as("cost"))
      val improved = cand
        .join(best.toDF("v", "old"), Seq("v"), "left")
        .filter(col("old").isNull || col("cost") < col("old"))
        .select(col("v"), col("cost"))
        .cutLineageLazily()
      exhausted = improved.count() == 0L
      if (!exhausted) {
        best = best.unionByName(improved)
          .groupBy("v").agg(min("cost").as("cost"))
          .cutLineageLazily()
        frontier = improved
      }
      r += 1
    }
    docs.join(best, col("doc_id") === col("v"), "left")
      .select(col("doc_id"), coalesce(col("cost"), lit(-1L)).as("cost"))
      .orderBy("doc_id")
  }

  /** Safety cap on [[linkCycles]]'s fixpoint rounds — a loud error, never
    * an approximate answer: hash-min converges in (longest shortest path to
    * each vertex's extremal reachable id) rounds, measured ≲15 on the
    * fixture graph class at every driver SF; 48 is deep headroom, and
    * hitting it means the graph class changed — surface that, don't serve
    * half-propagated labels as SCCs. */
  private[graft] val SccMaxRounds = 48

  /** DIRECTED-CYCLE COMMUNITY DETECTION (strongly connected components) —
    * the DIRECTED complement of [[linkCommunitiesFrom]]: a mutual-citation
    * spam ring is a directed CYCLE, invisible to undirected CC (which
    * merges the ring with everything it touches) and to [[kcoreFrom]]
    * (density, not direction). Every document is labeled with its SCC and
    * the SCC's size; in a citation-shaped graph (edges cite EARLIER
    * documents, so the organic bulk is acyclic) every non-singleton SCC is
    * a citation ring — the thing that cannot exist without coordination.
    *
    * Graph (the [[denseClassEdges]] planted-structure convention): the
    * affine link edges ORIENTED as citations (src > dst — a document cites
    * earlier ones; orientation makes the organic bulk a DAG, the
    * truth-in-fixture analogue of real citation graphs) with the
    * `doc_id ≡ 7 (mod 10)` class held out, plus planted CLOSED citation
    * rings over that class: members in rank order, groups of
    * [[SccRingSize]], each citing the next in its group (wrapping) — the
    * coordinated-ring shape, several per corpus, the trailing partial
    * group included (a 1-member group self-loop is dropped: a singleton
    * is not a ring).
    *
    * Algorithm — forward-backward min-label: F(v) = min id that can REACH
    * v, B(v) = min id REACHABLE FROM v (both including v), via hash-min
    * propagation to fixpoint; scc_id(v) = F(v) when F(v) = B(v), else v.
    * On this graph class the pair criterion is EXACT, not heuristic:
    * F(v) = B(v) = m means m reaches v and v reaches m, so v ∈ SCC(m)
    * (always sound); conversely a ring is CLOSED (no bulk↔ring edges by
    * construction), so a ring member's ancestor and descendant sets are
    * both exactly its ring and F = B = ring-min for every member; and the
    * bulk is a DAG, where F(v) = B(v) forces F = B = v (a smaller common
    * value would be a cycle) — singletons, correctly. The general-graph
    * form needs FW-BW pivot recursion; this op DECLARES the
    * acyclic-bulk + closed-ring class (the citation-graph shape) as its
    * domain, and the spec replays scalar Tarjan — a structurally different
    * algorithm with no such assumption — over the same edges to prove the
    * labels are the true SCCs.
    *
    * 100 TB: each round is two Pregel-shaped equi-joins (edge list against
    * labels, one per direction) + two partial-agg'd mins + one label
    * update, lineage cut per round ([[Lineage]]); convergence
    * is detected by the strictly-decreasing label-sum invariant (labels
    * only ever decrease, so one cheap scalar aggregate per round replaces
    * a diff join); rounds track the graph's reachability radius (≲ log n
    * on citation-shaped DAGs + the planted ring size), capped loudly at
    * [[SccMaxRounds]]. The DuckDB oracle takes min over the full
    * recursive-CTE reachability closure instead — the textbook form whose
    * intermediate is |reach| pairs — so the differential proves the
    * round-bounded propagation computes the true extremal labels (the
    * seed_hops discipline). */
  private[graft] val SccRingSize = 6L

  def linkCycles(spark: SparkSession, sfDir: String): DataFrame =
    linkCyclesFrom(Tables.documents(spark, sfDir).select("doc_id"))

  /** The citation-oriented edge set [[linkCyclesFrom]] runs over — bulk
    * DAG (affine edges, src > dst, ring class excluded) + planted closed
    * rings. Exposed for the spec's scalar Tarjan replay. */
  private[graft] def citationEdges(docs: DataFrame, n: Long): DataFrame = {
    val bulk = affineEdges(docs, n)
      .filter(col("src") > col("dst") &&
              col("src") % 10 =!= 7 && col("dst") % 10 =!= 7)
    val q = if (n >= 8) (n - 8) / 10 + 1 else 0L
    val ring = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("src"),
              expr(s"(doc_id - 7) div 10").as("qr"))
      .select(col("src"), expr(s"qr div $SccRingSize").as("g"),
              expr(s"qr % $SccRingSize").as("p"))
      .select(col("src"),
        (expr(s"(g * $SccRingSize + (p + 1) % least($SccRingSize, $q - g * $SccRingSize))") * 10 + 7)
          .as("dst"))
      .filter(col("src") =!= col("dst"))
    bulk.unionByName(ring).distinct()
  }

  /** [[linkCycles]] over an explicit `(doc_id)` frame. */
  def linkCyclesFrom(docs: DataFrame): DataFrame = {
    val n = docs.count()
    require(n > 0, "linkCyclesFrom: empty corpus")
    val edges = citationEdges(docs, n).cutLineage()
    // labels (v, f, b): f = min known ancestor, b = min known descendant.
    // LAZY cut + fused probe (r16, guide §1.2): the label frame's
    // materialization happens inside the labSum action, so each round is
    // ONE job — the r15 form paid a checkpoint job plus the labSum job.
    var lab = docs.select(col("doc_id").as("v"),
        col("doc_id").as("f"), col("doc_id").as("b"))
      .cutLineageLazily()
    // labels only DECREASE, so Σ(f+b) strictly decreases iff any label
    // moved — one scalar action per round instead of a diff join
    def labSum(l: DataFrame): Long =
      l.agg(sum(col("f") + col("b"))).head().getLong(0)
    var prevSum = labSum(lab)
    var converged = false
    var r = 0
    // ONE message join per round instead of one per direction (r15 —
    // guide §2.4): an edge (src, dst) sends src's f to dst and dst's b to
    // src, so tagging each directed message with its kind lets a single
    // edges⋈labels join + a single conditional-min aggregate replace the
    // two per-direction joins and aggregates — half the per-round
    // exchanges, same mins (min over the f-tagged messages IS the old
    // fIn, ditto bIn; an absent group stays NULL exactly like the old
    // left join's miss).
    val msgs = edges.select(col("src").as("s"), col("dst").as("rcv"),
        lit("f").as("kind"))
      .unionByName(edges.select(col("dst").as("s"), col("src").as("rcv"),
        lit("b").as("kind")))
      .cutLineage()
    while (!converged && r < SccMaxRounds) {
      val in = msgs.join(lab, col("s") === col("v"))
        .groupBy("rcv")
        .agg(min(when(col("kind") === "f", col("f"))).as("fc"),
             min(when(col("kind") === "b", col("b"))).as("bc"))
      // lab appears twice in this round's plan (message join + label
      // update), but both references sit in the SAME job and the prior
      // round's labSum already materialized it — cache hits, no race
      lab = lab
        .join(in, col("v") === col("rcv"), "left")
        .select(col("v"),
          least(col("f"), coalesce(col("fc"), col("f"))).as("f"),
          least(col("b"), coalesce(col("bc"), col("b"))).as("b"))
        .cutLineageLazily()
      val s = labSum(lab)
      converged = s == prevSum
      prevSum = s
      r += 1
    }
    require(converged,
      s"linkCyclesFrom: hash-min not converged after $SccMaxRounds rounds — " +
        "the graph's reachability radius exceeds the declared class; refusing " +
        "to label half-propagated SCCs")
    lab
      .select(col("v").as("doc_id"),
        when(col("f") === col("b"), col("f")).otherwise(col("v")).as("scc_id"))
      .withColumn("scc_size",
        count(lit(1)).over(Window.partitionBy("scc_id")))
      .orderBy("doc_id")
  }

  /** HYBRID retrieval — BM25 lexical candidates and hashed-embedding
    * semantic candidates fused by Reciprocal Rank Fusion
    * (Cormack/Clarke/Büttcher, SIGIR'09: score = Σ 1/(rrfK + rank)), the
    * standard modern RAG retrieval shape: lexical recall catches exact
    * terms, the vector side catches paraphrase, and RRF needs no score
    * calibration between the two scales — ranks only, which is what makes
    * the fusion reproducible across engines (the oracle replays ranks,
    * not incomparable score spaces).
    *
    * The query rides both existing index paths: [[bm25Search]] over the
    * persisted corpus statistics, and the deterministic hashing-trick
    * embedding of the SAME query terms as a pseudo-document against the
    * corpus embeddings. Both sides are top-kEach
    * (TakeOrderedAndProject — map-side top-k, no global sort), so the
    * fusion joins two kEach-row lists: driver-trivial at any corpus size,
    * and the expensive parts are exactly the two already-proven retrieval
    * plans. */
  def hybridSearch(spark: SparkSession, sfDir: String, k: Int = 10,
                   kEach: Int = 20, rrfK: Int = 60): DataFrame = {
    val lex = bm25Search(spark, sfDir, kEach)
      .select(col("doc_id"), col("rnk").as("rnk_lex"))
    // Cosine over the RAW bigint bucket counts widened to double — never
    // through float: the oracle ranks over DOUBLE[], and a float detour is
    // exact only while bucket sums stay under 2^24 (a silent precondition
    // on corpus size this query must not carry). The double HOF fold is
    // bit-identical to the native float kernel's arithmetic order, just
    // without the narrowing.
    val qEmb = call_function("graft_hash_embed",
      lit(QueryTerms.mkString(" ")), lit(64))
    val sem = graft.operators.TextAnalysis.embedDocuments(spark, sfDir)
      .select(col("doc_id"),
              graft.functions.VectorFunctions.cosineHof(col("emb"), qEmb).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc)
      .limit(kEach)
      .withColumn("rnk_sem", row_number()
        .over(Window.orderBy(col("cos").desc, col("doc_id").asc)).cast("bigint"))
      .select("doc_id", "rnk_sem")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(rrfK).cast("double") + col("rnk_lex").cast("double")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK).cast("double") + col("rnk_sem").cast("double")), lit(0.0)))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("bigint"))
      .select(col("rnk"), col("doc_id"), duckRound(col("rrf"), 6).as("rrf"),
              col("rnk_lex"), col("rnk_sem"))
      .orderBy("rnk")
  }
}
