package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpecBase {

  test("exact ngram-jaccard and minhash-LSH agree on the planted near-dups") {
    val exact = Dedup.ngramJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(spark, sf0001)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH output is always a subset of exact (verification step); at
    // b=32/r=4 the miss probability at j≥0.8 is ~5e-8 per pair and the
    // pipeline is deterministic (fixed seed), so the outputs are EQUAL —
    // which is why dedup_minhash shares dedup_ngram's DuckDB oracle.
    assert(exact.nonEmpty)
    assert(lsh === exact)
  }

  test("decontamination pairs equal brute-force containment over the corpus") {
    // Containment is ASYMMETRIC (|A∩B| / |A|, eval side only) — the prefix
    // filter must stay lossless under that bound, so compare against the
    // all-pairs truth computed in plain Scala.
    val t = 0.6
    val sets = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Dedup.shinglesScala(r.getString(1), 3).toSet)
      .toMap
    val expected = (for {
      (a, sa) <- sets if a % 10 == 0 && sa.nonEmpty
      (b, sb) <- sets if b % 10 != 0
      c = sa.intersect(sb).size.toDouble / sa.size
      if c >= t
    } yield (a, b, c)).toSet
    val got = Dedup.decontaminationPairs(spark, sf0001, threshold = t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty) // planted cross-split near-dups guarantee hits
  }

  test("index-routed decontamination equals the exact containment join") {
    // The scale path (candidates from the persisted 64×2 containment band
    // table) must return exactly what the exact prefix-filtered join
    // returns — the shared-oracle precondition. On this corpus every
    // qualifying pair's Jaccard is ≥0.88, where the wide banding's miss
    // probability is ~1e-42 and the pipeline is deterministic.
    val exact = Dedup.decontaminationPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val indexed = Dedup.decontaminationIndexed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(indexed === exact)
  }

  test("containment banding catches a low-Jaccard containment pair (the asymmetric case)") {
    // The case the wide (64×2) banding exists for: a short eval prompt
    // buried in a longer train document — containment 1.0 but Jaccard only
    // ≈|A|/|B| ≈ 0.33 here, far below the dedup threshold. The fixed seed
    // makes the outcome deterministic; at J = 0.33 the banding's miss
    // probability is ~5e-4, so this seed (verified) collides.
    import spark.implicits._
    import graft.operators.IncrementalDedup
    import graft.operators.IncrementalDedup.IndexParams
    val p = IndexParams(buckets = 2)
    val prefix = "graft_corpus_contprobe"
    val rnd = new scala.util.Random(11)
    val vocab = Vector.fill(400)(rnd.alphanumeric.filter(_.isLetter).take(7).mkString.toLowerCase)
    val prompt = Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val filler = Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val train = Seq((1L, filler + " " + prompt),
                    (3L, Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    IncrementalDedup.buildIndexFrom(train, prefix, p)
    val evalDocs = Seq((10L, prompt)).toDF("doc_id", "text")
    val got = IncrementalDedup
      .decontaminateAgainstIndex(spark, evalDocs, prefix, p, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((10L, 1L)))
  }

  test("decontamination prefix filter is lossless on random open-vocab corpora") {
    // The corpus differential test runs in the closed-vocab regime where
    // the prefix barely prunes; this one exercises the regime the filter
    // is designed for — open vocabulary, selective rare shingles — across
    // seeded random corpora with a planted contamination.
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, explode, lit}
    val rnd = new scala.util.Random(7)
    for (round <- 1 to 3) {
      val vocab = Vector.fill(120)(rnd.alphanumeric.filter(_.isLetter).take(6).mkString.toLowerCase)
      def doc() = Seq.fill(5 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val base = (0L until 40L).map(i => (i, doc()))
      // eval doc 20 embeds train doc 7 verbatim plus a little extra noise
      val planted = base.map { case (i, t) =>
        if (i == 20L) (i, base(7)._2 + " " + vocab(rnd.nextInt(vocab.size))) else (i, t)
      }
      val postings = planted.toDF("doc_id", "text")
        .select($"doc_id", explode(call_function("graft_shingles", $"text", lit(3))).as("s"))
      val got = Dedup.decontaminationFor(
          postings.filter($"doc_id" % 10 === 0),
          postings.filter($"doc_id" % 10 =!= 0), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = planted.map { case (i, t) => i -> Dedup.shinglesScala(t, 3).toSet }.toMap
      val expected = (for {
        (a, sa) <- sets if a % 10 == 0 && sa.nonEmpty
        (b, sb) <- sets if b % 10 != 0
        c = sa.intersect(sb).size.toDouble / sa.size
        if c >= 0.5
      } yield (a, b, c)).toSet
      assert(got === expected, s"round $round")
      assert(expected.exists(p => p._1 == 20L && p._2 == 7L),
        s"planted contamination missing from the truth set in round $round")
    }
  }

  test("md5Low64 equals DuckDB md5_number_lower (known vector)") {
    // duckdb: SELECT md5_number_lower('hola') → 4661870554814853716
    assert(graft.operators.TextAnalysis.md5Low64("hola") === 4661870554814853716L)
  }

  test("minhash signature similarity estimates jaccard") {
    val params = Dedup.minhashParams(128)
    val a = (1 to 100).map(i => s"sh$i")
    val b = (21 to 120).map(i => s"sh$i") // |∩|=80, |∪|=120 → j=2/3
    val sa = Dedup.minhashSignature(a, params)
    val sb = Dedup.minhashSignature(b, params)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
    assert(math.abs(est - 2.0 / 3.0) < 0.15, s"estimate $est far from 2/3")
  }

  test("minhash signatures are order- and duplicate-insensitive (set semantics)") {
    val params = Dedup.minhashParams(64)
    val a = Seq("x", "y", "z")
    assert(Dedup.minhashSignature(a, params).toSeq ===
           Dedup.minhashSignature(a.reverse ++ Seq("x"), params).toSeq)
  }

  test("simhash: near-identical token sets → small hamming distance") {
    val base = (1 to 200).map(i => s"w$i")
    val near = base.drop(2) ++ Seq("other", "words")
    val far = (1 to 200).map(i => s"v$i")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val (hBase, hNear, hFar) =
      (Dedup.simhash64(base), Dedup.simhash64(near), Dedup.simhash64(far))
    assert(ham(hBase, hNear) < ham(hBase, hFar))
    assert(ham(hBase, hBase) === 0)
  }

  test("dedup_exact keeps one row per distinct normalized text") {
    val out = Dedup.dedupExact(spark, sf0001)
    val total = out.agg(sum("n_dups")).collect()(0).getLong(0)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(total === docs) // every doc accounted for exactly once
  }

  test("embedding dedup pairs are within-bucket and above threshold") {
    val rows = Dedup.embeddingDedupPairs(spark, sf0001, threshold = 0.2).collect()
    assert(rows.forall(_.getDouble(2) >= 0.2))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("connectedComponents labels chains, cliques, and crossing edges correctly") {
    import spark.implicits._
    // A 12-vertex path (diameter 11 — forces many propagation rounds), a
    // triangle, one extra edge merging the triangle with a 2-cycle, and an
    // isolated edge. Min-reachable-id is the expected label everywhere.
    val chain = (100L until 111L).map(i => (i, i + 1))
    val edges = (chain ++ Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 20L), (20L, 21L),
                              (50L, 51L))).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (100L to 111L).foreach(v => assert(got(v) === 100L, s"chain vertex $v"))
    Seq(1L, 2L, 3L, 20L, 21L).foreach(v => assert(got(v) === 1L, s"merged vertex $v"))
    assert(got(50L) === 50L && got(51L) === 50L)
    assert(got.size === 12 + 5 + 2)
  }

  test("cluster_canonical keeps the highest-quality member of every non-singleton cluster") {
    // Derive the expected survivors independently: cluster membership from
    // dedupClusters (every doc → cluster_id), quality from qualityScore,
    // argmax by (quality DESC, doc_id ASC), non-singleton clusters only.
    val membership = Dedup.dedupClusters(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val quality = graft.operators.TextAnalysis.qualityScore(spark, sf0001)
      .select("doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = membership.groupBy(_._2)
      .filter(_._2.length >= 2)
      .map { case (cid, members) =>
        val best = members.map(_._1)
          .minBy(d => (-quality.getOrElse(d, 0.0), d))
        cid -> ((members.length.toLong, best, quality.getOrElse(best, 0.0)))
      }
    val got = Dedup.clusterCanonical(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(expected.nonEmpty, "the corpus plants near-dup clusters")
    assert(got === expected)
    // the survivor is NOT always the min-id member — the quality argmax
    // must be doing real work on at least one cluster (otherwise this test
    // could pass with keep_id = cluster_id everywhere)
    val minIdOnly = got.forall { case (cid, (_, keep, _)) => keep == cid }
    assert(!minIdOnly, "expected at least one cluster whose best member is not the min id")
  }

  test("cut sites give identical rows under every checkpoint mode") {
    import spark.implicits._
    val edges = ((100L until 111L).map(i => (i, i + 1)) ++
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 20L), (50L, 51L))).toDF("a", "b")
    def rows(df: => org.apache.spark.sql.DataFrame): () => Seq[String] =
      () => df.collect().map(_.toString).sorted.toSeq
    val runs = ("connectedComponents" -> rows(Dedup.connectedComponents(edges, "a", "b"))) +:
      Seq("dedup_minhash", "winnow_matches", "quantile_sketch_kll", "fuzzy_names",
          "basket_affinity", "knn_join")
        .map(q => q -> rows(SparkEntry.queries(q)(spark, sf0001)))
    val local = runs.map { case (_, run) => run() }
    for (mode <- Seq("reliable")) {
      spark.conf.set("graft.iter.checkpoint", mode)
      try runs.zip(local).foreach { case ((name, run), expected) =>
        assert(expected.nonEmpty, name)
        assert(run() === expected, s"$name mode=$mode")
      }
      finally spark.conf.unset("graft.iter.checkpoint")
    }
  }

  test("dedupReport: histogram re-aggregates dedupClusters exactly; totals tile the corpus") {
    val report = Dedup.dedupReport(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val corpus = graft.sources.Tables.documents(spark, sf0001).count()
    assert(report.map(_._3).sum === corpus, "n_docs must tile the whole corpus")
    report.foreach { case (size, nc, nd, dropped) =>
      assert(nd === size * nc)
      assert(dropped === (size - 1) * nc)
    }
    // cross-check against the per-doc cluster assignment
    val fromClusters = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(1), r.getLong(2)))   // (cluster_id, cluster_size)
      .distinct.groupBy(_._2).map { case (sz, cs) => (sz, cs.length.toLong) }
    assert(report.map(t => (t._1, t._2)).toMap === fromClusters)
    // the corpus actually has non-singleton clusters to report on
    assert(report.exists(_._1 > 1), "no duplicate clusters found — fixture degenerate")
  }

  test("takedownPropagate: the closure catches copies hiding under OTHER sources") {
    import org.apache.spark.sql.functions.col
    val manifest = Dedup.takedownPropagate(spark, sf0001).collect()
    val idx = manifest.head.schema.fieldNames.zipWithIndex.toMap
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val matched = Set("src3", "src13")
    // every matched doc is in the manifest as 'direct'
    val direct = manifest.filter(_.getString(idx("reason")) == "direct")
      .map(_.getLong(idx("doc_id"))).toSet
    assert(direct === docs.filter(kv => matched(kv._2)).keySet)
    // propagated rows are NON-matched docs sharing a cluster with a direct one
    val propagated = manifest.filter(_.getString(idx("reason")) == "cluster")
    assert(propagated.nonEmpty,
      "no propagation — the fixture's clusters must span sources")
    propagated.foreach { r =>
      assert(!matched(docs(r.getLong(idx("doc_id")))),
        "a matched doc must be tagged direct, not cluster")
    }
    val directClusters = manifest.filter(_.getString(idx("reason")) == "direct")
      .map(_.getLong(idx("cluster_id"))).toSet
    propagated.foreach { r =>
      assert(directClusters(r.getLong(idx("cluster_id"))),
        "a propagated doc must share a cluster with a direct hit")
    }
    // removal is CLOSED: after dropping the manifest, no surviving doc
    // shares a cluster with a removed one
    val removed = manifest.map(_.getLong(idx("doc_id"))).toSet
    val clusters = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val removedClusters = clusters.filter(c => removed(c._1)).map(_._2).toSet
    clusters.filterNot(c => removed(c._1)).foreach { case (doc, cl) =>
      assert(!removedClusters(cl), s"survivor $doc shares cluster $cl with removed docs")
    }
  }

  test("contaminationReport: rolls up the exact pair set per source, rates in [0,1]") {
    val report = Dedup.contaminationReport(spark, sf0001).collect()
    val idx = report.head.schema.fieldNames.zipWithIndex.toMap
    val evalShard = graft.sources.Tables.documents(spark, sf0001)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
    assert(report.map(_.getLong(idx("n_eval"))).sum === evalShard.count())
    // contaminated totals equal the EXACT path's distinct eval ids (the
    // indexed route the report rides is output-equal on this corpus)
    val exactIds = Dedup.decontaminationPairs(spark, sf0001)
      .select("eval_id").distinct().count()
    assert(report.map(_.getLong(idx("n_contaminated"))).sum === exactIds)
    report.foreach { r =>
      val (ne, nc, rate) = (r.getLong(idx("n_eval")),
        r.getLong(idx("n_contaminated")), r.getDouble(idx("contamination_rate")))
      assert(nc <= ne)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - nc.toDouble / ne) <= 5e-5 + 1e-9)
    }
  }

  test("takedownVerify: empty on the closed manifest, and a leaked copy IS detected") {
    import spark.implicits._
    // the closure invariant holds on the real manifest
    assert(Dedup.takedownVerify(spark, sf0001).collect().isEmpty)
    // non-vacuous: drop one PROPAGATED member from the manifest (a leaked
    // near-dup copy) — the verifier must surface the boundary pair
    val manifest = Dedup.takedownPropagate(spark, sf0001).collect()
    val midx = manifest.head.schema.fieldNames.zipWithIndex.toMap
    val ids = manifest.map(_.getLong(midx("doc_id")))
    // pick a propagated doc that actually HAS a near-dup pair partner in
    // the manifest (cluster membership can come from a chain)
    val pairDocs = Dedup.minhashLshPairs(spark, sf0001).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val leaked = manifest
      .filter(r => r.getString(midx("reason")) == "cluster" &&
                   pairDocs(r.getLong(midx("doc_id"))))
      .map(_.getLong(midx("doc_id"))).head
    val broken = ids.filterNot(_ == leaked).toSeq.toDF("doc_id")
    val violations = Dedup.takedownVerifyAgainst(spark, sf0001, broken).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(violations.nonEmpty, "the verifier missed a leaked near-dup copy")
    assert(violations.forall(p => p._1 == leaked || p._2 == leaked),
      "every violation must involve the leaked doc")
  }

  test("clustersIncremental: the compressed delta merge equals the full recompute") {
    val incremental = graft.operators.IncrementalDedup.clustersIncremental(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val full = Dedup.dedupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(incremental.toSeq === full.toSeq,
      "incremental labels diverge from the full connected-components run")
    // the interesting paths actually ran on this fixture: at least one
    // delta doc joined a cluster with corpus members (a cross merge), so
    // equality wasn't vacuous singleton agreement
    val byCluster = incremental.groupBy(_._2)
    val crossMerged = byCluster.values.exists(members =>
      members.exists(_._1 % 10 == 0) && members.exists(_._1 % 10 != 0))
    assert(crossMerged, "no delta doc merged into a corpus cluster — fixture degenerate")
    // base labels were maintained, not recomputed: the persisted base
    // table exists alongside the index
    val prefix = graft.operators.IncrementalDedup.indexPrefix(sf0001, graft.operators.IncrementalDedup.IndexParams())
    assert(spark.catalog.tableExists(s"${prefix}_cclabels"))
  }

  test("dedupThresholdCurve: monotone non-increasing, re-derivable from the exact pairs") {
    val curve = Dedup.dedupThresholdCurve(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(curve.map(_._1).toSeq === Seq(0.7, 0.75, 0.8, 0.85, 0.9, 0.95))
    // pair mass and droppable docs shrink (weakly) as the threshold rises
    curve.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._3 >= hi._3, s"curve not monotone: $lo vs $hi")
      case _ =>
    }
    // re-derive each point from the raw exact pair set at the floor
    val pairs = Dedup.ngramJaccardPairs(spark, sf0001, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    curve.foreach { case (t, np, nd) =>
      val at = pairs.filter(_._3 >= t)
      assert(np === at.length.toLong, s"pair count at $t")
      assert(nd === at.map(_._2).distinct.length.toLong, s"droppable at $t")
    }
    // the fixture discriminates: the curve actually falls somewhere
    assert(curve.head._2 > curve.last._2, "flat curve — fixture degenerate")
  }

  test("corpusOverlap: matrix is symmetric in counts and re-derivable from the pair set") {
    import org.apache.spark.sql.functions.col
    val m = Dedup.corpusOverlap(spark, sf0001).collect()
    val idx = m.head.schema.fieldNames.zipWithIndex.toMap
    val cells = m.map { r =>
      (r.getString(idx("source")), r.getString(idx("other_source"))) ->
        (r.getLong(idx("n_overlapping")), r.getLong(idx("n_docs")),
         r.getDouble(idx("overlap_rate")))
    }.toMap
    // re-derive from the raw pair set + source labels
    val src = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.minhashLshPairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = (pairs.map { case (a, b) => (src(a), src(b), a) } ++
                    pairs.map { case (a, b) => (src(b), src(a), b) })
      .groupBy(t => (t._1, t._2)).map { case (k, v) => k -> v.map(_._3).distinct.length.toLong }
    assert(cells.view.mapValues(_._1).toMap === expected)
    val totals = src.groupBy(_._2).map { case (s, v) => s -> v.size.toLong }
    cells.foreach { case ((s, _), (n, nd, rate)) =>
      assert(nd === totals(s), s"n_docs for $s")
      assert(n <= nd)
      assert(rate >= 0.0 && rate <= 1.0)
      assert(math.abs(rate - n.toDouble / nd) <= 5e-5 + 1e-9)
    }
    // the fixture's duplication spans sources (off-diagonal cells exist)
    assert(m.exists(r => r.getString(idx("source")) != r.getString(idx("other_source"))),
      "no cross-source overlap — fixture degenerate")
  }

  test("dedupNfc: decomposed twins invisible to byte dedup are caught by the canonical digest") {
    import spark.implicits._
    // ids 0 and 7 share text (an organic byte-level duplicate); 0 and 5
    // are %5 docs, so each gains a DECOMPOSED twin at id + 1,000,000
    val docs = Seq((0L, "alpha"), (1L, "beta"), (5L, "gamma"), (7L, "alpha"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupNfcFrom(docs).collect()
      .map(r => (r.getLong(2), r.getLong(1), r.getLong(3))).toSet // (canonical, n, needed)
    // group alpha: base 0, organic dup 7, decomposed twin 1000000 -> 3 docs,
    // and the twin's raw digest differs so NFC was load-bearing
    // group gamma: base 5 + twin 1000005
    assert(out === Set((0L, 3L, 1L), (5L, 2L, 1L)))
    // byte-level digests on the SAME universe see only the organic pair:
    // the planted decomposed twins are invisible without normalization
    val composed = java.text.Normalizer.normalize(
      graft.operators.TextAnalysis.NfcSuffixUnit, java.text.Normalizer.Form.NFC)
    val base = docs.select(col("doc_id"), concat(col("text"), lit(composed)).as("t"))
    val twins = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(col("text"), lit(graft.operators.TextAnalysis.NfcSuffixUnit)).as("t"))
    val rawGroups = base.unionByName(twins)
      .groupBy(md5(col("t")).as("fp"))
      .agg(count(lit(1)).as("n"), min("doc_id").as("keep"))
      .filter(col("n") > 1)
      .collect().map(r => (r.getLong(2), r.getLong(1))).toSet
    assert(rawGroups === Set((0L, 2L)),
      "byte dedup must see ONLY the organic duplicate, never the planted twins")
    // corpus smoke: every planted twin group surfaces with needed_nfc = 1
    val corpus = Dedup.dedupNfc(spark, sf0001).collect()
    val needed = corpus.count(_.getLong(3) == 1L)
    val planted = graft.sources.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 5 === 0).count()
    assert(needed > 0 && needed <= planted)
    assert(corpus.forall(_.getLong(1) >= 2L))
  }

  test("dedupAuto: route flips with the measured regime; both routes emit identical pairs on both regimes") {
    import spark.implicits._
    // Two synthetic regimes staged as documents.parquet fixtures so the
    // sfDir-shaped entry points (router + both pair paths) run unchanged.
    // OPEN: vocabulary grows with the corpus (every doc contributes fresh
    // types in every slice). CLOSED: a 31-word vocabulary fully present in
    // slice 0. Both plant near-dup pairs (doc i and i+500 share 9/10 of
    // their words in order) so the routed output is non-empty.
    // tokenize splits on NON-LETTERS, so fixture words must be purely
    // alphabetic — digits in a word would silently collapse the whole
    // "open" vocabulary to a couple of types and flip the regime
    def alpha(n: Long): String = n.toString.map(c => ('a' + (c - '0')).toChar)
    def stageWithTwins(name: String, closed: Boolean): String = {
      val vocab = (0 until 31).map(i => s"word${alpha(i.toLong)}")
      val rows = (0L until 400L).flatMap { i =>
        val words =
          if (closed) (0 until 12).map(j => vocab(((i * 7 + j * 3) % 31).toInt))
          else (0 until 12).map(j => s"t${alpha(i)}q${alpha(j.toLong)}")
        val base = (i, words.mkString(" "))
        val twin =
          if (i % 10 == 0) Seq((i + 1000L, words.mkString(" ")))
          else Seq.empty
        base +: twin
      }
      val dir = s"/tmp/graft_dedup_auto_$name"
      rows.map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val openDir = stageWithTwins("open", closed = false)
    val closedDir = stageWithTwins("closed", closed = true)
    // the router reads the regime off the data
    assert(Dedup.dedupRoute(spark, openDir) === "exact",
      "a growing vocabulary must keep the exact prefix-filter route")
    assert(Dedup.dedupRoute(spark, closedDir) === "lsh",
      "a slice-0-saturated vocabulary must switch to the LSH route")
    // the salted_distinct discipline for route choices: on BOTH regimes the
    // two routes emit the identical pair set, so routing changes the plan,
    // never the answer
    for (dir <- Seq(openDir, closedDir)) {
      val exact = Dedup.ngramJaccardPairs(spark, dir)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val lsh = Dedup.minhashLshPairs(spark, dir)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty, s"$dir: planted twins produced no pairs — fixture degenerate")
      assert(exact === lsh, s"$dir: routes disagree — auto-routing would change the answer")
      val auto = Dedup.dedupAuto(spark, dir)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(auto === exact, s"$dir: routed output differs from the exact pair set")
    }
  }
}
