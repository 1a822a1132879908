package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Scale-slope probe: replicate the driver tables k× (ids offset per copy so
  * keys stay distinct and near-dup pairs don't explode combinatorially) into
  * a temp dir, then time selected queries at 1× and k×. A super-linear slope
  * flags an operator that would not survive the 100 TB scale-up (e.g. an
  * accidental quadratic join); near-linear slopes back the design claims.
  *
  * Usage: runMain graft.tools.ScaleProbe [mult] [query,query,...] [closed|open]
  *
  * Vocabulary modes for the documents replicas (3rd arg):
  *   - `closed` (default): replicas reuse the 1× token multiset (order
  *     shuffled). The synthetic corpus has a ~31-word vocabulary, so EVERY
  *     n-gram feature table (shingles, postings, containment bands)
  *     saturates: feature frequency grows k× while distinct features stay
  *     constant — the adversarial regime for feature-join dedup, and the
  *     published dedup_ngram 2.4–3.0 "slopes" are THIS saturation, not the
  *     algorithm (real corpora follow Heaps' law: vocabulary grows with
  *     corpus size).
  *   - `open`: replicas ≥1 additionally get a per-replica lowercase-letter
  *     suffix on every token ("qx" + replica letter — letters only, so the
  *     non-letter-split tokenizer keeps it one token). Replica vocabularies
  *     are disjoint → distinct features grow k×, per-feature frequency
  *     stays 1×, and near-dup pair structure stays exactly one 1× corpus
  *     per replica — the Heaps-law-shaped regime the 100 TB design targets.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = if (args.length > 0) args(0).toInt else 10
    val openVocab = args.length > 2 && args(2) == "open"
    val queries = (if (args.length > 1) args(1).split(",").toSeq
                   else Seq("wc", "dedup_ngram", "dedup_minhash", "dedup_simhash",
                            "similarity_knn", "similarity_ivf", "similarity_ivf_indexed",
                            "topk_words", "fuzzy_names", "dedup_clusters", "scrub_pii",
                            "sample_hash", "dedup_incremental", "decontaminate",
                            "decontaminate_indexed", "corpus_export", "knn_join",
                            "grep_indexed", "phrase_search", "export_shards",
                            "distinct_sketch", "quantile_sketch",
                            "jsonl_scan", "csv_scan", "stream_ingest",
                            "pack_sequences", "mixture_sample",
                            "repetition_score", "bpe_train", "tfidf_terms",
                            "bm25_search", "stream_dedup_near",
                            "perplexity_score", "heavy_hitters", "common_passages",
                            "excise_passages", "freq_sketch", "stream_freq_sketch",
                            "export_zorder", "semdedup",
                            "session_window_agg", "stream_distinct_sketch",
                            "pack_sequences_sharded", "ann_recall",
                            "ivf_recall", "snapshot_diff", "train_shuffle",
                            "media_dedup", "epoch_plan",
                            "stream_snapshot_diff",
                            "quality_filter", "source_mix", "doc_chunks",
                            "embedding_stats", "stream_decontaminate",
                            "dedup_report", "contamination_report",
                            "stream_quality_filter", "stream_source_mix", "export_pack",
                            "media_files_scan", "stream_media_ingest",
                            "stream_quota_ingest", "takedown_propagate",
                            "stream_takedown", "corpus_overlap", "kanon_suppress",
                            "winnow_fingerprints", "winnow_matches",
                            "hybrid_search", "mixture_weights",
                            "release_report", "quota_sample", "stream_winnow",
                            "winnow_matches_indexed", "cluster_keywords",
                            "bpe_fertility", "peak_concurrency", "embedding_drift",
                            "dedup_threshold_curve", "winnow_recall",
                            "stream_mixture_weights", "token_length_histogram",
                            "packing_report", "dedup_clusters_incremental",
                            "quality_calibration", "media_filter", "stream_media_filter",
                            "media_report", "export_manifest",
                            "stream_token_histogram", "ngram_novelty", "source_novelty",
                            "takedown_verify", "stream_sessions_append",
                            "stream_media_packed", "link_communities",
                            "bpe_coverage", "community_rollup",
                            "stream_tumbling_append", "stream_late_audit",
                            "vocab_growth", "source_divergence",
                            "stream_dedup_bounded", "cocitation", "sketch_rollup",
                            "interval_join", "readability",
                            "pareto_frontier", "anomaly_hours",
                            "stream_anomaly_hours", "hits_scores", "zipf_slope",
                            "doc_entropy", "leakage_safe_split",
                            "stream_sliding_append", "compaction_plan",
                            "skew_profile", "lang_confusion", "basket_affinity",
                            "revenue_rank_delta", "user_lifecycle",
                            "quantile_rollup", "big_spenders",
                            "media_near_dup", "media_dup_padded",
                            "stream_kanon", "waiting_suppliers",
                            "noised_release", "triangle_participation",
                            "lapsed_big_accounts")).toList
    val srcDir = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Hold the live-probe marker for the whole run so a concurrently
    // launched Bench's pre-seal sweep doesn't delete this probe's staged
    // corpus mid-measurement (released in the finally below; deleteOnExit
    // covers ordinary crashes, the 12h staleness rule covers SIGKILL).
    graft.sources.Warehouse.acquireProbeMarker()
    val spark = graft.Bench.localSession(cpus)

    val scaled = java.nio.file.Files.createTempDirectory(s"graft_scale_x$mult").toString
    // documents: replica 0 is the original corpus; replicas ≥1 keep each
    // doc's token MULTISET but shuffle the order with a per-(doc, replica)
    // seed. Word-level trigram shingles are order-dependent, so replicas
    // are decorrelated from their originals and from each other — the
    // near-dup PAIR STRUCTURE stays that of the 1× corpus while the corpus
    // mass grows k×. (Naive replication — identical or padded copies —
    // makes every replica a true near-dup / rare-shingle twin of its
    // original, and the pair output itself grows quadratically, drowning
    // the algorithmic slope this probe is after.)
    import spark.implicits._
    val docs = Tables.table(spark, srcDir, "documents")
    val maxDoc = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1
    (0 until mult).map { i =>
      if (i == 0) docs
      else docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
        .as[(Long, String, String, Long, String)]
        .map { case (id, lang, src, nc, text) =>
          val rnd = new scala.util.Random(id * 1000003L + i)
          val words = rnd.shuffle(text.split("\\s+").toVector)
          val suffixed = if (openVocab) {
            val suf = "qx" + ('a' + (i - 1) % 26).toChar
            words.map(_ + suf)
          } else words
          (id + i * maxDoc, lang, src, nc, suffixed.mkString(" "))
        }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
    }
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaled/documents.parquet")
    val emb = Tables.table(spark, srcDir, "embeddings")
    val maxVec = emb.agg(max("vec_id")).collect()(0).getLong(0) + 1
    (0 until mult).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaled/embeddings.parquet")
    // customer: offset keys AND regenerate the key-derived name — replicas
    // with the original names would be exact name-duplicates of their
    // originals, making the fuzzy-match pair OUTPUT itself quadratic in k
    // and drowning the algorithmic slope.
    val cust = Tables.table(spark, srcDir, "customer")
    val maxCust = cust.agg(max("c_custkey")).collect()(0).getLong(0) + 1
    (0 until mult).map { i =>
      val shifted = cust.withColumn("c_custkey", col("c_custkey") + lit(i * maxCust))
      if (i == 0) shifted
      else shifted.withColumn("c_name",
        concat(lit("Customer#"), lpad(col("c_custkey").cast("string"), 9, "0")))
    }
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaled/customer.parquet")

    // orders: order keys offset per replica; customer keys offset by the
    // SAME maxCust stride as the customer replicas so the fact↔dim key
    // relationship holds at k× (bloom_join, cohort_retention, the CDC
    // family). Dates/prices unchanged — the cohort/quarter structure and
    // the mod-class changelog derivation repeat per replica.
    val ord = Tables.table(spark, srcDir, "orders")
    val maxOrd = ord.agg(max("o_orderkey")).collect()(0).getLong(0) + 1
    (0 until mult).map(i => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * maxCust)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaled/orders.parquet")

    // events: ids and users offset per replica (distinct-count mass grows
    // k×, the sketch's workload); timestamps/types/values unchanged so the
    // distributional shape holds
    val ev = Tables.table(spark, srcDir, "events")
    val maxEvent = ev.agg(max("event_id")).collect()(0).getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).collect()(0).getLong(0) + 1
    (0 until mult).map(i => ev
        .withColumn("event_id", col("event_id") + lit(i * maxEvent))
        .withColumn("user_id", col("user_id") + lit(i * maxUser)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaled/events.parquet")
    // lineitem: order keys offset, measures unchanged — the quantile
    // sketch sees k× rows over the same price distribution
    val li = Tables.table(spark, srcDir, "lineitem")
    val maxOrder = li.agg(max("l_orderkey")).collect()(0).getLong(0) + 1
    (0 until mult).map(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrder)))
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$scaled/lineitem.parquet")
    // small dims: copied 1× verbatim — corpus growth multiplies facts,
    // not the nation/region/supplier/part vocabulary
    Seq("nation", "region", "supplier", "part").foreach { t =>
      Tables.table(spark, srcDir, t)
        .write.mode(SaveMode.Overwrite).parquet(s"$scaled/$t.parquet")
    }

    def time(dir: String, q: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      // Streaming queries pin each run's full memory-sink result in driver
      // memory until its temp view is dropped — without this, a 10× warm
      // run measures GC pressure from the cold run's sink, not the query
      // (observed: stream_sessions warm 14.6s vs cold 8.9s before the drop).
      graft.streaming.EventStreams.dropSinkTables(spark)
      dt
    }
    // Two timings at the scaled dir: the FIRST pays any one-time persisted
    // index/artifact build at k× (fresh path → fresh fingerprint), the
    // SECOND is the amortized steady state those artifacts exist for. For
    // queries without persisted state the two are the same measurement.
    // CAVEAT: artifacts are SHARED (fingerprint-gated), so a build is
    // attributed to whichever listed query reaches it first — to measure a
    // specific query's full build cost, list it before its co-tenants
    // (e.g. decontaminate_indexed before dedup_incremental).
    println(f"${"query"}%-22s ${"t_1x"}%8s ${"t_" + mult + "x_c"}%8s ${"t_" + mult + "x_w"}%8s ${"sl_cold"}%7s ${"sl_warm"}%7s  (slope = t_kx / (k * t_1x); ≤1 ≈ linear; _c first run incl. builds, _w steady)")
    val measured = queries.map { q =>
      time(srcDir, q) // warmup (JIT + codegen for this plan)
      val t1 = time(srcDir, q)
      val tkCold = time(scaled, q)
      val tkWarm = time(scaled, q)
      println(f"$q%-22s $t1%8.2f $tkCold%8.2f $tkWarm%8.2f ${tkCold / (mult * t1)}%7.2f ${tkWarm / (mult * t1)}%7.2f")
      (q, t1, tkCold, tkWarm)
    }
    // Persist the run as a machine-readable artifact so slope REGRESSIONS
    // become named failures ([[SlopeCheck]]), not footnotes. Tag a sealed
    // run `bench/slopes_r<N>_base.json`; the default path is gitignored.
    val slopesPath = sys.env.getOrElse("SPARK_GRAFT_SLOPES", "bench/slopes_latest.json")
    val calib1 = {
      val t0 = System.nanoTime()
      var s = 0L; var i = 0L
      while (i < 1500000000L) { s += i; i += 1 }
      if (s == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    val entries = measured.map { case (q, t1, c, w) =>
      f""""$q":{"t1":$t1%.3f,"cold":$c%.3f,"warm":$w%.3f,"sl_cold":${c / (mult * t1)}%.4f,"sl_warm":${w / (mult * t1)}%.4f}"""
    }.mkString("{", ",", "}")
    val json =
      f"""{"mult":$mult,"vocab":"${if (openVocab) "open" else "closed"}","cpus":$cpus,"calib1":$calib1%.3f,
         |"slopes":$entries}""".stripMargin
    try {
      val p = java.nio.file.Paths.get(slopesPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, json.getBytes("UTF-8"))
      System.err.println(s"[scaleprobe] slopes artifact -> $slopesPath")
    } catch { case e: Throwable =>
      System.err.println(s"[scaleprobe] slopes artifact write failed: $e")
    }
    spark.stop()
    graft.sources.Warehouse.releaseProbeMarker()
  }
}
