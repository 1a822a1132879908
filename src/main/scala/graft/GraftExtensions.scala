package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions.{BandHashes, BloomAgg, BloomMightContain, ChunkHashes, ChunkStats, Hash64, HashEmbed, HistAgg, HllAgg, CmsAgg, CmsBucket, CosineSimilarity, KmvAgg, KmvStateAgg, MinHashAgg, MinHashArr, NfcNormalize, ShingleArray, SimHash, Winnow, WinnowStats}

/** Engine extension point, registered via
  * `spark.sql.extensions=graft.GraftExtensions` (every graft entry point —
  * Verify, Bench, Probe, the test base — sets it). Injects the native
  * codegen expressions as SQL-callable functions, so both the DataFrame API
  * (`functions.call_function`) and `spark.sql(...)` reach them:
  *
  *  - `graft_cosine(array<float>, array<float>) → double`
  *  - `graft_shingles(string, n) → array<string>`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine(a, b) takes two array<float> columns")
        CosineSimilarity(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleArray].getName, "graft_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles(text, n) takes a string column and an int literal")
        ShingleArray(args.head, intArg(args(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash(shingle, numHashes) — aggregate")
        MinHashAgg(args.head, intArg(args(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_arr"),
      new ExpressionInfo(classOf[MinHashArr].getName, "graft_minhash_arr"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash_arr(shingle_array, numHashes) — per-row scalar")
        MinHashArr(args.head, intArg(args(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bands"),
      new ExpressionInfo(classOf[BandHashes].getName, "graft_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_bands(signature, numBands, rowsPerBand)")
        BandHashes(args.head, intArg(args(1)), intArg(args(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvAgg].getName, "graft_kmv"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_kmv(value, k) — distinct-count sketch aggregate")
        KmvAgg(args.head, intArg(args(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv_state"),
      new ExpressionInfo(classOf[KmvStateAgg].getName, "graft_kmv_state"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_kmv_state(value, k) — KMV sketch state aggregate")
        KmvStateAgg(args.head, intArg(args(1)), hashed = false)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv_merge"),
      new ExpressionInfo(classOf[KmvStateAgg].getName, "graft_kmv_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_kmv_merge(hash, k) — KMV rollup over persisted sketch rows")
        KmvStateAgg(args.head, intArg(args(1)), hashed = true)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hist_state"),
      new ExpressionInfo(classOf[HistAgg].getName, "graft_hist_state"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hist_state(bin, bins) — histogram sketch state aggregate")
        HistAgg(args.head, intArg(args(1)), merging = false)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hist_merge"),
      new ExpressionInfo(classOf[HistAgg].getName, "graft_hist_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hist_merge(state, bins) — histogram rollup over persisted state rows")
        HistAgg(args.head, intArg(args(1)), merging = true)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_state"),
      new ExpressionInfo(classOf[HllAgg].getName, "graft_hll_state"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hll_state(value, p) — HyperLogLog register aggregate")
        HllAgg(args.head, intArg(args(1)), merging = false)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hll_merge"),
      new ExpressionInfo(classOf[HllAgg].getName, "graft_hll_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hll_merge(state, p) — HLL rollup over persisted state rows")
        HllAgg(args.head, intArg(args(1)), merging = true)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CmsAgg].getName, "graft_cms"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_cms(value, weight, depth, width) — frequency sketch aggregate")
        CmsAgg(args.head, args(1), intArg(args(2)), intArg(args(3)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_cms_bucket"),
      new ExpressionInfo(classOf[CmsBucket].getName, "graft_cms_bucket"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_cms_bucket(value, row, width) — the sketch's cell hash")
        CmsBucket(args.head, intArg(args(1)), intArg(args(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[BloomAgg].getName, "graft_bloom"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_bloom(value, numBits, numHashes) — filter-build aggregate")
        BloomAgg(args.head, intArg(args(1)), intArg(args(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_bloom_might_contain(filter, value, numHashes)")
        BloomMightContain(args.head, args(1), intArg(args(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash].getName, "graft_simhash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash(text) takes one string column")
        SimHash(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hash64"),
      new ExpressionInfo(classOf[Hash64].getName, "graft_hash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_hash64(s) takes one string column")
        Hash64(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfc(s) takes one string column")
        NfcNormalize(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_chunkstats"),
      new ExpressionInfo(classOf[ChunkStats].getName, "graft_chunkstats"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_chunkstats(text, window)")
        ChunkStats(args.head, intArg(args(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_chunks"),
      new ExpressionInfo(classOf[ChunkHashes].getName, "graft_chunks"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_chunks(text, window)")
        ChunkHashes(args.head, intArg(args(1)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "graft_winnow"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_winnow(text, window, w)")
        Winnow(args.head, intArg(args(1)), intArg(args(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_winnowstats"),
      new ExpressionInfo(classOf[WinnowStats].getName, "graft_winnowstats"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_winnowstats(text, window, w)")
        WinnowStats(args.head, intArg(args(1)), intArg(args(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_hash_embed"),
      new ExpressionInfo(classOf[HashEmbed].getName, "graft_hash_embed"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_hash_embed(text, dim)")
        HashEmbed(args.head, intArg(args(1)))
      }))
  }

  private def intArg(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => other.eval().asInstanceOf[Number].intValue()
  }
}
