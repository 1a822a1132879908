package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.TextFunctions
import graft.functions.expressions.{ChunkKernel, CosineSimilarity}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

/** ScalaCheck properties over the compiled kernels — the reference's
  * differential-testing spirit (SURVEY.md §5) applied to the scalar layer:
  * algebraic identities that must hold for ANY input, not just fixtures. */
object KernelProperties extends Properties("graft.kernels") {

  private val word: Gen[String] = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString)
  private val words: Gen[List[String]] = Gen.listOf(word)
  private val text: Gen[String] = for {
    ws <- words
    sep <- Gen.listOfN(math.max(ws.length - 1, 0), Gen.oneOf(" ", ", ", "! ", "\n", "  "))
  } yield ws.zipAll(sep, "", "").map { case (w, s) => w + s }.mkString

  property("tokenize: no empty tokens, all lowercase") = forAll(text) { t =>
    val toks = TextFunctions.tokenizeScala(t)
    toks.forall(w => w.nonEmpty && w == w.toLowerCase)
  }

  property("tokenize of space-joined words preserves the word count") =
    forAll(words) { ws =>
      TextFunctions.tokenizeScala(ws.mkString(" ")).length == ws.count(_.nonEmpty)
    }

  property("shingles: every n-gram has n tokens; count bounded by tokens-n+1") =
    forAll(text, Gen.choose(2, 4)) { (t, n) =>
      val toks = TextFunctions.tokenizeScala(t)
      val sh = Dedup.shinglesScala(t, n)
      sh.forall(_.split(" ").length == n) &&
        sh.length <= math.max(toks.length - n + 1, 0) &&
        sh.toSet.size == sh.length // distinct
    }

  property("minhash: sig(A ∪ B) = elementwise min(sig(A), sig(B)) — merge law") =
    forAll(words, words) { (a, b) =>
      val params = Dedup.minhashParams(32)
      val sa = Dedup.minhashSignature(a.filter(_.nonEmpty), params)
      val sb = Dedup.minhashSignature(b.filter(_.nonEmpty), params)
      val su = Dedup.minhashSignature((a ++ b).filter(_.nonEmpty), params)
      su.toSeq == sa.zip(sb).map { case (x, y) => math.min(x, y) }.toSeq
    }

  property("minhash: identical sets → identical signatures regardless of order") =
    forAll(words) { ws =>
      val params = Dedup.minhashParams(16)
      Dedup.minhashSignature(ws, params).toSeq ==
        Dedup.minhashSignature(scala.util.Random.shuffle(ws), params).toSeq
    }

  property("simhash: self-distance 0; bitwise stability") = forAll(words) { ws =>
    val h = Dedup.simhash64(ws)
    java.lang.Long.bitCount(h ^ Dedup.simhash64(ws)) == 0
  }

  property("chunk stats: count = max(0, tokens - w + 1); 32-bit range; sum bounds") =
    forAll(text, Gen.choose(2, 10)) { (t, w) =>
      val row = ChunkKernel.chunkStats(UTF8String.fromString(t), w)
      val toks = TextFunctions.tokenizeScala(t)
      val n = row.getLong(0)
      val expected = math.max(toks.length - w + 1, 0)
      if (expected == 0) n == 0L && row.isNullAt(1)
      else {
        val (min, max, sum) = (row.getLong(1), row.getLong(2), row.getLong(3))
        n == expected && min >= 0 && max < ChunkKernel.Mod && min <= max &&
          sum >= min + (n - 1) * 0 && sum <= n * (ChunkKernel.Mod - 1)
      }
    }

  property("rollingHashes agrees with ChunkKernel count") =
    forAll(words.suchThat(_.nonEmpty), Gen.choose(2, 6)) { (ws, w) =>
      val clean = ws.filter(_.nonEmpty).map(_.toLowerCase)
      val rh = TextAnalysis.rollingHashes(clean.toIndexedSeq, w)
      // rollingHashes returns a SET (distinct) → bounded by the chunk count.
      rh.size <= math.max(clean.length - w + 1, 0)
    }

  private def hashEmbedArr(t: String, dim: Int): Array[Long] =
    graft.functions.expressions.HashEmbedKernel
      .hashEmbed(UTF8String.fromString(t), dim).toLongArray()

  property("hashEmbed: bag ADDITIVITY — embed(a ⧺ b) = embed(a) + embed(b)") =
    forAll(text, text) { (a, b) =>
      val joint = hashEmbedArr(a + " " + b, 64)
      val parts = hashEmbedArr(a, 64).zip(hashEmbedArr(b, 64)).map { case (x, y) => x + y }
      joint.sameElements(parts)
    }

  property("hashEmbed: ℓ1 mass ≤ token count with matching parity (each token moves one coord ±1)") =
    forAll(text) { t =>
      val n = TextFunctions.tokenizeScala(t).length
      val l1 = hashEmbedArr(t, 64).map(math.abs).sum
      l1 <= n && (n - l1) % 2 == 0
    }

  property("hashEmbed: token-order blind (bag semantics)") = forAll(words) { ws =>
    hashEmbedArr(ws.mkString(" "), 64)
      .sameElements(hashEmbedArr(ws.reverse.mkString(" "), 64))
  }

  property("md5Low64: deterministic, matches DuckDB known vector") =
    Prop(TextAnalysis.md5Low64("hola") == 4661870554814853716L) &&
      forAll(word) { w => TextAnalysis.md5Low64(w) == TextAnalysis.md5Low64(w) }

  property("ivfCellGrid: smallest power of two whose square covers n") =
    forAll(Gen.choose(1L, 1L << 40)) { n =>
      val p = graft.operators.Similarity.ivfCellGrid(n)
      val pow2 = (p & (p - 1)) == 0 && p >= 1
      val covers = p.toLong * p >= n || p == (1 << 20) // capped at 2^20
      val minimal = p == 1 || (p.toLong / 2) * (p / 2) < n
      pow2 && covers && minimal
    }

  property("ivfSampleStride: >=1, and the implied sample is ~perCentroid*k") =
    forAll(Gen.choose(1L, 1L << 32), Gen.choose(1, 4096)) { (n, k) =>
      val s = graft.operators.Similarity.ivfSampleStride(n, k)
      // sample size n/s is at least perCentroid*k whenever n allows it
      s >= 1 && (s == 1 || n / s >= 4L * k)
    }

  property("perplexity whole-bit surprisal: width(c1)-width(c2) within 1 bit of log2(c1/c2)") =
    // the fidelity bound perplexity_score's integer arithmetic rests on:
    // bit width is floor(log2 x)+1, so the width DIFFERENCE brackets the
    // real log-ratio within one bit either side for any 1 <= c2 <= c1
    forAll(Gen.choose(1L, Long.MaxValue / 2), Gen.choose(1L, Long.MaxValue / 2)) { (a, b) =>
      val c1 = math.max(a, b)
      val c2 = math.min(a, b)
      val widthBits = java.lang.Long.toBinaryString(c1).length -
        java.lang.Long.toBinaryString(c2).length
      val exact = math.log(c1.toDouble / c2.toDouble) / math.log(2.0)
      widthBits >= exact - 1.0 - 1e-9 && widthBits <= exact + 1.0 + 1e-9
    }

  property("quality_filter integer rules == their float-threshold forms") =
    // the cross-multiplied integer forms the filter ships (20·stop ≥ words,
    // 3·words ≤ totlen ≤ 8·words, 5·distinct ≥ grams) must decide exactly
    // like the real-number thresholds they encode, for ANY counts —
    // including the boundary cases float division would wobble on
    forAll(Gen.choose(0L, 1L << 20), Gen.choose(0L, 1L << 20),
           Gen.choose(0L, 1L << 24), Gen.choose(0L, 1L << 20)) { (nw, nstop0, totlen, ngr) =>
      val nstop = math.min(nstop0, nw) // stopwords are a subset of words
      val ndist = math.min(nstop0, ngr) // distinct grams bounded by grams
      val intStop = nw > 0 && nstop * 20 >= nw
      val floatStop = nw > 0 && BigDecimal(nstop) / BigDecimal(math.max(nw, 1)) >= BigDecimal("0.05")
      val intLen = nw > 0 && totlen >= nw * 3 && totlen <= nw * 8
      val floatLen = nw > 0 && {
        val r = BigDecimal(totlen) / BigDecimal(math.max(nw, 1))
        r >= 3 && r <= 8
      }
      val intRep = ngr == 0 || ndist * 5 >= ngr
      val floatRep = ngr == 0 ||
        BigDecimal(1) - BigDecimal(ndist) / BigDecimal(math.max(ngr, 1)) <= BigDecimal("0.8")
      intStop == floatStop && intLen == floatLen && intRep == floatRep
    }

  // ---- winnowing (Schleimer–Wilkerson–Aiken): structural guarantees ----

  private def chunkChain(t: String, window: Int): Array[Long] = {
    val hs = TextFunctions.tokenizeScala(t).map(ChunkKernel.tokenHash)
    if (hs.length < window) Array.emptyLongArray
    else Array.tabulate(hs.length - window + 1) { i =>
      var h = 0L; var j = 0
      while (j < window) { h = (h * ChunkKernel.Base + hs(i + j)) % ChunkKernel.Mod; j += 1 }
      h
    }
  }

  private def winnowed(t: String, window: Int, w: Int): Array[(Long, Long)] = {
    val arr = graft.functions.expressions.WinnowKernel
      .winnow(UTF8String.fromString(t), window, w)
    Array.tabulate(arr.numElements()) { i =>
      val r = arr.getStruct(i, 2); (r.getLong(0), r.getLong(1))
    }
  }

  property("winnow: COVERAGE — every w-window of the chunk chain holds a selected pos") =
    forAll(text, Gen.choose(2, 5)) { (t, w) =>
      val ch = chunkChain(t, 4)
      val sel = winnowed(t, 4, w)
      val pos = sel.map(_._1.toInt - 1).toSet
      if (ch.length < w) sel.isEmpty
      else (0 to ch.length - w).forall(i => (i until i + w).exists(pos.contains))
    }

  property("winnow: every selected fp is its window-min and equals the chain at its pos") =
    forAll(text, Gen.choose(2, 5)) { (t, w) =>
      val ch = chunkChain(t, 4)
      winnowed(t, 4, w).forall { case (p1, fp) =>
        val p = p1.toInt - 1
        ch(p) == fp &&
          // minimal in SOME window containing p (the defining property)
          (math.max(0, p - w + 1) to math.min(p, ch.length - w))
            .exists(s => (s until s + w).forall(j => ch(j) >= fp))
      }
    }

  property("winnow: positions strictly increase (the dedup-by-last argument)") =
    forAll(text, Gen.choose(2, 5)) { (t, w) =>
      val ps = winnowed(t, 4, w).map(_._1)
      ps.zip(ps.drop(1)).forall { case (a, b) => a < b }
    }

  property("winnow: a shared passage of >= window+w-1 tokens fingerprints BOTH docs") =
    forAll(words, words, Gen.nonEmptyListOf(word), Gen.choose(2, 4)) { (pre, post, shared0, w) =>
      val window = 3
      // pad the shared passage to the guarantee length
      val shared = LazyList.continually(shared0).flatten.take(
        math.max(shared0.length, window + w - 1)).toList
      val docA = (pre ++ shared).mkString(" ")
      val docB = (shared ++ post).mkString(" ")
      val fpA = winnowed(docA, window, w).map(_._2).toSet
      val fpB = winnowed(docB, window, w).map(_._2).toSet
      fpA.intersect(fpB).nonEmpty
    }

  // ---- byte-level winnow (media_dup_encoded's blocking kernel) ----

  import graft.multimodal.Media
  private val K = Media.EncodedWinnowK
  private val W = Media.EncodedWinnowW

  private val bytesGen: Gen[Array[Byte]] =
    Gen.choose(0, 600).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))).map(_.toArray)

  property("byteWinnow: deterministic; empty under the guarantee floor") =
    forAll(bytesGen) { b =>
      val fps = Media.byteWinnow(b, K, W)
      fps.toSeq == Media.byteWinnow(b.clone(), K, W).toSeq &&
        (b.length >= K + W - 1 || fps.isEmpty)
    }

  property("byteWinnow: a shared byte run of >= k+w-1 fingerprints BOTH payloads") =
    forAll(bytesGen, bytesGen, Gen.listOfN(K + W - 1, Gen.choose(Byte.MinValue, Byte.MaxValue))) {
      (pre, post, shared) =>
        val a = pre ++ shared.toArray
        val b = shared.toArray ++ post
        Media.byteWinnow(a, K, W).toSet
          .intersect(Media.byteWinnow(b, K, W).toSet).nonEmpty
    }

  property("byteWinnow: the drop-101 edit shares >= EncodedMinShared fps on any >=512B payload") =
    forAll(Gen.choose(512, 1500).flatMap(n =>
        Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))) { a =>
      // the planted re-encode: drop every 101st byte from offset 64 —
      // the minShared floor must hold for ARBITRARY content at the
      // 512-byte plant floor, not just the driver fixture (each inter-drop
      // clean run of ~100 bytes carries >= 1 winnow-guaranteed shared fp)
      val out = new Array[Byte](a.length)
      var i = 0; var o = 0
      while (i < a.length) {
        if (!(i >= 64 && (i - 64) % 101 == 0)) { out(o) = a(i); o += 1 }
        i += 1
      }
      val edited = java.util.Arrays.copyOf(out, o)
      Media.byteWinnow(a, K, W).toSet
        .intersect(Media.byteWinnow(edited, K, W).toSet)
        .size >= Media.EncodedMinShared
    }

  property("noise draw: bit-trick magnitude equals trailing-zero count (the JDK identity)") =
    forAll(Gen.alphaStr, Gen.choose(1L, 20L)) { (cell, rel) =>
      // the seeded-geometric magnitude used by noised_release and its
      // streaming twin: bit_count((g & -g) - 1) must equal the trailing-
      // zero count — an independent formulation of the same quantity
      val h = TextAnalysis.md5Low64(s"$cell:$rel") & Long.MaxValue
      val g = h >> 1
      val viaTrick = java.lang.Long.bitCount((g & -g) - 1)
      val viaJdk = if (g == 0L) 64 else java.lang.Long.numberOfTrailingZeros(g)
      viaTrick == viaJdk
    }

  property("CUSUM closed form P_t - min(0, min prefix) equals the max(0, S + d) recurrence") =
    forAll(Gen.listOf(Gen.chooseNum(-1000L, 1000L))) { ds =>
      var st = 0L
      val rec = ds.map { d => st = math.max(0L, st + d); st }
      var p = 0L
      var m = 0L
      val closed = ds.map { d => p += d; m = math.min(m, p); p - m }
      rec == closed
    }

  private val nfcChar: Gen[String] = Gen.oneOf(
    "a", "e", "n", "z", " ", "\u0301", "\u0303", "\u00e9", "\u00f1")
  private val nfcText: Gen[String] = Gen.listOf(nfcChar).map(_.mkString)

  property("NfcKernel fast paths never diverge from the JDK Normalizer; NFC idempotent") =
    forAll(nfcText) { t =>
      import graft.functions.expressions.NfcKernel
      val got = NfcKernel.nfc(UTF8String.fromString(t)).toString
      val jdk = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
      got == jdk &&
        NfcKernel.nfc(UTF8String.fromString(got)).toString == got
    }

  private val embedding: Gen[Array[Float]] =
    Gen.choose(1, 128).flatMap(n => Gen.listOfN(n, Gen.choose(-10f, 10f)))
      .map(_.toArray).suchThat(_.exists(_ != 0f))

  // DuckDB's list_cosine_similarity clamps to [-1, 1]; an unclamped fold
  // gives cos(v, v) = 1.0000000000000002 on many vectors
  property("graft_cosine: cos(v, v) <= 1 and cos(v, -v) >= -1, interpreted and compiled") =
    forAll(embedding) { v =>
      val arg = (i: Int) => BoundReference(i, ArrayType(FloatType, containsNull = false), false)
      val e = CosineSimilarity(arg(0), arg(1))
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      Seq(v, v.map(-_)).forall { w =>
        val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(v),
          UnsafeArrayData.fromPrimitiveArray(w))
        val got = e.eval(row).asInstanceOf[Double]
        got >= -1.0 && got <= 1.0 && compiled(row).getDouble(0) == got
      }
    }
}
