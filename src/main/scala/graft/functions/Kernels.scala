package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hash/vector hot paths.
  *
  * The pure-`Column` formulations of simhash / minhash / cosine (nested
  * `transform`/`aggregate` higher-order functions) are interpreted
  * per-element per-lambda — at sf0.1 that made simhash ~50 ms/doc. These
  * expressions compute the same math in tight JVM loops via `doGenCode`,
  * so they stay inside whole-stage codegen (no UDF SerDe boundary) and
  * scale linearly with data size on a cluster.
  *
  * Semantics are bit-identical to the `Column` versions they replace
  * (same fold order, same integer arithmetic mod P), so DuckDB oracles
  * and cross-release document-identity hashes are unchanged.
  */
object Kernels {

  import org.apache.spark.sql.graft.ColumnBridge.{toColumn, toExpression}

  def shingles(text: Column, n: Int): Column = toColumn(ShinglesK(toExpression(text), n))
  def shingleHashes(text: Column, n: Int): Column = toColumn(ShingleHashesK(toExpression(text), n))
  def featureHash(text: Column, dim: Int, n: Int): Column = toColumn(FeatureHashK(toExpression(text), dim, n))
  def simhash32(shingles: Column): Column = toColumn(SimHash32K(toExpression(shingles)))

  /** rolling hash over RAW BYTES: fold(bytes, 7, (h,b) => (h*31 + b)
    * mod P) — the binary-column counterpart of
    * [[TextFunctions.charHash]] (which folds decoded characters and
    * would U+FFFD-mangle real media bytes). Mirrors
    * [[graft.operators.Multimodal.StubCodec]]'s fold and the
    * mm_pixel_stats oracle's SQL byte fold exactly.
    */
  def byteFoldHash(bin: Column): Column = toColumn(ByteFoldHashK(toExpression(bin)))
  def utf8Invalid(bin: Column): Column = toColumn(Utf8InvalidK(toExpression(bin)))
  def canonUrl(url: Column): Column = toColumn(CanonUrlK(toExpression(url)))
  def surtKey(url: Column): Column = toColumn(SurtKeyK(toExpression(url)))
  def highBytes(bin: Column): Column = toColumn(HighBytesK(toExpression(bin)))
  def nulBytes(bin: Column): Column = toColumn(NulBytesK(toExpression(bin)))
  def simhash63(shingles: Column): Column = toColumn(SimHash63K(toExpression(shingles)))
  def minhashSig(shingles: Column, k: Int): Column = toColumn(MinHashSigK(toExpression(shingles), k))
  def robotsAllowed(robots: Column, agent: Column, path: Column): Column =
    toColumn(RobotsAllowedK(toExpression(robots), toExpression(agent), toExpression(path)))
  def vecDot(a: Column, b: Column): Column = toColumn(VecDotK(toExpression(a), toExpression(b)))
  def vecNorm2(a: Column): Column = toColumn(VecNorm2K(toExpression(a)))
  def vecDotLong(a: Column, b: Column): Column = toColumn(VecDotLongK(toExpression(a), toExpression(b)))
  def hammingDist(a: Column, b: Column): Column = toColumn(HammingDistK(toExpression(a), toExpression(b)))
  def lshSig(vec: Column, planes: Int): Column = toColumn(LshSigK(toExpression(vec), planes))
  def cosineGte(num: Column, na: Column, nb: Column, tNum: Int, tDen: Int): Column =
    toColumn(CosineGteK(toExpression(num), toExpression(na), toExpression(nb), tNum, tDen))
  def ivfAssign(vec: Column, cents: Array[Array[Float]]): Column =
    toColumn(IvfAssignK(toExpression(vec), cents))
  def bloomMightContain(s: Column, sketchBytes: Array[Byte]): Column =
    toColumn(BloomMightContainK(toExpression(s), new BloomSketch(sketchBytes)))
  def ivfScores(vec: Column, cents: Array[Array[Float]]): Column =
    toColumn(IvfScoresK(toExpression(vec), cents))
  def cdcChunkStructs(text: Column, avgWords: Int): Column =
    toColumn(CdcChunksK(toExpression(text), avgWords))
  def fingerprint(text: Column): Column = toColumn(FingerprintK(toExpression(text)))

  /** polynomial modulus shared with [[TextFunctions.P]]. */
  val P = 1000000007L

  /** second, independent modulus for the packed 64-bit shingle key. */
  val P2 = 1000000009L

  /** word n-gram shingles: split on single spaces (trailing empties
    * kept, as Spark's `split(text, " ")` does), then each window of n
    * words joined with " ". Fewer than n words → empty array.
    */
  def shinglesEval(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var o = 0
      while (o < n) {
        if (o > 0) sb.append(' ')
        sb.append(words(i + o))
        o += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** packed double hash of each word n-gram shingle, WITHOUT
    * materializing the shingle strings: key = h1·P2 + h2 where h1 is
    * [[charHash]] (base 31, seed 7, mod P) and h2 an independent
    * polynomial (base 37, seed 11, mod P2) over the same characters
    * (space joiner folded in). Packing two ~30-bit residues gives a
    * genuinely ~60-bit key (max (P−1)·P2 + P2−1 ≈ 1.0e18 < 2⁶³): a
    * single mod-P hash has only ~2³⁰ values, so at corpus scale (≥1e8
    * distinct shingles) unrelated posting lists merge by birthday
    * collision, inflating pair intersections and perturbing the
    * frequency cap — with the packed key, a collision needs both
    * residues equal (~2⁻⁶⁰ per pair). 8-byte keys instead of n-gram
    * strings still cut the inverted-index shuffle of
    * [[graft.operators.Dedup.ngramJaccardPairs]] several-fold; an
    * oracle reproduces the result exactly by applying the same two
    * folds and packing.
    */
  def shingleHashesEval(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - n + 1)
    var i = 0
    while (i < out.length) {
      var h1 = 7L
      var h2 = 11L
      var o = 0
      while (o < n) {
        if (o > 0) {
          h1 = (h1 * 31 + ' '.toLong) % P
          h2 = (h2 * 37 + ' '.toLong) % P2
        }
        val w = words(i + o)
        var j = 0
        while (j < w.length) {
          val c = w.charAt(j).toLong
          h1 = (h1 * 31 + c) % P
          h2 = (h2 * 37 + c) % P2
          j += 1
        }
        o += 1
      }
      out(i) = h1 * P2 + h2
      i += 1
    }
    new GenericArrayData(out)
  }

  /** fold(chars, 7, (h,c) => (h*31 + c) mod P) — matches
    * [[TextFunctions.charHash]] for the BMP text the pipeline carries.
    */
  def charHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 7L
    var i = 0
    while (i < str.length) { h = (h * 31 + str.charAt(i).toLong) % P; i += 1 }
    h
  }

  /** bit j set iff Σ_tokens (2·bit_j(charHash(tok)) − 1) > 0; one pass,
    * 32 counters. Empty array → 0 (all bit sums are 0, never > 0).
    */
  def simhash32Eval(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = charHash(arr.getUTF8String(i))
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sh = 0L
    var j = 0
    while (j < 32) { if (counts(j) > 0) sh |= (1L << j); j += 1 }
    sh
  }

  /** 63-bit simhash — the SCALE fingerprint. simhash32's 4×8-bit
    * blocking saturates: bucket occupancy grows linearly with corpus
    * size (only 256 values per block), so blocked-join candidates grow
    * quadratically — measured 15× runtime at 8× corpus. 63 bits give
    * 4 blocks of 16/16/16/15 bits (same hamming ≤ 3 pigeonhole),
    * 256× sparser buckets. Bit j's per-shingle sign comes from the
    * affine family ((37+101j)·h + 7+139j) mod P being in the lower
    * half of [0,P) — near-unbiased for every j (the raw charHash has
    * only ~30 usable bits, so shifting it, as the 32-bit variant does,
    * skews high bits) and exactly reproducible in SQL. Empty input →
    * 0.
    */
  def simhash63Eval(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](63)
    var i = 0
    while (i < n) {
      val h = charHash(arr.getUTF8String(i))
      var j = 0
      while (j < 63) {
        val v = ((37L + 101L * j) * h + 7L + 139L * j) % P
        if (v * 2 < P) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var sh = 0L
    var j = 0
    while (j < 63) { if (counts(j) > 0) sh |= (1L << j); j += 1 }
    sh
  }

  /** sig[i] = min over shingles s of ((37+101·i)·charHash(s) + 7+139·i) mod P.
    * min is multiset-invariant, so the `array_distinct` of the Column
    * formulation is unnecessary. Empty input → k nulls (= array_min of
    * an empty transform).
    */
  def minhashSigEval(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](k)(null))
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = charHash(arr.getUTF8String(i))
      var j = 0
      while (j < k) {
        val v = ((37L + 101L * j) * h + 7L + 139L * j) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box(_): Any))
  }

  /** left-to-right double-fold dot product — same FP order as
    * aggregate(zip_with(...)), so scores are engine-reproducible.
    */
  def vecDotEval(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def vecNorm2Eval(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    s
  }

  /** int64 dot over two long arrays — BIT-IDENTICAL to the HOF form
    * `aggregate(zip_with(a, b, (x, y) => x * y), 0L, (s, x) => s + x)`
    * it replaces in the quantized scoring loops (spec-pinned): same
    * left-to-right order, and the HOF's null semantics reproduced
    * exactly — zip_with pads the shorter array with nulls and the
    * aggregate lambda turns the first null into a null result, so
    * unequal lengths (or a null element) yield NULL here too, never a
    * partial sum. Overflow FAILS LOUD (multiplyExact/addExact — JIT
    * intrinsics, no measurable cost) exactly like the ANSI-mode
    * arithmetic this engine runs everywhere; int8 codes can't reach
    * it (127²·dim ≪ 2⁶³) but a silent wrapped score would be worse
    * than the ANSI error.
    */
  def vecDotLongEval(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na != nb) return null
    var s = 0L
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s = Math.addExact(s, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    s
  }

  /** packed-signature hamming distance — BIT-IDENTICAL to
    * `aggregate(zip_with(a, b, (x, y) => bit_count(x ^ y) AS LONG),
    * 0L, (s, x) => s + x)` (spec-pinned), including the HOF's
    * null-on-length-mismatch / null-element semantics.
    */
  def hammingDistEval(a: ArrayData, b: ArrayData): java.lang.Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na != nb) return null
    var s = 0L
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)).toLong
      i += 1
    }
    s
  }

  /** index of the max-dot centroid (ties → lowest index). One loop over
    * the whole centroid matrix per row instead of nList inline dot
    * expressions — at production nList (thousands) the inline form blows
    * up codegen, the matrix loop doesn't. Fold order per centroid is the
    * same left-to-right double fold as [[vecDotEval]], so assignments
    * are engine-reproducible.
    */
  def ivfAssignEval(vec: ArrayData, cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(vec.numElements(), c.length)
      var s = 0.0
      var d = 0
      while (d < n) { s += vec.getFloat(d).toDouble * c(d).toDouble; d += 1 }
      if (s > bestS) { bestS = s; best = i }
      i += 1
    }
    best
  }

  /** dot of the vector against every centroid row (same fold as
    * [[vecDotEval]]); used to rank probe lists per query.
    */
  def ivfScoresEval(vec: ArrayData, cents: Array[Array[Float]]): ArrayData = {
    val out = new Array[Any](cents.length)
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(vec.numElements(), c.length)
      var s = 0.0
      var d = 0
      while (d < n) { s += vec.getFloat(d).toDouble * c(d).toDouble; d += 1 }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** eval for [[CdcChunksK]] — the whole CDC chunk walk of
    * [[graft.operators.Chunking.cdcChunks]] in one JVM pass per row,
    * replacing a 6-deep interpreted higher-order-function chain
    * (split → shingle hashes → xorshift-mix transform → cut filter →
    * zip_with slice/join → per-chunk fingerprint) that dominated the
    * chunker's single-task scan. Semantics are BIT-IDENTICAL (parity-
    * pinned in ChunkingKernelSpec, oracle-pinned by dd_cdc_dedup /
    * ta_cdc_chunk at 3 SFs):
    *
    *  - words: split on single spaces, empties dropped; no words →
    *    empty array (the caller's posexplode then emits no chunks);
    *  - gear: packed dual-residue hash of each word 3-gram
    *    ([[shingleHashesEval]]' loop verbatim), diffused through the
    *    33/17/7 xorshift, cut AFTER 1-based word i ≥ 3 when
    *    mix ≡ avgWords−1 (mod avgWords);
    *  - chunks: [start, end] word spans from the cut list (a trailing
    *    cut at the last word yields an empty start>end span — skipped);
    *  - chunk_fp: fold(words, 7, (h,w) => (h·131 + charHash(w)) mod P)
    *    with charHash folding CODE POINTS (the `split(s,"")`+`ascii`
    *    column path this replaces splits per code point).
    */
  def cdcChunksEval(text: UTF8String, avgWords: Int): ArrayData = {
    val all = text.toString.split(" ", -1)
    var nw = 0
    var i = 0
    while (i < all.length) { if (all(i).nonEmpty) nw += 1; i += 1 }
    if (nw == 0) return new GenericArrayData(Array.empty[Any])
    val ws = new Array[String](nw)
    var o = 0
    i = 0
    while (i < all.length) { if (all(i).nonEmpty) { ws(o) = all(i); o += 1 }; i += 1 }
    val d = avgWords.toLong
    // cut positions (1-based word index the chunk ENDS at)
    val cuts = new java.util.ArrayList[Int]()
    if (nw >= 3) {
      var j = 0
      while (j + 2 < nw) {
        // packed 3-gram hash — the shingleHashesEval fold, space joiner
        // included (the operator hashes the re-joined word stream)
        var h1 = 7L
        var h2 = 11L
        var g = 0
        while (g < 3) {
          if (g > 0) {
            h1 = (h1 * 31 + ' '.toLong) % P
            h2 = (h2 * 37 + ' '.toLong) % P2
          }
          val w = ws(j + g)
          var k = 0
          while (k < w.length) {
            val c = w.charAt(k).toLong
            h1 = (h1 * 31 + c) % P
            h2 = (h2 * 37 + c) % P2
            k += 1
          }
          g += 1
        }
        var h = h1 * P2 + h2
        // 33/17/7 xorshift diffusion (arithmetic shifts — h ≥ 0)
        h = h ^ (h >> 33)
        h = h ^ (h >> 17)
        h = h ^ (h >> 7)
        if (h % d == d - 1L) cuts.add(j + 3)
        j += 1
      }
    }
    // spans: starts = 1 :: cuts+1, ends = cuts :+ nw; keep start <= end
    val out = new java.util.ArrayList[Any](cuts.size() + 1)
    val sb = new java.lang.StringBuilder
    var s = 1
    var ci = 0
    while (ci <= cuts.size()) {
      val e = if (ci < cuts.size()) cuts.get(ci) else nw
      if (s <= e) {
        sb.setLength(0)
        var fp = 7L
        var w = s - 1
        while (w < e) {
          if (w > s - 1) sb.append(' ')
          sb.append(ws(w))
          // charHash over code points, then the word fold
          var ch = 7L
          val str = ws(w)
          var k = 0
          while (k < str.length) {
            val cp = str.codePointAt(k)
            ch = (ch * 31 + cp) % P
            k += Character.charCount(cp)
          }
          fp = (fp * 131 + ch) % P
          w += 1
        }
        out.add(org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(sb.toString), (e - s + 1).toLong, fp))
      }
      s = e + 1
      ci += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** eval for [[FingerprintK]] — the document fingerprint
    * fold(words, 7, (h,w) => (h·131 + charHash(w)) mod P) in one JVM
    * pass, replacing the interpreted aggregate(transform(split…))
    * column chain (a lambda eval per CHARACTER). Bit-identical to the
    * column form (parity-pinned in KernelsSpec; the ta_fingerprint /
    * dd_exact_normalized oracles re-derive it externally):
    * words = split on single spaces with EMPTIES KEPT (charHash("") is
    * the seed 7, exactly like the column fold), charHash folds CODE
    * POINTS (the `split(s,"")`+`ascii` path).
    */
  def fingerprintEval(text: UTF8String): Long = {
    val s = text.toString
    var fp = 7L
    var wh = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == ' ') {
        fp = (fp * 131 + wh) % P
        wh = 7L
      } else wh = (wh * 31 + cp) % P
      i += Character.charCount(cp)
    }
    (fp * 131 + wh) % P
  }

  /** eval for [[ByteFoldHashK]]: fold(bytes, 7, (h,b) => (h*31+b) mod P). */
  def byteFoldHashEval(b: Array[Byte]): Long = {
    var acc = 7L
    var i = 0
    while (i < b.length) { acc = (acc * 31 + (b(i) & 0xff)) % P; i += 1 }
    acc
  }

  /** eval for [[Utf8InvalidK]]: strict UTF-8 scan, returning the
    * number of bytes that START no valid sequence. A sequence is valid
    * only under the RFC 3629 shortest-form table — overlongs (C0/C1,
    * E0 80-9F, F0 80-8F), UTF-16 surrogates (ED A0-BF), code points
    * past U+10FFFF (F4 90+, F5-FF) and truncated tails all reject.
    * On reject the scan counts ONE invalid byte (the sequence start)
    * and resynchronizes at the next byte, so a lone continuation byte
    * also counts exactly once — a deterministic rule the oracle
    * replays byte-for-byte in SQL.
    */
  def utf8InvalidEval(b: Array[Byte]): Int = {
    val n = b.length
    var i = 0
    var inv = 0
    @inline def cont(j: Int): Boolean = j < n && (b(j) & 0xC0) == 0x80
    @inline def in(j: Int, lo: Int, hi: Int): Boolean =
      j < n && { val v = b(j) & 0xff; v >= lo && v <= hi }
    while (i < n) {
      val b0 = b(i) & 0xff
      if (b0 < 0x80) i += 1
      else if (b0 >= 0xC2 && b0 <= 0xDF) {
        if (cont(i + 1)) i += 2 else { inv += 1; i += 1 }
      } else if (b0 == 0xE0) {
        if (in(i + 1, 0xA0, 0xBF) && cont(i + 2)) i += 3 else { inv += 1; i += 1 }
      } else if (b0 == 0xED) {
        if (in(i + 1, 0x80, 0x9F) && cont(i + 2)) i += 3 else { inv += 1; i += 1 }
      } else if (b0 >= 0xE1 && b0 <= 0xEF) { // E1-EC, EE, EF
        if (cont(i + 1) && cont(i + 2)) i += 3 else { inv += 1; i += 1 }
      } else if (b0 == 0xF0) {
        if (in(i + 1, 0x90, 0xBF) && cont(i + 2) && cont(i + 3)) i += 4 else { inv += 1; i += 1 }
      } else if (b0 >= 0xF1 && b0 <= 0xF3) {
        if (cont(i + 1) && cont(i + 2) && cont(i + 3)) i += 4 else { inv += 1; i += 1 }
      } else if (b0 == 0xF4) {
        if (in(i + 1, 0x80, 0x8F) && cont(i + 2) && cont(i + 3)) i += 4 else { inv += 1; i += 1 }
      } else { // 80-BF lone continuation, C0/C1 overlong leads, F5-FF
        inv += 1; i += 1
      }
    }
    inv
  }

  /** eval for [[HighBytesK]]: bytes with the top bit set. */
  def highBytesEval(b: Array[Byte]): Int = {
    var i = 0
    var c = 0
    while (i < b.length) { if ((b(i) & 0x80) != 0) c += 1; i += 1 }
    c
  }

  /** eval for [[NulBytesK]]: 0x00 bytes — the binary-content signal
    * [[graft.functions.TextFunctions.detectEncoding]] uses to separate
    * real binary payloads (JPEG/zip/ELF, where NULs are ubiquitous)
    * from latin-1 text (where a NUL never legitimately occurs). */
  def nulBytesEval(b: Array[Byte]): Int = {
    var i = 0
    var c = 0
    while (i < b.length) { if (b(i) == 0) c += 1; i += 1 }
    c
  }

  /** RFC 3986 §6.2.2 percent-encoding normalization — the escape
    * rules of URL canonicalization that no regexp chain can express
    * (the replacement depends on the DECODED byte value):
    *
    *  - an escape of an UNRESERVED character (`%41`→`A`, `%7E`→`~`;
    *    ALPHA / DIGIT / `-` `.` `_` `~`, §6.2.2.2) decodes — the two
    *    spellings are equivalent by definition, so they must key
    *    identically
    *  - every other valid escape keeps its bytes but uppercases the
    *    hex digits (`%3a`→`%3A`, §6.2.2.1) — reserved characters are
    *    NEVER decoded (decoding `%2F` would manufacture a path
    *    delimiter that was data)
    *  - a malformed escape (`%` not followed by two hex digits) is
    *    left untouched — normalization must not corrupt sloppy but
    *    live URLs
    *
    * Non-ASCII characters pass through (escape syntax is ASCII-only).
    */
  def percentNormEval(u: UTF8String): UTF8String = {
    val s = u.toString
    val n = s.length
    var i = s.indexOf('%')
    if (i < 0) return u // fast path: nothing to normalize
    val sb = new java.lang.StringBuilder(n)
    sb.append(s, 0, i)
    while (i < n) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < n) {
        val h1 = Character.digit(s.charAt(i + 1), 16)
        val h2 = Character.digit(s.charAt(i + 2), 16)
        if (h1 >= 0 && h2 >= 0) {
          val v = (h1 << 4) | h2
          val unreserved = (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
            (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'
          if (unreserved) sb.append(v.toChar)
          else sb.append('%').append(Character.toUpperCase(s.charAt(i + 1)))
            .append(Character.toUpperCase(s.charAt(i + 2)))
          i += 3
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }

  private val TrackingParamPattern =
    java.util.regex.Pattern.compile(graft.functions.WebFunctions.TrackingParamRe)

  /** [[graft.functions.WebFunctions.canonicalizeUrl]]'s contract as
    * ONE tight JVM pass. The pure-Column formulation re-embeds the
    * url subtree ~25× (every `when` branch duplicates the
    * scheme/host/port/path extraction chains), which is not just
    * slow per row — the EXPRESSION TREE itself becomes tens of
    * thousands of nodes, and any plan that nests it under cached
    * relations (the link-rank iteration frames) pays seconds of
    * driver-side analysis/canonicalization per query. One expression
    * node ends both costs. Semantics are bound by `ta_url_canon`'s
    * eight oracle arms, `dd_url_dedup`, `ta_warc_extract`, and the
    * WebFunctionsSpec corner suites — this eval replicates the regex
    * chain rule-for-rule (first-`@` userinfo drop, bracket-whole
    * IPv6, digit-suffix port, first-`?` query split, bytewise param
    * sort, anchored tracking-param test). A non-bracket authority
    * with more than one colon (`http://h:1:2/`) is RFC-invalid and
    * passes through WHOLE — the malformed-escape discipline — rather
    * than splicing host from the first colon and port from the
    * last. */
  def canonUrlEval(u0: UTF8String): UTF8String = {
    val t = u0.toString.trim
    // scheme: [A-Za-z][A-Za-z0-9+.-]* then "://", else passthrough
    var i = 0
    val n = t.length
    if (n == 0 || !((t.charAt(0) >= 'A' && t.charAt(0) <= 'Z') ||
      (t.charAt(0) >= 'a' && t.charAt(0) <= 'z'))) return UTF8String.fromString(t)
    i = 1
    def schemeChar(c: Char): Boolean =
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        c == '+' || c == '.' || c == '-'
    while (i < n && schemeChar(t.charAt(i))) i += 1
    if (!t.startsWith("://", i)) return UTF8String.fromString(t)
    // percent-normalize the WHOLE url before any splitting
    val s = percentNormEval(UTF8String.fromString(t)).toString
    val scheme = s.substring(0, i).toLowerCase(java.util.Locale.ROOT)
    // rest = after "://", fragment dropped
    val afterScheme = i + 3
    val hashAt = s.indexOf('#', afterScheme)
    val rest = if (hashAt >= 0) s.substring(afterScheme, hashAt) else s.substring(afterScheme)
    // authority = rest up to the first '/' or '?'
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' && rest.charAt(aEnd) != '?') aEnd += 1
    val auth0 = rest.substring(0, aEnd)
    // userinfo: drop through the FIRST '@'
    val atAt = auth0.indexOf('@')
    val hostPort = (if (atAt >= 0) auth0.substring(atAt + 1) else auth0)
      .toLowerCase(java.util.Locale.ROOT)
    // IPv6 bracket literal stays whole; port only after the bracket
    var host = ""
    var port = ""
    if (hostPort.startsWith("[") && hostPort.indexOf(']') >= 0) {
      val close = hostPort.indexOf(']')
      host = hostPort.substring(0, close + 1)
      val tail = hostPort.substring(close + 1)
      if (tail.length > 1 && tail.charAt(0) == ':' &&
        tail.substring(1).forall(c => c >= '0' && c <= '9')) port = tail.substring(1)
    } else {
      val colon = hostPort.indexOf(':')
      // an RFC-invalid authority (>1 colon outside a bracket literal,
      // e.g. `http://h:1:2/`) passes through WHOLE like other
      // malformed inputs — the old first-colon-host / last-colon-port
      // splice silently dropped the middle token
      if (colon >= 0 && hostPort.indexOf(':', colon + 1) >= 0)
        return UTF8String.fromString(t)
      val bare = if (colon >= 0) hostPort.substring(0, colon) else hostPort
      host = if (bare.startsWith("www.")) bare.substring(4) else bare
      // IDN fold: a unicode host maps to its punycode form (RFC 3490
      // ToASCII via the JDK's IDNA tables), so unicode and punycode
      // spellings of the same host key identically; a host the
      // mapping rejects (overlong label, empty label) passes through
      // untouched — the malformed-escape discipline. ASCII hosts
      // (already-punycode included) skip the call entirely.
      if (host.exists(_ > 127))
        try host = java.net.IDN.toASCII(host).toLowerCase(java.util.Locale.ROOT)
        catch { case _: IllegalArgumentException => () }
      // :(\d+)$ — digits to the END after the LAST colon
      val lastColon = hostPort.lastIndexOf(':')
      if (lastColon >= 0 && lastColon + 1 < hostPort.length &&
        hostPort.substring(lastColon + 1).forall(c => c >= '0' && c <= '9'))
        port = hostPort.substring(lastColon + 1)
    }
    val portPart =
      if (port.isEmpty || (scheme == "http" && port == "80") ||
        (scheme == "https" && port == "443")) ""
      else ":" + port
    // path: from the first '/' (if it precedes any '?') to the first '?'
    val qAt = rest.indexOf('?')
    val rawPath =
      if (aEnd < rest.length && rest.charAt(aEnd) == '/')
        rest.substring(aEnd, if (qAt >= 0) qAt else rest.length)
      else ""
    var pEnd = rawPath.length
    while (pEnd > 0 && rawPath.charAt(pEnd - 1) == '/') pEnd -= 1
    val path = if (pEnd == 0) "/" else rawPath.substring(0, pEnd)
    // query: after the FIRST '?'; empties and tracking params drop,
    // the rest sort BYTEWISE (UTF8String order, = Spark array_sort)
    var queryPart = ""
    if (qAt >= 0) {
      val kept = s.substring(afterScheme + qAt + 1,
          if (hashAt >= 0) hashAt else s.length)
        .split("&", -1)
        .filter(p => p.nonEmpty && !TrackingParamPattern.matcher(p).find())
        .map(UTF8String.fromString)
      java.util.Arrays.sort(kept, (a: UTF8String, b: UTF8String) => a.compareTo(b))
      if (kept.nonEmpty) queryPart = "?" + kept.mkString("&")
    }
    UTF8String.fromString(scheme + "://" + host + portPart + path + queryPart)
  }

  /** SURT key (Sort-friendly URI Reordering Transform — the CDX
    * archive-index `urlkey` convention): [[canonUrlEval]] first, then
    * the scheme drops and the host labels REVERSE (comma-joined), so
    * keys sort and prefix-group by registrable domain —
    * `http://news.site3.com/p/5?b=2&a=1` →
    * `com,site3,news)/p/5?a=1&b=2`. One host's (and one domain
    * family's) pages are CONTIGUOUS under range partitioning/sorting,
    * which is why real archive indexes key on SURT rather than the
    * raw URL. Non-default ports keep (`com,site3:8080)/…`); IPv6
    * bracket hosts are positional, not hierarchical — they stay
    * whole; non-absolute inputs pass through (trimmed) like
    * canonicalization's passthrough — a relative link is not an
    * index key. */
  def surtKeyEval(u: UTF8String): UTF8String = {
    val c = canonUrlEval(u).toString
    val sep = c.indexOf("://")
    if (sep <= 0) return UTF8String.fromString(c)
    // only rewrite when the prefix really is a scheme (the same gate
    // canonUrlEval applies): a passthrough containing "://" at a
    // non-scheme position must stay untouched
    val c0 = c.charAt(0)
    if (!((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')))
      return UTF8String.fromString(c)
    var i = 1
    while (i < sep && ((c.charAt(i) >= 'A' && c.charAt(i) <= 'Z') ||
      (c.charAt(i) >= 'a' && c.charAt(i) <= 'z') ||
      (c.charAt(i) >= '0' && c.charAt(i) <= '9') ||
      c.charAt(i) == '+' || c.charAt(i) == '.' || c.charAt(i) == '-')) i += 1
    if (i != sep) return UTF8String.fromString(c)
    val afterScheme = sep + 3
    var aEnd = afterScheme
    while (aEnd < c.length && c.charAt(aEnd) != '/' && c.charAt(aEnd) != '?') aEnd += 1
    val auth = c.substring(afterScheme, aEnd)
    val rest = c.substring(aEnd)
    var host = auth
    var port = ""
    if (auth.startsWith("[")) {
      val close = auth.indexOf(']')
      if (close >= 0) { host = auth.substring(0, close + 1); port = auth.substring(close + 1) }
    } else {
      val colon = auth.indexOf(':')
      if (colon >= 0) { host = auth.substring(0, colon); port = auth.substring(colon) }
    }
    val key =
      if (host.startsWith("[")) host
      else host.split('.').filter(_.nonEmpty).reverse.mkString(",")
    UTF8String.fromString(key + port + ")" + rest)
  }

  /** plain-bytes mirror of
    * [[graft.functions.TextFunctions.detectEncoding]]'s Column chain
    * (same BOM-before-NUL-before-scanner ladder over the same three
    * byte scanners) — the routing decision for JVM-side body decode
    * in [[graft.operators.Multimodal.warcResponses]]. `CharsetSpec`
    * cross-checks the two paths label-for-label. */
  def detectCharsetEval(b: Array[Byte]): String = {
    def at(i: Int, v: Int): Boolean = i < b.length && (b(i) & 0xff) == v
    if (at(0, 0xEF) && at(1, 0xBB) && at(2, 0xBF)) "utf-8-bom"
    else if (at(0, 0xFF) && at(1, 0xFE) && at(2, 0x00) && at(3, 0x00)) "utf-32le"
    else if (at(0, 0x00) && at(1, 0x00) && at(2, 0xFE) && at(3, 0xFF)) "utf-32be"
    else if (at(0, 0xFF) && at(1, 0xFE)) "utf-16le"
    else if (at(0, 0xFE) && at(1, 0xFF)) "utf-16be"
    else if (nulBytesEval(b) > 0) "binary"
    else {
      val inv = utf8InvalidEval(b) // one scan, not one per ladder rung
      if (inv == 0 && highBytesEval(b) > 0) "utf-8"
      else if (inv == 0) "ascii"
      else "latin-1"
    }
  }

  /** Decode bytes to text under [[detectCharsetEval]]'s label: BOMs
    * consumed, latin-1 as the terminal single-byte fallback, and
    * `binary` content yields NO text (a blob is not a mojibake
    * string). Malformed units under the chosen charset are replaced,
    * never thrown (JDK decoder REPLACE semantics). */
  def decodeTextEval(b: Array[Byte]): Option[String] =
    decodeTextEval(b, detectCharsetEval(b))

  /** [[decodeTextEval]] with the label already detected — callers
    * that also expose the label (warcResponses' charset column)
    * detect ONCE instead of twice per body. */
  def decodeTextEval(b: Array[Byte], label: String): Option[String] = {
    import java.nio.charset.{Charset, StandardCharsets => SC}
    label match {
      case "binary" => None
      case "utf-8-bom" => Some(new String(b, 3, b.length - 3, SC.UTF_8))
      case "utf-16le" => Some(new String(b, 2, b.length - 2, SC.UTF_16LE))
      case "utf-16be" => Some(new String(b, 2, b.length - 2, SC.UTF_16BE))
      case "utf-32le" => Some(new String(b, 4, b.length - 4, Charset.forName("UTF-32LE")))
      case "utf-32be" => Some(new String(b, 4, b.length - 4, Charset.forName("UTF-32BE")))
      case "latin-1" => Some(new String(b, SC.ISO_8859_1))
      case _ => Some(new String(b, SC.UTF_8)) // utf-8 / ascii
    }
  }

  /** signed-count feature-hash vector ("hashing trick"): one tight
    * pass over the word n-gram hashes into a dim-length bucket
    * accumulator — index = key mod dim (dim a power of two), sign =
    * bit log₂dim of the key. Bit-identical to Topics.featureHash's
    * per-index HOF formulation, which was O(dim·grams) interpreted
    * lambda evals per row (measured ~10 ms/doc at dim=256 — the
    * classifier's feature pass cost 50 s at sf0.1); this is
    * O(grams + dim) unboxed.
    */
  def featureHashEval(text: UTF8String, dim: Int, n: Int): ArrayData = {
    val hs = shingleHashesEval(text, n)
    val bit = java.lang.Integer.numberOfTrailingZeros(dim)
    val acc = new Array[Long](dim)
    val m = hs.numElements()
    var i = 0
    while (i < m) {
      val h = hs.getLong(i)
      acc((h & (dim - 1L)).toInt) += (if (((h >> bit) & 1L) == 0L) 1L else -1L)
      i += 1
    }
    val out = new Array[Any](dim)
    i = 0
    while (i < dim) { out(i) = acc(i).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  /** exact integer cosine-threshold compare num²·tDen² ≥ na·nb·tNum²
    * in BigInteger — no decimal-precision cliff at ANY int64 magnitude
    * (a decimal(15/19,0) formulation silently nulls-and-drops pairs
    * once a squared norm passes ~1e15). Not the hot path: runs once
    * per candidate pair after aggregation.
    */
  /** RFC 9309 allow decision ([[graft.operators.Robots]]) — parse is
    * memoized per thread keyed on the UTF8String body (memcmp, no
    * per-row String copy of a possibly-512 KiB robots file), so after
    * a broadcast join the per-row cost is one body memcmp + the rule
    * prefix tests. */
  def robotsAllowedEval(robots: UTF8String, agent: UTF8String, path: UTF8String): Boolean =
    graft.operators.Robots.isAllowedCachedU(robots, agent.toString, path.toString)

  def cosineGteEval(num: Long, na: Long, nb: Long, tNum: Int, tDen: Int): Boolean = {
    import java.math.BigInteger
    val lhs = BigInteger.valueOf(num).pow(2)
      .multiply(BigInteger.valueOf(tDen.toLong * tDen))
    val rhs = BigInteger.valueOf(na).multiply(BigInteger.valueOf(nb))
      .multiply(BigInteger.valueOf(tNum.toLong * tNum))
    lhs.compareTo(rhs) >= 0
  }

  /** bit p set iff Σ_d sign(p,d)·v_d > 0 with the deterministic ±1
    * hyperplane family of [[graft.operators.Similarity]]:
    * sign(p,d) = +1 iff ((1103515245·p+12345)·(d+1) + 2654435761) mod 2147483647 is even.
    */
  def lshSigEval(vec: ArrayData, planes: Int): Long = {
    val n = vec.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      val a = 1103515245L * p + 12345L
      var s = 0.0
      var d = 0
      while (d < n) {
        val x = (a * (d + 1) + 2654435761L) % 2147483647L
        val sign = if (x % 2L == 0L) 1.0 else -1.0
        s += vec.getFloat(d).toDouble * sign
        d += 1
      }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }
}

case class ShinglesK(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any = Kernels.shinglesEval(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shinglesEval($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShinglesK = copy(child = newChild)
  override def prettyName: String = "graft_shingles"
}

case class ShingleHashesK(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any = Kernels.shingleHashesEval(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingleHashesEval($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesK = copy(child = newChild)
  override def prettyName: String = "graft_shingle_hashes"
}

case class CdcChunksK(child: Expression, avgWords: Int) extends UnaryExpression {
  require(avgWords >= 2, s"graft_cdc_chunks: avgWords must be >= 2, got $avgWords")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("chunk_text", StringType, nullable = false),
      StructField("n_words", LongType, nullable = false),
      StructField("chunk_fp", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.cdcChunksEval(input.asInstanceOf[UTF8String], avgWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.cdcChunksEval($c, $avgWords)")
  override protected def withNewChildInternal(newChild: Expression): CdcChunksK = copy(child = newChild)
  override def prettyName: String = "graft_cdc_chunks"
}

case class FingerprintK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Kernels.fingerprintEval(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.fingerprintEval($c)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintK = copy(child = newChild)
  override def prettyName: String = "graft_fingerprint"
}

case class FeatureHashK(child: Expression, dim: Int, n: Int) extends UnaryExpression {
  // the kernel's bucket mask (h & dim-1) and sign bit (trailing-zero
  // count) are only meaningful for a power-of-two dim — reject wrong
  // buckets/signs at construction, not silently per row
  require(dim > 0 && (dim & (dim - 1)) == 0,
    s"graft_feature_hash: dim must be a power of two, got $dim")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    Kernels.featureHashEval(input.asInstanceOf[UTF8String], dim, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.featureHashEval($c, $dim, $n)")
  override protected def withNewChildInternal(newChild: Expression): FeatureHashK = copy(child = newChild)
  override def prettyName: String = "graft_feature_hash"
}

case class ByteFoldHashK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Kernels.byteFoldHashEval(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.byteFoldHashEval($c)")
  override protected def withNewChildInternal(newChild: Expression): ByteFoldHashK = copy(child = newChild)
  override def prettyName: String = "graft_byte_fold_hash"
}

case class Utf8InvalidK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    Kernels.utf8InvalidEval(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.utf8InvalidEval($c)")
  override protected def withNewChildInternal(newChild: Expression): Utf8InvalidK = copy(child = newChild)
  override def prettyName: String = "graft_utf8_invalid"
}

case class CanonUrlK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Kernels.canonUrlEval(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.canonUrlEval($c)")
  override protected def withNewChildInternal(newChild: Expression): CanonUrlK = copy(child = newChild)
  override def prettyName: String = "graft_canon_url"
}

case class SurtKeyK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    Kernels.surtKeyEval(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.surtKeyEval($c)")
  override protected def withNewChildInternal(newChild: Expression): SurtKeyK = copy(child = newChild)
  override def prettyName: String = "graft_surt_key"
}

case class HighBytesK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    Kernels.highBytesEval(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.highBytesEval($c)")
  override protected def withNewChildInternal(newChild: Expression): HighBytesK = copy(child = newChild)
  override def prettyName: String = "graft_high_bytes"
}

case class NulBytesK(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    Kernels.nulBytesEval(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.nulBytesEval($c)")
  override protected def withNewChildInternal(newChild: Expression): NulBytesK = copy(child = newChild)
  override def prettyName: String = "graft_nul_bytes"
}

case class SimHash32K(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = Kernels.simhash32Eval(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash32Eval($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash32K = copy(child = newChild)
  override def prettyName: String = "graft_simhash32"
}

case class SimHash63K(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = Kernels.simhash63Eval(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash63Eval($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash63K = copy(child = newChild)
  override def prettyName: String = "graft_simhash63"
}

case class MinHashSigK(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullSafeEval(input: Any): Any = Kernels.minhashSigEval(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minhashSigEval($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigK = copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}

case class VecDotK(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.vecDotEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.vecDotEval($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDotK =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_vec_dot"
}

case class VecNorm2K(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any = Kernels.vecNorm2Eval(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.vecNorm2Eval($c)")
  override protected def withNewChildInternal(newChild: Expression): VecNorm2K = copy(child = newChild)
  override def prettyName: String = "graft_vec_norm2"
}

/** Shared codegen for the two nullable long-array kernels: the eval
  * helper returns a boxed Long (null on length mismatch / null
  * element, matching the HOF forms they replace), so the generated
  * code must route the null through ev.isNull rather than defineCodeGen's
  * primitive assignment. */
sealed trait NullableLongArrayPairK extends BinaryExpression {
  def evalMethod: String // fully-qualified static helper
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}_r = $evalMethod($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }""")
}

case class VecDotLongK(left: Expression, right: Expression) extends NullableLongArrayPairK {
  override def evalMethod: String = "graft.functions.Kernels.vecDotLongEval"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.vecDotLongEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDotLongK =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_vec_dot_long"
}

case class HammingDistK(left: Expression, right: Expression) extends NullableLongArrayPairK {
  override def evalMethod: String = "graft.functions.Kernels.hammingDistEval"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.hammingDistEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HammingDistK =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_hamming_dist"
}

case class IvfAssignK(child: Expression, cents: Array[Array[Float]]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any = Kernels.ivfAssignEval(input.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.ivfAssignEval($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): IvfAssignK = copy(child = newChild)
  override def prettyName: String = "graft_ivf_assign"
}

case class IvfScoresK(child: Expression, cents: Array[Array[Float]]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(input: Any): Any = Kernels.ivfScoresEval(input.asInstanceOf[ArrayData], cents)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfCents", cents, "float[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.ivfScoresEval($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): IvfScoresK = copy(child = newChild)
  override def prettyName: String = "graft_ivf_scores"
}

case class RobotsAllowedK(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(robots: Any, agent: Any, path: Any): Any =
    Kernels.robotsAllowedEval(robots.asInstanceOf[UTF8String],
      agent.asInstanceOf[UTF8String], path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (r, a, p) => s"graft.functions.Kernels.robotsAllowedEval($r, $a, $p)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): RobotsAllowedK =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "graft_robots_allowed"
}

case class CosineGteK(first: Expression, second: Expression, third: Expression,
                      tNum: Int, tDen: Int) extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Kernels.cosineGteEval(a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long], tNum, tDen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.Kernels.cosineGteEval($a, $b, $c, $tNum, $tDen)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CosineGteK =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "graft_cosine_gte"
}

/** Serialized Bloom sketch with CONTENT-based equality. A bare
  * `Array[Byte]` field in a case-class expression compares by
  * reference, so two semantically identical probe expressions never
  * test equal — that destabilizes `semanticEquals` and defeats
  * expression canonicalization / subexpression elimination (missed
  * reuse, never wrong results). Equality/hashCode here are over the
  * bytes.
  */
final class BloomSketch(val bytes: Array[Byte]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case b: BloomSketch => java.util.Arrays.equals(bytes, b.bytes)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(bytes)
}

/** `mightContain(s)` against a serialized `org.apache.spark.util.sketch
  * .BloomFilter` — the map-side pre-filter of
  * [[graft.operators.Decontaminate.flagWithBloom]]. The sketch ships as
  * bytes (a broadcast-sized reference object, like the IVF centroid
  * matrix) and deserializes once per executor via the transient lazy
  * val; codegen calls back into this expression instance so the hot
  * loop is one sketch probe per row, no SerDe.
  */
case class BloomMightContainK(child: Expression, sketch: BloomSketch) extends UnaryExpression {
  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(sketch.bytes))
  def mightContain(s: UTF8String): Boolean = bloom.mightContainBinary(s.getBytes)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(input: Any): Any = mightContain(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomK", this, classOf[BloomMightContainK].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContain($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContainK =
    copy(child = newChild)
  override def prettyName: String = "graft_bloom_might_contain"
}

case class LshSigK(child: Expression, planes: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = Kernels.lshSigEval(input.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.lshSigEval($c, $planes)")
  override protected def withNewChildInternal(newChild: Expression): LshSigK = copy(child = newChild)
  override def prettyName: String = "graft_lsh_sig"
}
