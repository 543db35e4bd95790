package graft.operators

/** Pure-JVM FLAC decoder (RFC 9639 — the lossless audio format of
  * archived speech/music corpora): STREAMINFO parse → per-frame
  * header decode (CRC-8 verified) → per-channel subframe decode
  * (constant / verbatim / fixed-predictor / LPC with rice-coded
  * residuals) → stereo de-decorrelation (left/right/mid-side) →
  * interleaved PCM, frame CRC-16 verified. With
  * [[MediaDecode.wavAdpcmSamples]] this leaves only perceptual codecs
  * (MP3/AAC) without a real sample path in
  * [[Multimodal.HeaderCodec]].
  *
  * FLAC is a pure-INTEGER codec: every prediction, rice residual and
  * channel reconstruction is exact int/long arithmetic, so decoded
  * samples are bit-identical on every JVM — and, unlike the lossy
  * families, a correct decode is verifiable without a perceptual
  * tolerance: the `mm_pixel_stats` oracle re-reads a byte-aligned
  * VERBATIM frame's samples straight from the stream bytes in SQL,
  * and the spec round-trips an independent forward ENCODER
  * (verbatim + fixed-predictor/rice, written from the spec's encode
  * direction) through this decoder over randomized PCM.
  *
  * Same corpus-scale contract as the rest of the module: supported
  * shapes decode exactly; anything malformed — bad sync, CRC
  * mismatch, reserved codes, residual/blocksize inconsistencies,
  * truncation — returns None, never throws. Unsupported-but-valid
  * shapes (chained metadata is fine; >8 channels, bps>32 cannot
  * occur in the format) have no reject path to hide behind: the
  * format's full subframe surface is implemented.
  *
  * Scope: every subframe type and residual method in RFC 9639
  * (constant, verbatim, fixed order 0–4, LPC order 1–32, rice
  * 4/5-bit with escape partitions, wasted bits, all four channel
  * assignments, 8/12/16/20/24/32-bit samples, fixed and variable
  * blocking). Decodes the whole stream eagerly with an allocation
  * cap, the [[JpegDecode.MaxPixels]] discipline.
  */
object FlacDecode {

  /** Decoded stream: interleaved per-frame channel samples at the
    * stream's native bit depth (sign-extended ints).
    */
  final case class FlacAudio(sampleRate: Int, channels: Int,
                             bitsPerSample: Int, samples: Array[Int])

  /** decoded-sample footprint cap — the allocation bomb guard
    * ([[JpegDecode]]'s MaxPixels discipline): 2^26 ints ≈ 256 MB.
    */
  private val MaxSamples = 1L << 26

  private final class Bail extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def bail(): Nothing = throw new Bail
  private def need(ok: Boolean): Unit = if (!ok) bail()

  /** MSB-first bit reader; bails on exhaustion (FLAC frames never
    * legally read past their bytes — padding bits to the byte
    * boundary exist inside the frame).
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0L
    private var nBits = 0
    def bytePos: Int = pos - (nBits >> 3) // only valid when byte-aligned
    def aligned: Boolean = (nBits & 7) == 0
    def alignToByte(): Unit = { val r = nBits & 7; if (r != 0) { nBits -= r } }
    def bits(n: Int): Int = {
      // n <= 32
      var v = 0
      var left = n
      while (left > 24) { v = (v << 24) | bits24(24); left -= 24 }
      (v << left) | bits24(left)
    }
    private def bits24(n: Int): Int = {
      while (nBits < n) {
        need(pos < b.length)
        acc = (acc << 8) | (b(pos) & 0xffL); pos += 1; nBits += 8
      }
      nBits -= n
      ((acc >>> nBits) & ((1L << n) - 1)).toInt
    }
    def bitsLong(n: Int): Long = { // n <= 56
      var v = 0L
      var left = n
      while (left > 24) { v = (v << 24) | (bits24(24).toLong & 0xffffffL); left -= 24 }
      (v << left) | bits24(left)
    }
    /** signed n-bit two's-complement read. */
    def sbits(n: Int): Int =
      if (n == 0) 0
      else if (n == 32) bits(32)
      else { val v = bits(n); (v << (32 - n)) >> (32 - n) }
    /** unary: count 0 bits until the terminating 1. */
    def unary(): Int = {
      var q = 0
      while (bits(1) == 0) { q += 1; need(q <= (b.length.toLong * 8)) }
      q
    }
  }

  // ---- CRCs (frame-header CRC-8 poly 0x07; frame CRC-16 poly 0x8005) --

  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= b(i) & 0xff
      var k = 0
      while (k < 8) { c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xff else (c << 1) & 0xff; k += 1 }
      i += 1
    }
    c
  }

  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xffff else (c << 1) & 0xffff; k += 1 }
      i += 1
    }
    c
  }

  // ---- decode --------------------------------------------------------

  /** Decode a whole FLAC stream; None on anything malformed. */
  def flacSamples(b: Array[Byte]): Option[FlacAudio] =
    try Some(decode(b)) catch { case _: Bail => None }

  /** [[flacSamples]] rescaled to 16-bit (arithmetic shift from the
    * native depth) — the [[MediaDecode.wavSamples]]-shaped view the
    * RMS/peak features consume. Lossless for 16-bit streams (the
    * overwhelmingly common FLAC depth).
    */
  def flacSamples16(b: Array[Byte]): Option[Array[Short]] =
    flacSamples(b).map { a =>
      val out = new Array[Short](a.samples.length)
      val sh = a.bitsPerSample - 16
      var i = 0
      while (i < out.length) {
        out(i) = (if (sh >= 0) a.samples(i) >> sh else a.samples(i) << -sh).toShort
        i += 1
      }
      out
    }

  private def decode(b: Array[Byte]): FlacAudio = {
    need(b.length >= 42 &&
      b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
    // ---- metadata walk: STREAMINFO must be first (type 0, len 34) ----
    var p = 4
    var last = false
    var first = true
    var sampleRate = 0; var channels = 0; var bps = 0; var total = 0L
    while (!last) {
      need(p + 4 <= b.length)
      val hdr = b(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((b(p + 1) & 0xff) << 16) | ((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)
      need(typ != 0x7f) // invalid block type
      need(p + 4 + len.toLong <= b.length)
      if (first) {
        need(typ == 0 && len == 34)
        val r = new BitReader(b, p + 4)
        r.bits(16); r.bits(16) // min/max blocksize
        r.bits(24); r.bits(24) // min/max framesize
        sampleRate = r.bits(20)
        channels = r.bits(3) + 1
        bps = r.bits(5) + 1
        total = r.bitsLong(36)
        need(sampleRate > 0 && bps >= 4 && bps <= 32)
        need(total * channels <= MaxSamples)
        first = false
      }
      p += 4 + len
    }
    need(!first)
    // ---- frames until the total sample count (or input end if 0) ----
    var buf = new Array[Int](math.min(
      math.max(total * channels, 4096L), MaxSamples).toInt)
    var n = 0 // interleaved samples written
    var produced = 0L // per-channel samples decoded
    while ((total == 0L && p < b.length) || (total > 0L && produced < total)) {
      val (frameSamples, frameCh, next) = decodeFrame(b, p, sampleRate, channels, bps)
      need(frameCh == channels)
      val add = frameSamples.length.toLong
      need(produced + add / channels <= (if (total > 0) total else MaxSamples / channels))
      if (n + add > buf.length) {
        val want = math.min(math.max(buf.length * 2L, n + add), MaxSamples)
        need(n + add <= want)
        buf = java.util.Arrays.copyOf(buf, want.toInt)
      }
      System.arraycopy(frameSamples, 0, buf, n, frameSamples.length)
      n += frameSamples.length
      produced += add / channels
      p = next
    }
    need(total == 0L || produced == total)
    FlacAudio(sampleRate, channels, bps,
      if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n))
  }

  /** Decode one frame at byte `p`; returns (interleaved samples,
    * channels, next byte pos).
    */
  private def decodeFrame(b: Array[Byte], p: Int, siRate: Int,
                          siChannels: Int, siBps: Int): (Array[Int], Int, Int) = {
    val r = new BitReader(b, p)
    need(r.bits(14) == 0x3ffe) // sync
    need(r.bits(1) == 0) // reserved
    r.bits(1) // blocking strategy (coded number length differs; both handled)
    val bsCode = r.bits(4)
    val srCode = r.bits(4)
    val chCode = r.bits(4)
    val szCode = r.bits(3)
    need(r.bits(1) == 0) // reserved
    // UTF-8-style coded frame/sample number: validate shape, value unused
    val lead = r.bits(8)
    val cont = if (lead < 0x80) 0
    else if ((lead & 0xe0) == 0xc0) 1
    else if ((lead & 0xf0) == 0xe0) 2
    else if ((lead & 0xf8) == 0xf0) 3
    else if ((lead & 0xfc) == 0xf8) 4
    else if ((lead & 0xfe) == 0xfc) 5
    else if (lead == 0xfe) 6
    else -1
    need(cont >= 0)
    var ci = 0
    while (ci < cont) { need((r.bits(8) & 0xc0) == 0x80); ci += 1 }
    val blockSize = bsCode match {
      case 0 => bail()
      case 1 => 192
      case c if c <= 5 => 576 << (c - 2)
      case 6 => r.bits(8) + 1
      case 7 => r.bits(16) + 1
      case c => 256 << (c - 8)
    }
    srCode match { // value must parse; STREAMINFO's rate is authoritative
      case 12 => r.bits(8)
      case 13 | 14 => r.bits(16)
      case 15 => bail()
      case _ => 0
    }
    val (nCh, mode) = chCode match {
      case c if c <= 7 => (c + 1, 0) // independent
      case 8 => (2, 1) // left/side
      case 9 => (2, 2) // right/side
      case 10 => (2, 3) // mid/side
      case _ => bail()
    }
    need(nCh == siChannels)
    val bps = szCode match {
      case 0 => siBps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => bail()
    }
    need(bps == siBps)
    need(r.aligned) // every legal frame header is a whole number of bytes
    val hdrEnd = r.bytePos
    need(crc8(b, p, hdrEnd) == r.bits(8))
    need(blockSize.toLong * nCh <= MaxSamples)
    // ---- subframes ----
    val ch = new Array[Array[Long]](nCh) // Long: side channels carry bps+1
    var c = 0
    while (c < nCh) {
      val extra = mode match {
        case 1 => if (c == 1) 1 else 0 // left/side: side is ch 1
        case 2 => if (c == 0) 1 else 0 // right/side: side is ch 0
        case 3 => if (c == 1) 1 else 0 // mid/side: side is ch 1
        case _ => 0
      }
      ch(c) = decodeSubframe(r, blockSize, bps + extra)
      c += 1
    }
    r.alignToByte()
    val crcPos = r.bytePos
    need(crc16(b, p, crcPos) == r.bits(16))
    // ---- de-decorrelate + interleave at native depth ----
    val out = new Array[Int](blockSize * nCh)
    var i = 0
    while (i < blockSize) {
      mode match {
        case 0 =>
          var k = 0
          while (k < nCh) { out(i * nCh + k) = ch(k)(i).toInt; k += 1 }
        case 1 => // left/side: L, S=L-R
          val l = ch(0)(i); val s = ch(1)(i)
          out(i * 2) = l.toInt; out(i * 2 + 1) = (l - s).toInt
        case 2 => // right/side: S=L-R, R
          val s = ch(0)(i); val rr = ch(1)(i)
          out(i * 2) = (rr + s).toInt; out(i * 2 + 1) = rr.toInt
        case 3 => // mid/side
          val m = ch(0)(i); val s = ch(1)(i)
          val m2 = (m << 1) | (s & 1L)
          out(i * 2) = ((m2 + s) >> 1).toInt; out(i * 2 + 1) = ((m2 - s) >> 1).toInt
      }
      i += 1
    }
    (out, nCh, r.bytePos)
  }

  /** One subframe: blockSize samples at `bps` bits (already including
    * any side-channel extra bit), as Longs.
    */
  private def decodeSubframe(r: BitReader, blockSize: Int, bps: Int): Array[Long] = {
    need(r.bits(1) == 0) // zero pad bit
    val typ = r.bits(6)
    val wasted = if (r.bits(1) == 1) r.unary() + 1 else 0
    need(wasted < bps)
    val eff = bps - wasted
    val out = new Array[Long](blockSize)
    def readSample(): Long = { val v = r.bitsLong(eff); (v << (64 - eff)) >> (64 - eff) }
    typ match {
      case 0 => // constant
        val v = readSample()
        java.util.Arrays.fill(out, v)
      case 1 => // verbatim
        var i = 0
        while (i < blockSize) { out(i) = readSample(); i += 1 }
      case t if (t & 0x38) == 0x08 && (t & 7) <= 4 => // fixed, order 0-4
        val order = t & 7
        need(order <= blockSize)
        var i = 0
        while (i < order) { out(i) = readSample(); i += 1 }
        val res = readResiduals(r, blockSize, order)
        i = order
        while (i < blockSize) {
          val p = order match {
            case 0 => 0L
            case 1 => out(i - 1)
            case 2 => 2 * out(i - 1) - out(i - 2)
            case 3 => 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
            case _ => 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4)
          }
          out(i) = res(i - order) + p
          i += 1
        }
      case t if (t & 0x20) == 0x20 => // LPC, order 1-32
        val order = (t & 0x1f) + 1
        need(order <= blockSize)
        var i = 0
        while (i < order) { out(i) = readSample(); i += 1 }
        val precision = r.bits(4) + 1
        need(precision <= 15) // 0b1111 is invalid per spec
        val shift = r.sbits(5)
        need(shift >= 0)
        val coef = new Array[Long](order)
        i = 0
        while (i < order) { coef(i) = r.sbits(precision).toLong; i += 1 }
        val res = readResiduals(r, blockSize, order)
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coef(j) * out(i - 1 - j); j += 1 }
          out(i) = res(i - order) + (acc >> shift)
          i += 1
        }
      case _ => bail()
    }
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { out(i) <<= wasted; i += 1 }
    }
    out
  }

  /** Rice-partitioned residuals: blockSize − order values. */
  private def readResiduals(r: BitReader, blockSize: Int, order: Int): Array[Long] = {
    val method = r.bits(2)
    need(method <= 1)
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val po = r.bits(4)
    val parts = 1 << po
    need(blockSize % parts == 0)
    val perPart = blockSize >> po
    need(perPart >= order) // first partition holds perPart − order residuals
    val out = new Array[Long](blockSize - order)
    var w = 0
    var pi = 0
    while (pi < parts) {
      val count = if (pi == 0) perPart - order else perPart
      val param = r.bits(paramBits)
      if (param == escape) {
        val raw = r.bits(5)
        var i = 0
        while (i < count) {
          out(w) = if (raw == 0) 0L else { val v = r.bitsLong(raw); (v << (64 - raw)) >> (64 - raw) }
          w += 1; i += 1
        }
      } else {
        var i = 0
        while (i < count) {
          val q = r.unary().toLong
          val low = if (param == 0) 0L else r.bitsLong(param)
          val v = (q << param) | low
          out(w) = (v >>> 1) ^ -(v & 1L) // zigzag
          w += 1; i += 1
        }
      }
      pi += 1
    }
    out
  }
}
