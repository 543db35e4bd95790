package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Chunking, Dedup, Multimodal, Packing, Sampling, Similarity, TextSim}

/** North-star training-data pipeline operators (dedup / similarity /
  * text analysis / multimodal) as driver-checkable queries. Spark side
  * goes through the graft.operators/graft.functions APIs; oracles
  * re-derive the same math independently in DuckDB (polynomial hashes
  * via list lambdas, ratios via integer cross-multiplication, dot
  * products as left-to-right double folds).
  */
object TrainingOps {

  /** DuckDB mirror of QualityRules.ruleFlags at default Params: the
    * per-doc counts CTE plus one boolean per rule, thresholds as the
    * same integer cross-multiplications.
    */
  private val duckDocRulesCte: String =
    """WITH c AS (SELECT doc_id,
      |  len(regexp_extract_all(text,'\S+')) AS nw,
      |  len(regexp_replace(text,'\s+','','g')) AS nc,
      |  len(list_distinct(regexp_extract_all(text,'\S+'))) AS uniq,
      |  len(list_distinct(list_filter(regexp_extract_all(text,'\S+'),
      |      w -> w IN ('the','a','of','to','and','in','or','is')))) AS dstop,
      |  len(list_filter(regexp_extract_all(text,'\S+'),
      |      w -> regexp_matches(w,'[A-Za-z]'))) AS alph,
      |  len(regexp_extract_all(text,'#|\.\.\.')) AS sym
      |  FROM documents),
      |r AS (SELECT doc_id,
      |  (nw >= 20 AND nw <= 100000) AS ok_words,
      |  (nc*10 >= nw*30 AND nc*10 <= nw*100) AS ok_wordlen,
      |  (dstop >= 2) AS ok_stop,
      |  (uniq*10 >= nw*3) AS ok_unique,
      |  (alph*10 >= nw*8) AS ok_alpha,
      |  (sym*10 <= nw*1) AS ok_symbol
      |  FROM c)""".stripMargin

  /** DuckDB mirror of TextFunctions.charHash. */
  private def duckCharHash(x: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(list_filter(string_split($x,''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a,b) -> (a*31+b) % 1000000007)"

  /** DuckDB mirror of Kernels.shingleHashes' packed 64-bit key:
    * charHash(x)·P2 + (base-37, seed-11, mod-P2 fold over the same
    * characters).
    */
  private def duckShingleKey(x: String): String =
    s"(${duckCharHash(x)} * 1000000009 + " +
      s"list_reduce(list_prepend(CAST(11 AS BIGINT), " +
      s"list_transform(list_filter(string_split($x,''), c -> c <> ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a,b) -> (a*37+b) % 1000000009))"

  /** DuckDB replay of [[graft.operators.QualityClassifier]]: hashed
    * bigram+bias features, `iters` full-batch hard-sigmoid GD passes
    * in exact int64 fixed point (S = 2²⁰; the single truncating
    * division per pass is DuckDB `//` = Scala Long `/`), then
    * frozen-weight scoring. `trainFilter`/`scoreFilter` are SQL
    * predicates over `documents` selecting the two corpora.
    * `finalSelect`, when given, replaces the default scored-rows
    * projection; it reads the `sc(doc_id, z)` CTE (z = the int64
    * margin) plus `documents`.
    */
  private def duckLrClassifierSql(trainFilter: String, scoreFilter: String,
                                  finalSelect: Option[String] = None): String = {
    val dim = 256; val iters = 12; val lrDen = 2
    def it(t: Int): String =
      s"""z$t AS (SELECT l.doc_id, l.y, COALESCE(sum(f.v * w.wv), 0) AS z
         |  FROM lab l LEFT JOIN fa f ON l.doc_id = f.doc_id LEFT JOIN w$t w ON f.i = w.i
         |  GROUP BY 1, 2),
         |e$t AS (SELECT doc_id, y*4194304 - least(greatest(2097152 + z, 0), 4194304) AS e FROM z$t),
         |g$t AS (SELECT f.i, sum(f.v * e.e) AS g FROM fa f JOIN e$t e USING (doc_id) GROUP BY 1),
         |w${t + 1} AS MATERIALIZED (SELECT w.i, w.wv + COALESCE(g.g, 0) // ($lrDen * (SELECT n FROM n)) AS wv
         |  FROM w$t w LEFT JOIN g$t g ON w.i = g.i)""".stripMargin
    s"""WITH tok AS MATERIALIZED (SELECT doc_id, string_split(text,' ') w FROM documents WHERE text IS NOT NULL),
       |bgt AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
       |  THEN list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1]) ELSE [] END) AS bg FROM tok),
       |hx AS (SELECT doc_id, ${duckShingleKey("bg")} AS h FROM bgt),
       |faAll AS MATERIALIZED (
       |  SELECT doc_id, CAST(h % $dim AS INT) AS i,
       |    CAST(sum(CASE WHEN (h // $dim) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
       |  FROM hx GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, $dim AS i, CAST(1 AS BIGINT) AS v FROM tok),
       |labAll AS (SELECT doc_id,
       |  CASE WHEN (least(len(regexp_extract_all(text,'\\S+')), 100)
       |    * (len(regexp_extract_all(text,'\\S+'))
       |       - len(list_filter(string_split(text,' '),
       |           w -> w IN ('the','a','of','to','and','in','or','is'))))
       |    * 1000000) // (100 * len(regexp_extract_all(text,'\\S+'))) >= 500000
       |  THEN 1 ELSE 0 END AS y
       |  FROM documents WHERE text IS NOT NULL),
       |lab AS MATERIALIZED (SELECT doc_id, y FROM labAll WHERE $trainFilter
       |  ORDER BY ((doc_id % 1000000007) * 1103515245 + 12345) % 1000000007, doc_id
       |  LIMIT 100000),
       |fa AS MATERIALIZED (SELECT f.* FROM faAll f JOIN lab USING (doc_id)),
       |n AS MATERIALIZED (SELECT count(*) AS n FROM lab),
       |w0 AS MATERIALIZED (SELECT CAST(unnest(range(0, ${dim + 1})) AS INT) AS i, CAST(0 AS BIGINT) AS wv),
       |${(0 until iters).map(it).mkString(",\n")},
       |sc AS (SELECT d.doc_id, COALESCE(sum(f.v * w.wv), 0) AS z
       |  FROM (SELECT doc_id FROM tok WHERE $scoreFilter) d
       |  LEFT JOIN faAll f ON d.doc_id = f.doc_id LEFT JOIN w$iters w ON f.i = w.i
       |  GROUP BY 1)
       |${finalSelect.getOrElse(
          """SELECT doc_id, CAST(z AS BIGINT) AS margin,
            |  CAST((least(greatest(2097152 + z, 0), 4194304) * 1000000) // 4194304 AS BIGINT) AS prob_ppm,
            |  CASE WHEN z > 0 THEN 1 ELSE 0 END AS pred
            |FROM sc""".stripMargin)}""".stripMargin
  }

  /** DuckDB CTEs: word-3-gram shingle list per doc. */
  private val duckShingles =
    """tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
      |shl AS (SELECT doc_id,
      |  CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])
      |    ELSE [] END AS s
      |  FROM tok)""".stripMargin

  /** DuckDB CTEs re-deriving minhash-LSH (n=3, k=8, bands=2) candidate
    * pairs and their min-label connected components (`cmp(id, comp)`) —
    * shared by `dd_components` and `ta_split_leakfree`. Requires a
    * `WITH RECURSIVE` prefix.
    */
  private lazy val duckComponentsCtes: String =
    s"""$duckShingles,
       |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
       |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
       |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
       |bands AS (
       |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
       |  UNION ALL
       |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
       |pr AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |       FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
       |e AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db, da FROM pr),
       |reach AS (
       |  SELECT a AS id, a AS r FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
       |cmp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)""".stripMargin

  /** DuckDB re-derivation of the KMV distinct sketch over
    * events.user_id per event_type (k = 64): kmvHash's two affine-mixed
    * folds, k smallest distinct per group, exact-below-k / estimator
    * split. Shared by the batch and batch-driven-streaming entries.
    */
  private lazy val duckKmvSql: String =
    s"""WITH f AS (SELECT DISTINCT event_type,
       |  ${duckCharHash("CAST(user_id AS VARCHAR)")} AS ch,
       |  list_reduce(list_prepend(CAST(11 AS BIGINT),
       |    list_transform(list_filter(string_split(CAST(user_id AS VARCHAR),''), c -> c <> ''),
       |      c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*37+b) % 1000000009) AS f37
       |  FROM events WHERE user_id IS NOT NULL),
       |h AS (SELECT DISTINCT event_type,
       |  ((ch * 1103515245 + f37 * 2654435761 + 12345) % 1000000007) * 1000000009
       |    + ((ch * 1000003 + f37 * 999999937 + 67867967) % 1000000009) AS h
       |  FROM f),
       |rk AS (SELECT event_type, h,
       |  row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn FROM h),
       |sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
       |  max(h) AS kth_hash FROM rk WHERE rn <= 64 GROUP BY 1)
       |SELECT event_type, n_kept, kth_hash,
       |  CASE WHEN n_kept < 64 THEN n_kept
       |       ELSE CAST(63 * CAST(1000000016000000063 AS HUGEINT) // kth_hash AS BIGINT)
       |  END AS est_distinct
       |FROM sk""".stripMargin

  /** Byte fixtures for `mm_header_meta` (id, kind, hex): real format
    * headers assembled per spec — PNG 320×200, GIF89a 12×34, JPEG
    * 640×480 with APP0+DQT before the SOF0, WAV 60 bytes with
    * byteRate 8000 and a 16-byte data chunk (duration 2 ms), WebP
    * VP8L, BMP, FLAC, MP3 (CBR behind an ID3v2 tag AND a VBR Xing
    * frame), MP4 (moov→mvhd), plus foreign bytes in every kind
    * (stub-fallback path). Shared between the Spark frame and the
    * oracle's VALUES so both engines parse identical bytes.
    */
  /** Byte fixtures for `ta_charset` (id, hex): every branch of the
    * detector — ASCII, valid multibyte UTF-8 (incl. the tight RFC 3629
    * boundaries U+083F / U+D7FF / U+10FFFF), each BOM family (UTF-8,
    * UTF-16LE/BE, UTF-32LE — whose FF FE prefix must outrank UTF-16LE),
    * and every strict-scanner reject class: bare latin-1 high byte,
    * overlong (C0 80), UTF-16 surrogate (ED A0 80), truncated 4-byte
    * sequence, and a code point past U+10FFFF. Any 0x00 byte wins
    * over UTF-8 validity (NULs are never text): 15 a real JPEG
    * SOI+APP0 prefix, 17 scanner-CLEAN 7-bit bytes around a NUL
    * (BOM-less UTF-16-of-ASCII shape), 18 a NUL-padded valid
    * multibyte blob — all binary; scanner-rejected with no NUL →
    * latin-1 (6, 16 — the terminal fallback). The oracle replays the
    * scanner byte-for-byte as a recursive CTE.
    */
  private lazy val charsetFixtures: Seq[(Long, String)] = Seq(
    (1L, "68656C6C6F"),                         // "hello" -> ascii
    (2L, "63616665CC81E282ACF09D849E"),         // cafe'+euro+clef -> utf-8, 9 high
    (3L, "EFBBBF6869"),                         // BOM + "hi" -> utf-8-bom
    (4L, "FFFE6800"),                           // UTF-16LE BOM + "h"
    (5L, "FEFF0068"),                           // UTF-16BE BOM + "h"
    (6L, "636166E9"),                           // latin-1 "cafe" -> 1 invalid
    (7L, "C080"),                               // overlong NUL -> 2 invalid
    (8L, "EDA080"),                             // surrogate D800 -> 3 invalid
    (9L, "F09F98"),                             // truncated emoji -> 3 invalid
    (10L, "F4908080"),                          // > U+10FFFF -> 4 invalid
    (11L, "FFFE00000000"),                      // UTF-32LE BOM
    (12L, "E0A0BF2E"),                          // U+083F boundary, valid
    (13L, "ED9FBF"),                            // U+D7FF boundary, valid
    (14L, "F48FBFBF"),                          // U+10FFFF boundary, valid
    (15L, "FFD8FFE000104A464946"),              // JPEG SOI+APP0: inv>0, NUL -> binary
    (16L, "A1A2A3"),                            // lone continuations, no NUL -> latin-1
    (17L, "680069"),                            // "h\0i": inv=0 but NUL -> binary
    (18L, "E282AC0000"))                        // euro + NUL pad: inv=0, NUL -> binary

  private lazy val mmHeaderFixtures: Seq[(Long, String, String)] = Seq(
    (1L, "image",
      "89504E470D0A1A0A0000000D4948445200000140000000C80802000000"),
    (2L, "image", "4749463839610C002200F7000000"),
    (3L, "image",
      "FFD8FFE000104A46494600010100000100010000FFDB0005000102" +
        "FFC000110801E0028003011100021101031101FFD9"),
    (4L, "audio",
      "524946462400000057415645666D74201000000001000100401F0000401F000002001000" +
        "6461746110000000" + "00" * 16),
    (5L, "image", "DEADBEEF"),
    (6L, "audio", "DEADBEEF"),
    (7L, "image", // WebP VP8L 17×9 (packed 14-bit fields, stored −1)
      "5249464618000000574542505650384C100000002F1000020000"),
    (8L, "image", // BMP 320×12
      "424D4600000000000000360000002800000040010000" + "0C000000"),
    (9L, "audio", // FLAC 44100 Hz, 441000 samples → 10 000 ms
      "664C614300000022001000100000000000000AC440000006BAA8"),
    (10L, "audio", // MP3: 10-byte ID3v2 payload + MPEG1-L3 @128 kbps,
      // 100 audio bytes → 6 ms
      "4944330300000000000A" + "00" * 10 + "FFFB9000" + "00" * 96),
    (11L, "video", // MP4: ftyp + moov(mvhd v0, timescale 600,
      // duration 3000) → 5000 ms
      "0000001066747970" + "69736F6D00000200" +
        "000000746D6F6F76" + "0000006C6D766864" +
        "00000000" + "00000000" + "00000000" + "00000258" + "00000BB8" + "00" * 80),
    (12L, "video", "DEADBEEF"), // foreign bytes → stub fallback
    (13L, "audio", // VBR MP3: stereo 44.1 kHz Xing frame at the stream
      // head, flags=1, 1000 frames → 1000·1152·1000/44100 = 26122 ms
      "FFFB9000" + "00" * 32 + "58696E67" + "00000001" + "000003E8" + "00" * 8),
    (14L, "image", // TIFF big-endian (MM): 2-entry IFD, width 300 /
      // height 7 as left-justified BE SHORTs at fixed offsets — pins
      // the MM byte-order branch of the IFD walk
      "4D4D002A" + "00000008" + "0002" +
        "01000003" + "00000001" + "012C0000" +
        "01010003" + "00000001" + "00070000" +
        "00000000"))

  /** Byte fixtures for `mm_pixel_stats` (id, kind, hex): content whose
    * PIXELS/SAMPLES decode in pure JVM — a 2×2 bottom-up 24 bpp BMP
    * with distinct channel means (R 113.75, G 88.75, B 76.25), a
    * 4-sample PCM16 WAV (1000, −2000, 3000, −32768 → peak exactly 1.0),
    * and two DC-only greyscale JPEGs (one positive, one negative DC
    * diff) whose single entropy byte is BYTE-ALIGNED by construction
    * (1-bit DC code + 6 magnitude bits + 1-bit EOB = 8 bits), so even
    * the Huffman-coded plane — including the one's-complement negative
    * magnitude rule — is re-derivable in SQL from the quant and scan
    * bytes: the oracle re-derives every decoded feature value from the
    * same bytes. Fixture 5 is a mono IMA-ADPCM WAV (wFormatTag 0x0011,
    * one 8-byte block: predictor 1000, step index 10, nibbles
    * 1,7,F,8,4,2,0,F low-first from bytes 71 8F 24 F0) — the decoder's
    * integer predictor/step-index state machine
    * ([[graft.operators.MediaDecode.wavAdpcmSamples]]) is replayed
    * nibble-by-nibble in the oracle as a recursive CTE over the same
    * step/index tables, so the 9 decoded samples (and the RMS/peak
    * features) are SQL-re-derived end to end. Fixture 6 is a 2×2 GIF89a
    * whose six LZW codes (clear, four ROOT pixel codes, EOI) land at
    * FIXED bit offsets by construction — the dictionary never gets
    * referenced, only grown, so the oracle reads each 3/4-bit code
    * straight out of the stream bytes LSB-first and resolves the
    * 4-entry palette, re-deriving the decoded channel means in SQL
    * (the dictionary-reference path is spec-pinned in MediaDecodeSpec
    * instead). Fixture 7 is a FLAC stream (mono 16-bit, one VERBATIM
    * frame of the same four samples as fixture 2) whose frame header
    * is a whole number of bytes by format rule, so the four BE16
    * samples sit at FIXED byte offsets 51–58 — the oracle re-reads
    * them straight from the stream bytes (CRC-verified rice/LPC paths
    * are round-tripped against an independent forward encoder in
    * FlacDecodeSpec instead). Fixtures 8 and 9 are G.711 μ-law and
    * A-law WAVs (wFormatTag 0x0007/0x0006, four companded bytes at
    * fixed offsets 47–50): the ITU-T expand is a CLOSED-FORM integer
    * function of each byte
    * ([[graft.operators.MediaDecode.wavG711Samples]]), so the oracle
    * re-derives every linear sample — μ-law's complement/bias/shift
    * and A-law's even-bit-inversion/segment rules, including their
    * OPPOSITE sign-bit conventions — directly in SQL. Fixture 12 is a
    * 24-bit WAVE_FORMAT_EXTENSIBLE PCM whose four LE s24 samples sit
    * at fixed offsets — the oracle re-derives the 16-bit view as the
    * unsigned high bits minus the sign bias. Fixture 10 is a
    * single-strip uncompressed grey TIFF
    * ([[graft.operators.MediaDecode.tiffPixels]]) whose four pixel
    * bytes sit at fixed offsets 111–114 behind the IFD — the oracle
    * averages them directly; fixture 11 is its PackBits-compressed
    * twin whose single literal run keeps the pixel bytes at fixed
    * offsets 112–115 (multi-strip / big-endian / RGB / LZW / Deflate
    * / predictor TIFF layouts are spec-pinned in MediaDecodeSpec —
    * LZW and zlib bitstreams are not SQL-expressible). Fixture 15 is
    * a WebP-lossless (VP8L) 2×2 whose five SIMPLE prefix codes are
    * laid out so the entropy header ends exactly on a byte boundary:
    * each symbol field sits at a fixed bit offset in bytes 26–33
    * (1-based) and the four 2-bit pixels (green selector, then blue
    * selector, LSB-first) exactly fill byte 34 — the oracle re-reads
    * every symbol and selector straight from the bytes, a full SQL
    * replay of the prefix-coded pixel stream (transform / LZ77 /
    * color-cache / meta-group paths are golden-pinned against the
    * independent system-libwebp encoder in Vp8lDecodeSpec instead).
    */
  /** The mm_image_tiles BMP synthesis (8×8 24 bpp around each eligible
    * document's first 192 UTF-8 bytes) plus a PERTURBED TWIN for every
    * 7th doc (doc_id + 10⁹, first payload byte forced 0xFF — one
    * corner pixel brightens, a genuine 1-3-bit fingerprint
    * near-dup) — the shared image set of mm_image_phash /
    * dd_image_neardup. */
  /** Mono 8 kHz PCM16 WAV header for a 128-byte (64-sample) data
    * chunk plus a PERTURBED TWIN per 9th doc (doc_id + 10⁹, first
    * sample forced to 32767 — a genuine 1-3-bit energy-delta
    * near-dup) — the audio-fingerprint image-set analog. */
  private def synthHashAudio(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    val hdr = "52494646" + "A4000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
      "0200" + "1000" + "64617461" + "80000000"
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
      .where(length(col("tb")) >= 128)
    val orig = base.select(col("doc_id"), lit("audio").as("kind"),
      concat(unhex(lit(hdr)), substring(col("tb"), 1, 128)).as("content"))
    val twin = base.where(pmod(col("doc_id"), lit(9L)) === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), lit("audio").as("kind"),
        concat(unhex(lit(hdr + "FF7F")), substring(col("tb"), 3, 126)).as("content"))
    orig.unionByName(twin).as[Multimodal.MediaRow]
  }

  /** Shared oracle CTEs replaying [[synthHashAudio]] + audioHash63
    * from the text bytes: `aah(doc_id, v)` holds every 63-bit
    * fingerprint. The 64-sample clips put one sample per grid cell,
    * so bit i compares sample energies directly — exactly
    * [[graft.operators.MediaDecode.audioHash63]]. */
  private val audioPhashCtes: String =
    """acb0 AS (SELECT doc_id, substr(hex(encode(text)), 1, 256) AS hx
      |  FROM documents WHERE octet_length(encode(text)) >= 128),
      |acb AS (SELECT doc_id, hx FROM acb0
      |        UNION ALL
      |        SELECT doc_id + 1000000000, 'FF7F' || substr(hx, 5) FROM acb0 WHERE doc_id % 9 = 0),
      |abt AS (SELECT doc_id, list_transform(range(0, 128), k ->
      |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
      |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb FROM acb),
      |asm AS (SELECT doc_id, list_transform(range(0, 64), j ->
      |    bb[1+2*j] + bb[2+2*j]*256
      |    - CASE WHEN bb[2+2*j] >= 128 THEN 65536 ELSE 0 END) AS s FROM abt),
      |aah AS (SELECT doc_id, CAST(COALESCE(list_sum(list_transform(range(0, 63), i ->
      |   CASE WHEN s[i+2]*s[i+2] > s[i+1]*s[i+1] THEN CAST(1 AS BIGINT) << i ELSE 0 END)), 0) AS BIGINT) AS v
      |  FROM asm)""".stripMargin

  /** 8×8 24 bpp bottom-up BMP header for a 192-byte pixel array —
    * the ONE copy shared by mm_image_tiles and the phash/dedup image
    * set, so their synthesized corpora can never silently diverge. */
  private val bmp8x8Hdr: String = "424D" + "F6000000" + "00000000" + "36000000" +
    "28000000" + "08000000" + "08000000" + "0100" + "1800" + "00000000" +
    "C0000000" + "00000000" + "00000000" + "00000000" + "00000000"

  private def synthHashImages(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    val hdr = bmp8x8Hdr
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
      .where(length(col("tb")) >= 192)
    val orig = base.select(col("doc_id"), lit("image").as("kind"),
      concat(unhex(lit(hdr)), substring(col("tb"), 1, 192)).as("content"))
    val twin = base.where(pmod(col("doc_id"), lit(7L)) === 0)
      .select((col("doc_id") + lit(1000000000L)).as("doc_id"), lit("image").as("kind"),
        concat(unhex(lit(hdr + "FF")), substring(col("tb"), 2, 191)).as("content"))
    orig.unionByName(twin).as[Multimodal.MediaRow]
  }

  /** Shared oracle CTEs replaying [[synthHashImages]] + aHash63 from
    * the text bytes: `ah(doc_id, v)` holds every 63-bit fingerprint.
    * All-integer floor arithmetic — bit i compares pixel i's luma
    * (cells are 1:1 pixels on the 8×8 grid) against the global floor
    * average, exactly [[graft.operators.MediaDecode.aHash63]]. */
  private val imagePhashCtes: String =
    """cb0 AS (SELECT doc_id, substr(hex(encode(text)), 1, 384) AS hx
      |  FROM documents WHERE octet_length(encode(text)) >= 192),
      |cb AS (SELECT doc_id, hx FROM cb0
      |       UNION ALL
      |       SELECT doc_id + 1000000000, 'FF' || substr(hx, 3) FROM cb0 WHERE doc_id % 7 = 0),
      |ct AS (SELECT doc_id, list_transform(range(0, 192), k ->
      |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
      |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS tb FROM cb),
      |ls AS (SELECT doc_id, list_transform(range(0, 64), i ->
      |   299*tb[(7 - i//8)*24 + 3*(i%8) + 3] + 587*tb[(7 - i//8)*24 + 3*(i%8) + 2]
      |   + 114*tb[(7 - i//8)*24 + 3*(i%8) + 1]) AS l FROM ct),
      |ah AS (SELECT doc_id, CAST(COALESCE(list_sum(list_transform(range(0, 63), i ->
      |   CASE WHEN l[i+1] > list_sum(l) // 64 THEN CAST(1 AS BIGINT) << i ELSE 0 END)), 0) AS BIGINT) AS v
      |  FROM ls)""".stripMargin

  /** Byte fixtures for `mm_mp4_samples` (id, hex): ISO-BMFF files
    * whose sample tables sit at FIXED offsets so the oracle re-reads
    * every big-endian field. Fixture 1: v0 mdhd (timescale 1000),
    * per-sample stsz [10,20,30,40,50], two chunks at 200/300 with
    * stsc runs (2 then 3 samples), two stts runs (2×100, 3×200).
    * Fixture 2: v1 mdhd (timescale 90000), constant stsz 25, one
    * co64 chunk at 1000, one stts run (4×500). Fixture 3: foreign
    * bytes → no rows. */
  private lazy val mp4SampleFixtures: Seq[(Long, String)] = Seq(
    (1L, "000000106674797069736F6D000002000000013C6D6F6F760000006C6D766864" +
      "0000000000000000000000000000025800000BB8" + "00" * 80 +
      "000000C87472616B000000C06D646961000000206D646864000000000000000000000000" +
      "000003E80000138800000000000000986D696E66000000907374626C" +
      "0000002073747473000000000000000200000002000000640000000300000" +
      "0C800000028737473630000000000000002000000010000000200000001000000020000" +
      "000300000001000000287374737A0000000000000000000000050000000A000000140000" +
      "001E0000002800000032000000187374636F0000000000000002000000C80000012C"),
    (2L, "000000106674797069736F6D00000200000001206D6F6F760000006C6D766864" +
      "0000000000000000000000000000025800000BB8" + "00" * 80 +
      "000000AC7472616B000000A46D6469610000002C6D646864010000000000000000000000" +
      "000000000000000000015F90000000000002BF2000000000000000706D696E6600000068" +
      "7374626C0000001873747473000000000000000100000004000001F40000001C73747363" +
      "0000000000000001000000010000000400000001000000147374737A0000000000000019" +
      "0000000400000018636F3634000000000000000100000000000003E8"),
    (3L, "DEADBEEF"))

  /** Shared oracle CTEs replaying [[mp4SampleFixtures]] through the
    * sample-table walk: `arows`/`brows` hold every (idx, offset,
    * size, dts_ms) re-derived from the big-endian table bytes at
    * fixed offsets ("offset" is quoted — reserved word downstream). */
  private lazy val mp4SamplesCtes: String =
    s"""r(doc_id, hx) AS (VALUES
              |  ${mp4SampleFixtures.map { case (id, hx) => s"($id, '$hx')" }.mkString(",\n  ")}),
              |bt AS (SELECT doc_id,
              |  list_transform(range(0, octet_length(unhex(hx))), k ->
              |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
              |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
              |  FROM r),
              |-- big-endian u32 read at 0-based offset o
              |-- fixture A (doc 1): stts payload at 204, stsc 236, stsz
              |-- 276, stco 316, mdhd 156 (v0 → timescale at 168); five
              |-- samples over two chunks (2 + 3), two stts runs
              |a AS (SELECT doc_id,
              |  bb[169]*16777216 + bb[170]*65536 + bb[171]*256 + bb[172] AS ts,
              |  bb[217]*16777216 + bb[218]*65536 + bb[219]*256 + bb[220] AS d1,
              |  bb[225]*16777216 + bb[226]*65536 + bb[227]*256 + bb[228] AS d2,
              |  bb[325]*16777216 + bb[326]*65536 + bb[327]*256 + bb[328] AS co1,
              |  bb[329]*16777216 + bb[330]*65536 + bb[331]*256 + bb[332] AS co2,
              |  list_transform(range(0, 5), j ->
              |    bb[289+4*j]*16777216 + bb[290+4*j]*65536 + bb[291+4*j]*256 + bb[292+4*j]) AS szl
              |  FROM bt WHERE doc_id = 1),
              |arows AS (SELECT doc_id, k AS idx,
              |  CAST(CASE WHEN k < 2
              |    THEN co1 + COALESCE(list_sum(szl[1:k]), 0)
              |    ELSE co2 + COALESCE(list_sum(szl[3:k]), 0) END AS BIGINT) AS "offset",
              |  CAST(szl[k+1] AS BIGINT) AS size,
              |  CAST((least(k, 2)*d1 + greatest(k - 2, 0)*d2) * 1000 // ts AS BIGINT) AS dts_ms
              |  FROM a, range(0, 5) t(k)),
              |-- fixture B (doc 2): stts 216, stsz 268 (constant size),
              |-- co64 288 (u64 offset), mdhd 156 v1 (timescale at 176)
              |b AS (SELECT doc_id,
              |  bb[177]*16777216 + bb[178]*65536 + bb[179]*256 + bb[180] AS ts,
              |  bb[229]*16777216 + bb[230]*65536 + bb[231]*256 + bb[232] AS d,
              |  bb[273]*16777216 + bb[274]*65536 + bb[275]*256 + bb[276] AS sz,
              |  (bb[297]*16777216 + bb[298]*65536 + bb[299]*256 + bb[300]) * 4294967296
              |    + bb[301]*16777216 + bb[302]*65536 + bb[303]*256 + bb[304] AS co
              |  FROM bt WHERE doc_id = 2),
              |brows AS (SELECT doc_id, k AS idx,
              |  CAST(co + sz*k AS BIGINT) AS "offset", CAST(sz AS BIGINT) AS size,
              |  CAST(k*d*1000 // ts AS BIGINT) AS dts_ms
              |  FROM b, range(0, 4) t(k))""".stripMargin

  /** The union of both fixtures' replayed sample rows. doc_id is cast
    * up front: the fixture VALUES literal is int32 in DuckDB, and the
    * driver's hash compares raw dtypes against Spark's int64. Both
    * fixtures carry neither `ctts` nor `stss`, so the normative
    * defaults apply: pts = dts and every sample is sync. */
  private val mp4SamplesSelect: String =
    """      |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(idx AS BIGINT) AS idx, "offset", size, dts_ms, dts_ms AS pts_ms, TRUE AS is_sync FROM arows
      |UNION ALL
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(idx AS BIGINT) AS idx, "offset", size, dts_ms, dts_ms AS pts_ms, TRUE AS is_sync FROM brows""".stripMargin

  /** The mp4 fixture set as MediaRows (kind video). */
  private def mp4FixtureRows(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    s.createDataFrame(mp4SampleFixtures).toDF("doc_id", "hx")
      .select(col("doc_id"), lit("video").as("kind"), unhex(col("hx")).as("content"))
      .as[Multimodal.MediaRow]
  }

  /** Byte fixtures for `mm_frame_select_key` (id, hex), all tables at
    * FIXED offsets so the oracle re-reads every field. Fixture C
    * (doc 4): timescale 1000, 8 samples (one stts run 8×100), ctts v0
    * with FIVE runs — counts 1/1/2/1/3, offsets 0/250/0/250/0 — so
    * pts reorders across buckets (idx 4's +250 moves it from dts
    * bucket 1 into pts bucket 2), and stss [1,5,7] (sync idx 0/4/6):
    * pts bucket 1 holds samples but NO keyframe → no output row, the
    * case that proves the sync filter binds. Fixture D (doc 5):
    * timescale 1000, 4 samples (stts 4×200), ctts VERSION 1 with a
    * NEGATIVE offset run (1×0, 2×−100, 1×+100 — misread unsigned it
    * would explode pts by 2³²) and NO stss — the absent-table
    * default (all sync) binding. Fixture A (doc 1, shared) covers
    * the no-ctts default pts = dts. Doc 6 is foreign bytes → no rows.
    */
  private lazy val mp4KeyFixtures: Seq[(Long, String)] = Seq(
    (1L, mp4SampleFixtures.head._2),
    (4L, "000000106674797069736F6D00000200000001646D6F6F760000006C6D766864" +
      "0000000000000000000000000000025800000BB8" + "00" * 80 +
      "000000F07472616B000000E86D646961000000206D646864000000000000000000000000" +
      "000003E80000138800000000000000C06D696E66000000B87374626C" +
      "000000187374747300000000000000010000000800000064" +
      "0000003863747473000000000000000500000001000000000000000100" +
      "0000FA000000020000000000000001000000FA0000000300000000" +
      "0000001C7374737300000000000000030000000100000005000000070000001C" +
      "737473630000000000000001000000010000000800000001" +
      "000000147374737A000000000000006400000008" +
      "000000147374636F0000000000000001" + "00000400"),
    (5L, "000000106674797069736F6D00000200000001386D6F6F760000006C6D766864" +
      "0000000000000000000000000000025800000BB8" + "00" * 80 +
      "000000C47472616B000000BC6D646961000000206D646864000000000000000000000000" +
      "000003E80000138800000000000000946D696E660000008C7374626C" +
      "0000001873747473000000000000000100000004000000C8" +
      "0000002863747473010000000000000300000001000000000000" +
      "0002FFFFFF9C0000000100000064" +
      "0000001C737473630000000000000001000000010000000400000001" +
      "000000147374737A000000000000003200000004" +
      "000000147374636F0000000000000001" + "00000800"),
    (6L, "BAADF00D"))

  /** [[mp4KeyFixtures]] as MediaRows (kind video). */
  private def mp4KeyFixtureRows(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    s.createDataFrame(mp4KeyFixtures).toDF("doc_id", "hx")
      .select(col("doc_id"), lit("video").as("kind"), unhex(col("hx")).as("content"))
      .as[Multimodal.MediaRow]
  }

  /** Oracle CTEs replaying fixtures C and D ([[mp4KeyFixtures]]):
    * `crows`/`drows` re-derive (idx, offset, size, dts_ms, pts_ms,
    * is_sync) from the big-endian table bytes at fixed offsets —
    * ctts run boundaries from the counts, signed v1 offsets by
    * explicit two's-complement fold, stss membership by comparing
    * each 1-based sample number against the table's entries. */
  private lazy val mp4KeyCtes: String =
    s"""rk(doc_id, hx) AS (VALUES
       |  ${mp4KeyFixtures.filter(f => f._1 == 4L || f._1 == 5L)
             .map { case (id, hx) => s"($id, '$hx')" }.mkString(",\n  ")}),
       |btk AS (SELECT doc_id,
       |  list_transform(range(0, octet_length(unhex(hx))), k ->
       |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
       |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
       |  FROM rk),
       |-- fixture C (doc 4): mdhd timescale at 168; stts run at 212
       |-- (count/delta); ctts payload 228 → five (count, offset) pairs
       |-- from 236; stss payload 284 → three entries from 292; stsz
       |-- const at 344; stco[0] at 368
       |ck AS (SELECT doc_id,
       |  bb[169]*16777216 + bb[170]*65536 + bb[171]*256 + bb[172] AS ts,
       |  bb[217]*16777216 + bb[218]*65536 + bb[219]*256 + bb[220] AS d1,
       |  list_transform(range(0, 5), j ->
       |    bb[237+8*j]*16777216 + bb[238+8*j]*65536 + bb[239+8*j]*256 + bb[240+8*j]) AS cc,
       |  list_transform(range(0, 5), j ->
       |    bb[241+8*j]*16777216 + bb[242+8*j]*65536 + bb[243+8*j]*256 + bb[244+8*j]) AS cv,
       |  list_transform(range(0, 3), j ->
       |    bb[293+4*j]*16777216 + bb[294+4*j]*65536 + bb[295+4*j]*256 + bb[296+4*j]) AS ss,
       |  bb[345]*16777216 + bb[346]*65536 + bb[347]*256 + bb[348] AS sz,
       |  bb[369]*16777216 + bb[370]*65536 + bb[371]*256 + bb[372] AS co
       |  FROM btk WHERE doc_id = 4),
       |crows AS (SELECT doc_id, k AS idx,
       |  CAST(co + sz*k AS BIGINT) AS "offset", CAST(sz AS BIGINT) AS size,
       |  CAST(k*d1*1000 // ts AS BIGINT) AS dts_ms,
       |  CAST((k*d1 + CASE WHEN k < cc[1] THEN cv[1]
       |                    WHEN k < cc[1]+cc[2] THEN cv[2]
       |                    WHEN k < cc[1]+cc[2]+cc[3] THEN cv[3]
       |                    WHEN k < cc[1]+cc[2]+cc[3]+cc[4] THEN cv[4]
       |                    ELSE cv[5] END) * 1000 // ts AS BIGINT) AS pts_ms,
       |  list_contains(ss, k + 1) AS is_sync
       |  FROM ck, range(0, 8) t(k)),
       |-- fixture D (doc 5): stts run at 212; ctts v1 payload 228 →
       |-- three (count, offset) pairs from 236, offsets SIGNED
       |-- (two's complement over the u32 read); no stss → all sync;
       |-- stsz const at 300; stco[0] at 324
       |dk AS (SELECT doc_id,
       |  bb[169]*16777216 + bb[170]*65536 + bb[171]*256 + bb[172] AS ts,
       |  bb[217]*16777216 + bb[218]*65536 + bb[219]*256 + bb[220] AS dd,
       |  list_transform(range(0, 3), j ->
       |    bb[237+8*j]*16777216 + bb[238+8*j]*65536 + bb[239+8*j]*256 + bb[240+8*j]) AS cc,
       |  list_transform(range(0, 3), j -> CAST(
       |    bb[241+8*j]*16777216 + bb[242+8*j]*65536 + bb[243+8*j]*256 + bb[244+8*j] AS BIGINT)) AS cvr,
       |  bb[301]*16777216 + bb[302]*65536 + bb[303]*256 + bb[304] AS sz,
       |  bb[325]*16777216 + bb[326]*65536 + bb[327]*256 + bb[328] AS co
       |  FROM btk WHERE doc_id = 5),
       |drows AS (SELECT doc_id, k AS idx,
       |  CAST(co + sz*k AS BIGINT) AS "offset", CAST(sz AS BIGINT) AS size,
       |  CAST(k*dd*1000 // ts AS BIGINT) AS dts_ms,
       |  CAST((k*dd + CASE
       |      WHEN k < cc[1] THEN (CASE WHEN cvr[1] >= 2147483648 THEN cvr[1] - 4294967296 ELSE cvr[1] END)
       |      WHEN k < cc[1]+cc[2] THEN (CASE WHEN cvr[2] >= 2147483648 THEN cvr[2] - 4294967296 ELSE cvr[2] END)
       |      ELSE (CASE WHEN cvr[3] >= 2147483648 THEN cvr[3] - 4294967296 ELSE cvr[3] END)
       |    END) * 1000 // ts AS BIGINT) AS pts_ms,
       |  TRUE AS is_sync
       |  FROM dk, range(0, 4) t(k))""".stripMargin


  private lazy val mmPixelFixtures: Seq[(Long, String, String)] = Seq(
    (1L, "image", // BMP: red green / blue (200,100,50), bottom-up, padded rows
      "424D" + "46000000" + "00000000" + "36000000" +
        "28000000" + "02000000" + "02000000" + "0100" + "1800" + "00000000" +
        "10000000" + "00000000" + "00000000" + "00000000" + "00000000" +
        "FF0000" + "3264C8" + "0000" +   // bottom row: blue, (200,100,50)
        "0000FF" + "00FF00" + "0000"),   // top row: red, green
    (2L, "audio", // WAV PCM16 mono: 1000, -2000, 3000, -32768
      "52494646" + "2C000000" + "57415645" +
        "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" + "0200" + "1000" +
        "64617461" + "08000000" + "E803" + "30F8" + "B80B" + "0080"),
    (3L, "image", // JPEG: 8×8 grey, DC-only (cat 6, diff +44), q=16 flat
      // → every sample = 44·16/8 + 128 = 216; entropy byte = 44<<1 = 0x58
      "FFD8" +
        "FFDB" + "0043" + "00" + "10" * 64 +                      // DQT all-16
        "FFC0" + "000B" + "08" + "0008" + "0008" + "01011100" +   // SOF0 8×8 grey
        "FFC4" + "0014" + "00" + "01" + "00" * 15 + "06" +        // DC: '0'→cat 6
        "FFC4" + "0014" + "10" + "01" + "00" * 15 + "00" +        // AC: '0'→EOB
        "FFDA" + "0008" + "01" + "01" + "0000" + "3F00" +         // SOS
        "58" + "FFD9"),
    (4L, "image", // JPEG: same shape, diff −40 (cat-6 one's-complement
      // magnitude: bits = −40+63 = 23, MSB 0 ⇒ negative; byte = 23<<1 =
      // 0x2E) → every sample = −40·16/8 + 128 = 48 — pins the NEGATIVE
      // Huffman magnitude rule in the SQL oracle too
      "FFD8" +
        "FFDB" + "0043" + "00" + "10" * 64 +
        "FFC0" + "000B" + "08" + "0008" + "0008" + "01011100" +
        "FFC4" + "0014" + "00" + "01" + "00" * 15 + "06" +
        "FFC4" + "0014" + "10" + "01" + "00" * 15 + "00" +
        "FFDA" + "0008" + "01" + "01" + "0000" + "3F00" +
        "2E" + "FFD9"),
    (5L, "audio", // IMA-ADPCM WAV mono 8000 Hz: fmt tag 0x11,
      // blockAlign 8, samplesPerBlock 9; one block — predictor 1000
      // (= sample 0), step index 10, data nibbles 1,7,F,8,4,2,0,F
      // (low nibble first) → samples 1000, 1006, 1037, 969, 959,
      // 1041, 1096, 1106, 970
      "52494646" + "30000000" + "57415645" +
        "666D7420" + "14000000" + "1100" + "0100" + "401F0000" + "C71B0000" +
        "0800" + "0400" + "0200" + "0900" +
        "64617461" + "08000000" + "E803" + "0A" + "00" + "718F24F0"),
    (8L, "audio", // G.711 μ-law WAV mono 8000 Hz: fmt tag 7, bits 8,
      // cbSize 0; data bytes 0A FF 62 80 expand (complement, bias
      // 0x84, exp shift, sign bit SET = negative) to −21884, 0, −340,
      // 32124 — peak 32124/32768
      "52494646" + "2A000000" + "57415645" +
        "666D7420" + "12000000" + "0700" + "0100" + "401F0000" + "401F0000" +
        "0100" + "0800" + "0000" +
        "64617461" + "04000000" + "0AFF6280"),
    (9L, "audio", // G.711 A-law WAV mono 8000 Hz: fmt tag 6, bits 8;
      // data bytes 55 D5 2A AA expand (XOR 0x55, segment rules, sign
      // bit SET = POSITIVE — the opposite of μ-law) to −8, 8, −32256,
      // 32256 — peak exactly 32256/32768
      "52494646" + "2A000000" + "57415645" +
        "666D7420" + "12000000" + "0600" + "0100" + "401F0000" + "401F0000" +
        "0100" + "0800" + "0000" +
        "64617461" + "04000000" + "55D52AAA"),
    (10L, "image", // TIFF 6.0 LE: 2×2 grey 8-bit uncompressed, one
      // strip — 8 sorted IFD entries (dims, bits 8, compression 1,
      // photometric 1, strip offset 110, spp 1, byte count 4), pixel
      // bytes 10, 200, 60, 90 at FIXED offsets 111-114 → mean 90
      "49492A00" + "08000000" + "0800" +
        "00010300" + "01000000" + "02000000" +
        "01010300" + "01000000" + "02000000" +
        "02010300" + "01000000" + "08000000" +
        "03010300" + "01000000" + "01000000" +
        "06010300" + "01000000" + "01000000" +
        "11010400" + "01000000" + "6E000000" +
        "15010300" + "01000000" + "01000000" +
        "17010400" + "01000000" + "04000000" +
        "00000000" + "0AC83C5A"),
    (11L, "image", // same TIFF with PackBits compression (32773): the
      // strip is one literal run — control byte 0x03 then the four
      // pixel bytes 20, 40, 60, 80 at FIXED offsets 112-115 → mean 50
      "49492A00" + "08000000" + "0800" +
        "00010300" + "01000000" + "02000000" +
        "01010300" + "01000000" + "02000000" +
        "02010300" + "01000000" + "08000000" +
        "03010300" + "01000000" + "05800000" +
        "06010300" + "01000000" + "01000000" +
        "11010400" + "01000000" + "6E000000" +
        "15010300" + "01000000" + "01000000" +
        "17010400" + "01000000" + "05000000" +
        "00000000" + "0314283C50"),
    (13L, "image", // PROGRESSIVE (SOF2) 8×8 grey JPEG, one DC-first
      // scan (Ss=Se=0, Ah=Al=0) and no AC scans: entropy byte 0x59 =
      // 1-bit DC code + 6 magnitude bits (+44) + 1 pad bit, byte-
      // aligned by construction → every sample = 44·16/8 + 128 = 216,
      // re-derived in SQL from the scan byte at fixed offset 117
      "FFD8" +
        "FFDB" + "0043" + "00" + "10" * 64 +
        "FFC2" + "000B" + "08" + "0008" + "0008" + "01011100" +
        "FFC4" + "0014" + "00" + "01" + "00" * 15 + "06" +
        "FFDA" + "0008" + "01" + "0100" + "00" + "00" + "00" +
        "59" + "FFD9"),
    (12L, "audio", // WAVE_FORMAT_EXTENSIBLE (0xFFFE) 24-bit PCM mono:
      // fmt size 40, cbSize 22, PCM SubFormat GUID; four LE s24
      // samples at fixed offsets 69-80 arithmetic-shift to the 16-bit
      // view 16384, −1, −32768, −26094
      "52494646" + "48000000" + "57415645" +
        "666D7420" + "28000000" + "FEFF" + "0100" + "401F0000" + "C05D0000" +
        "0300" + "1800" + "1600" + "1800" + "04000000" +
        "0100000000001000800000AA00389B71" +
        "64617461" + "0C000000" + "000040" + "FFFFFF" + "000080" + "34129A"),
    (6L, "image", // GIF89a 2×2, 4-color GCT (red, green, blue, FF8040),
      // LZW min code 2: codes clear(3b) 0(3b) 1(3b) 2(3b) 3(4b) eoi(4b)
      // pack to bytes 44 34 05 — pixels red/green // blue/#FF8040 →
      // channel means R 127.5, G 95.75, B 79.75
      "474946383961" + "02000200" + "91" + "0000" +
        "FF0000" + "00FF00" + "0000FF" + "FF8040" +
        "2C" + "00000000" + "02000200" + "00" +
        "02" + "03" + "443405" + "00" + "3B"),
    (7L, "audio", // FLAC mono 16-bit 8000 Hz: STREAMINFO(bs 4, 4
      // samples) + one verbatim frame (bsCode 6, CRC-8 B2) carrying
      // 1000, -2000, 3000, -32768 as BE16 at bytes 51-58, CRC-16 1795
      "664C6143" + "80" + "000022" +
        "0004" + "0004" + "000000" + "000000" + "01F400F000000004" + "00" * 16 +
        "FFF8" + "60" + "08" + "00" + "03" + "B2" +
        "02" + "03E8" + "F830" + "0BB8" + "8000" + "1795"),
    (15L, "image", // WebP-lossless (VP8L) 2×2: five SIMPLE prefix
      // codes laid out so the header ends exactly on a byte boundary
      // and the four 2-bit pixels (green selector then blue selector,
      // LSB-first) fill byte 33 — green pair {100, 200}, red 30,
      // blue pair {1, 220}, alpha 255. Validated against the system
      // libwebp decoder when generated; decode path is
      // [[graft.operators.Vp8lDecode.vp8lPixels]]
      "52494646" + "1A000000" + "57454250" + "5650384C" + "0E000000" +
        "2F" + "01400000" + "869321D763B9FB1F" + "9C"))

  /** Path of a temp-file copy of the merges.txt CLASSPATH RESOURCE —
    * the exact bytes [[graft.functions.Bpe.defaultRanks]] parsed, so
    * the Spark kernel and the DuckDB oracle provably share one merge
    * table even when the app runs from a packaged jar (a hardcoded
    * source-tree path could silently diverge from a stale classpath
    * copy). File-loaded (not an inline MAP literal) so the oracle
    * scales with the table: at 1k+ merges an inlined literal bloats
    * every query string and re-parses per query.
    */
  private lazy val bpeMergesPath: String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val in = graft.functions.Bpe.getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "classpath resource /graft/bpe_merges.txt missing")
    val bytes = try in.readAllBytes() finally in.close()
    // CONTENT-ADDRESSED, not deleted on exit: the oracle SQL string
    // outlives this JVM (the driver runs it in DuckDB after Verify
    // exits), and the hash in the name makes a stale copy impossible
    val hex = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .take(8).map("%02x".format(_)).mkString
    val f = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_bpe_merges_$hex.txt")
    if (!Files.exists(f)) {
      val tmp = Files.createTempFile("graft_bpe_merges", ".tmp")
      Files.write(tmp, bytes)
      try Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => Files.delete(tmp) }
    }
    f.toString
  }

  /** DuckDB CTEs loading the merge table from [[bpeMergesPath]] into a
    * MAP (`mt.mm`): rank = order of lines after dropping blanks and the
    * `#version` header ONLY, exactly [[graft.functions.Bpe.parseMerges]]
    * (a merge may legitimately start with '#'). delim=chr(1) never
    * occurs, so each line lands whole; quote/escape disabled (merge
    * tokens may contain quotes).
    */
  private lazy val duckBpeMapCtes =
    s"""mg AS (SELECT trim(line) AS ln FROM read_csv('$bpeMergesPath',
       |         header=false, delim=chr(1), quote='', escape='',
       |         columns={'line':'VARCHAR'})),
       |mr AS (SELECT ln AS k, row_number() OVER () - 1 AS r FROM mg
       |       WHERE ln NOT LIKE '#version%' AND ln <> ''),
       |mt AS (SELECT map(list(k ORDER BY r), list(r ORDER BY r)) AS mm FROM mr)""".stripMargin

  /** shared DuckDB CTEs re-deriving the BPE merge loop exactly:
    * whitespace-run words → codepoint lists → recursive rank-greedy
    * merge (lowest rank wins, leftmost occurrence on ties, ONE merge
    * per step). Requires a `WITH RECURSIVE` prefix.
    */
  private lazy val duckBpeCore =
    s"""$duckBpeMapCtes,
       |wl AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents),
       |wq AS (SELECT doc_id, unnest(ws) AS word FROM wl),
       |w AS (SELECT DISTINCT word FROM wq),
       |init AS (SELECT word, string_split(word, '') AS toks FROM w),
       |bpe AS (
       |  SELECT word, toks FROM init
       |  UNION ALL
       |  SELECT word,
       |    list_concat(list_concat(list_slice(toks, 1, bi - 1),
       |      [toks[bi] || toks[bi + 1]]), list_slice(toks, bi + 2, len(toks))) AS toks
       |  FROM (
       |    SELECT word, toks, list_position(rk, list_min(rk)) AS bi, list_min(rk) AS br
       |    FROM (
       |      SELECT word, toks, list_transform(range(1, len(toks)),
       |        i -> coalesce((mm[toks[i] || ' ' || toks[i + 1]])[1], 1000000)) AS rk
       |      FROM bpe, mt) WHERE len(toks) > 1)
       |  WHERE br < 1000000)""".stripMargin

  /** per-doc BPE token counts (`bc`), empty docs included as 0. */
  private lazy val duckBpeCounts =
    s"""$duckBpeCore,
       |wn AS (SELECT word, min(len(toks)) AS n FROM bpe GROUP BY word),
       |bc AS (SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_bpe
       |       FROM documents d LEFT JOIN (
       |         SELECT wq.doc_id, sum(wn.n) AS n FROM wq JOIN wn USING (word) GROUP BY 1) s
       |       USING (doc_id))""".stripMargin

  /** per-doc ▁-marked piece lists (`dp`), word order preserved, empty
    * docs as empty lists — mirrors `Bpe.markedPiecesEval`.
    */
  private lazy val duckBpePieces =
    s"""$duckBpeCore,
       |wp AS (SELECT word, min_by(toks, len(toks)) AS toks FROM bpe GROUP BY word),
       |wpm AS (SELECT word, list_transform(range(1, len(toks) + 1),
       |  i -> CASE WHEN i = 1 THEN '▁' || toks[CAST(i AS INT)]
       |            ELSE toks[CAST(i AS INT)] END) AS mp FROM wp),
       |pos AS (SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS p FROM wl),
       |docp AS (SELECT pos.doc_id, flatten(list(wpm.mp ORDER BY pos.p)) AS pieces
       |         FROM pos JOIN wpm USING (word) GROUP BY pos.doc_id),
       |dp AS (SELECT d.doc_id, COALESCE(docp.pieces, CAST([] AS VARCHAR[])) AS pieces
       |       FROM documents d LEFT JOIN docp USING (doc_id))""".stripMargin

  /** DuckDB CTE block for one Lloyd iteration of the IVF quantizer
    * (mirrors [[graft.operators.Similarity.ivfCentroids]] exactly):
    * c{i} → unit-normalize → assign train rows (argmax dot, ties →
    * lowest index) → integer-quantized per-cluster mean (sum of
    * round(x·2²⁰) as int64, truncating division — summation-order-free
    * on both engines) → c{i+1}. Empty clusters reseed to the furthest
    * training vectors (lowest best-dot, ties → lowest id; j-th empty
    * list by index ← j-th furthest point), same rule as the Spark loop.
    */
  private def duckIvfIter(i: Int, p: String = ""): String = {
    val (c, u, s, a, q, e, f, cn) =
      (s"${p}c$i", s"${p}u$i", s"${p}s$i", s"${p}a$i", s"${p}q$i", s"${p}e$i", s"${p}f$i", s"${p}c${i + 1}")
    s"""$u AS (
       |  SELECT c, CASE WHEN nrm = 0 THEN vec
       |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
       |  FROM (SELECT c, vec,
       |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
       |        FROM $c)),
       |$s AS (
       |  SELECT t.id, t.vec, u.c,
       |    list_sum(list_transform(list_zip(t.vec, u.uvec),
       |      p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) AS s
       |  FROM ${p}train t CROSS JOIN $u u),
       |$a AS (
       |  SELECT id, vec, c AS cluster, s FROM (
       |    SELECT id, vec, c, s, row_number() OVER (PARTITION BY id ORDER BY s DESC, c ASC) AS rn
       |    FROM $s) WHERE rn = 1),
       |$q AS (
       |  SELECT cluster, pos, sum(CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qs,
       |         count(*) AS cnt
       |  FROM (SELECT cluster, unnest(range(1, len(vec)+1)) AS pos, unnest(vec) AS x FROM $a)
       |  GROUP BY 1, 2),
       |$e AS (
       |  SELECT c, row_number() OVER (ORDER BY c) AS j
       |  FROM $c WHERE c NOT IN (SELECT DISTINCT cluster FROM $a)),
       |$f AS (
       |  SELECT vec, row_number() OVER (ORDER BY s ASC, id ASC) AS j FROM $a),
       |$cn AS (
       |  SELECT old.c, COALESCE(rs.vec, n.nv, old.vec) AS vec
       |  FROM $c old LEFT JOIN (
       |    SELECT cluster AS c,
       |           list(CAST(CAST(qs // cnt AS DOUBLE) / 1048576.0 AS REAL) ORDER BY pos) AS nv
       |    FROM $q GROUP BY 1) n USING (c)
       |  LEFT JOIN (SELECT $e.c, $f.vec FROM $e JOIN $f USING (j)) rs USING (c))""".stripMargin
  }

  /** Per-subspace PQ quantizer CTEs (prefix `p`): slice the shared
    * `train` sample to [lo..hi], init `ksub` codewords, two Lloyd
    * iterations via the SAME [[duckIvfIter]] the IVF oracles use, then
    * assign every corpus row (argmax dot on unit codewords, ties →
    * lowest index) and join back the RAW codeword as the subspace
    * reconstruction — mirrors
    * [[graft.operators.Similarity.pqCodebooks]]/`pqEncode`/`pqReconstruct`.
    */
  private def duckPqSubspace(p: String, lo: Int, hi: Int, ksub: Int,
                             trainSrc: String = "train", corpusSrc: String = "v"): String =
    s"""${p}train AS (SELECT id, vec[$lo:$hi] AS vec FROM $trainSrc),
       |${p}c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
       |       FROM (SELECT id, vec FROM ${p}train ORDER BY id LIMIT $ksub)),
       |${duckIvfIter(0, p)},
       |${duckIvfIter(1, p)},
       |${p}uf AS (
       |  SELECT c, CASE WHEN nrm = 0 THEN vec
       |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
       |  FROM (SELECT c, vec,
       |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
       |        FROM ${p}c2)),
       |${p}asg AS (
       |  SELECT id, c FROM (
       |    SELECT sv.id, u.c,
       |      row_number() OVER (PARTITION BY sv.id
       |        ORDER BY list_sum(list_transform(list_zip(sv.vec, u.uvec),
       |          z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) DESC, u.c ASC) AS rn
       |    FROM (SELECT id, vec[$lo:$hi] AS vec FROM $corpusSrc) sv CROSS JOIN ${p}uf u)
       |  WHERE rn = 1),
       |${p}rec AS (SELECT a.id, cb.vec AS rvec FROM ${p}asg a JOIN ${p}c2 cb USING (c))""".stripMargin

  /** DuckDB oracle for [[graft.operators.Dedup.semanticDedup]]: the
    * ann_ivf quantizer CTEs verbatim (identical learned index), then
    * within-list pairs above eps, a recursive-CTE component closure
    * (same shape as dd_components), and the keep-low-centroid-cosine
    * representative rule. `maxListOccupancy` None → no cap (the
    * operator default never binds at test SFs); Some(cap) mirrors the
    * oversized-list exclusion.
    */
  /** `out`: "labels" = (vec_id, grp, keep); "keep" = kept vec_ids only;
    * "pairs" = the raw eps-graph edges (da, db) — shared by the batch
    * pair stage and the batch-driven streaming variant.
    */
  private def duckSemdedupSql(
      maxListOccupancy: Option[Long], out: String = "labels"): String = {
    val okCte = maxListOccupancy match {
      case Some(cap) =>
        s"""ok AS (SELECT * FROM asg WHERE list NOT IN (
           |  SELECT list FROM (SELECT list, count(*) AS m FROM asg GROUP BY list)
           |  WHERE m > $cap)),""".stripMargin
      case None => "ok AS (SELECT * FROM asg),"
    }
    s"""WITH RECURSIVE v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
       |train AS (SELECT id, vec FROM v
       |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
       |          LIMIT 100000),
       |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
       |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 16)),
       |${duckIvfIter(0)},
       |${duckIvfIter(1)},
       |uf AS (
       |  SELECT c, CASE WHEN nrm = 0 THEN vec
       |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
       |  FROM (SELECT c, vec,
       |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
       |        FROM c2)),
       |vs AS (
       |  SELECT v.id, v.vec, u.c,
       |    list_sum(list_transform(list_zip(v.vec, u.uvec),
       |      p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) AS s,
       |    row_number() OVER (PARTITION BY v.id
       |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
       |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
       |  FROM v CROSS JOIN uf u),
       |nrm AS (SELECT id, list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm FROM v),
       |asg AS (SELECT vs.id, vs.vec, vs.c AS list, n.nrm,
       |          CASE WHEN n.nrm = 0 THEN -1.0 ELSE vs.s / sqrt(n.nrm) END AS cc
       |        FROM vs JOIN nrm n ON vs.id = n.id WHERE vs.rn = 1),
       |$okCte
       |pr AS (SELECT a.id AS da, b.id AS db
       |       FROM ok a JOIN ok b ON a.list = b.list AND a.id < b.id
       |       WHERE a.nrm > 0 AND b.nrm > 0
       |         AND list_sum(list_transform(list_zip(a.vec, b.vec),
       |               z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))
       |             / sqrt(a.nrm * b.nrm) > 0.4),
       |e AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db, da FROM pr),
       |reach AS (
       |  SELECT a AS id, a AS r FROM e
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
       |cmp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |wc AS (SELECT asg.id, asg.cc, cmp.comp FROM asg LEFT JOIN cmp ON asg.id = cmp.id),
       |rep AS (SELECT comp, id AS rep FROM (
       |         SELECT comp, id, row_number() OVER (PARTITION BY comp ORDER BY cc ASC, id ASC) AS rn
       |         FROM wc WHERE comp IS NOT NULL) WHERE rn = 1)
       |${out match {
          case "keep" =>
            """SELECT wc.id AS vec_id
              |FROM wc LEFT JOIN rep ON wc.comp = rep.comp
              |WHERE wc.comp IS NULL OR wc.id = rep.rep""".stripMargin
          case "pairs" =>
            "SELECT da, db FROM pr"
          case _ =>
            """SELECT wc.id AS vec_id, COALESCE(wc.comp, wc.id) AS grp,
              |       (wc.comp IS NULL OR wc.id = rep.rep) AS keep
              |FROM wc LEFT JOIN rep ON wc.comp = rep.comp""".stripMargin}}""".stripMargin
  }

  /** The web-page template pieces — the ONE source for the Scala
    * synthesis ([[webHtmlCol]]) and the SQL oracle expression
    * ([[webHtmlSql]]) that rebuilds the identical string, so the WARC
    * offset oracle can never silently drift from the synthesis. */
  private val WebP1 = "<html><head><title>Doc "
  private val WebP2 = "</title><style media=\"all\">body{color:#000}</style>" +
    "<script type=\"text/javascript\">var x='<p>not text</p>';</script></head>\n<body><p>"
  private val WebP3 = "</p>\n<a href=\"HTTP://WWW.Site"
  private val WebP4 = ".COM:80/p/"
  private val WebP5 = "/?utm_source=feed&b=2&a=1#frag\">more</a><!-- nav <div>x</div> -->" +
    "<a href=\"https://cdn.site"
  private val WebP6 = ".com:8080/img/"
  private val WebP7 = "?gclid=x&id=2\">img</a><div class=\"nav\">Fish &amp; Chips &lt;deal&gt;" +
    "&nbsp;now &#39;hot&#39; &quot;q&quot;</div></body></html>"

  private def webHtmlCol: org.apache.spark.sql.Column = concat(
    lit(WebP1), col("doc_id"), lit(WebP2), substring(col("text"), 1, 200),
    lit(WebP3), pmod(col("doc_id"), lit(7L)), lit(WebP4), pmod(col("doc_id"), lit(211L)),
    lit(WebP5), pmod(col("doc_id"), lit(5L)), lit(WebP6), col("doc_id"), lit(WebP7))

  /** a Scala string as a DuckDB literal (quotes doubled, embedded
    * newlines via chr(10) so stripMargin oracles stay one-per-line). */
  private def sqlStr(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** DuckDB expression rebuilding [[webHtmlCol]] from `documents`. */
  private def webHtmlSql: String = Seq(
    sqlStr(WebP1), "doc_id", sqlStr(WebP2), "substr(text, 1, 200)",
    sqlStr(WebP3), "(doc_id % 7)", sqlStr(WebP4), "(doc_id % 211)",
    sqlStr(WebP5), "(doc_id % 5)", sqlStr(WebP6), "doc_id", sqlStr(WebP7)
  ).mkString(" || ")

  /** Crawl-ingest synthesis: each document wrapped in a deterministic
    * HTML page — head with title/style/script (the script string even
    * contains a fake tag), the doc text in a `<p>`, two links (one
    * with uppercase scheme/host, default port, tracking params and a
    * fragment; one on a non-default port), a comment containing
    * markup, and a boilerplate div exercising the whole supported
    * entity set. Shared by the `ta_html_*` / web-ingest queries. */
  private def synthWebHtml(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "documents").select(col("doc_id"), webHtmlCol.as("html"))

  // ---- WARC synthesis constants (all ASCII, so character counts ==
  //      byte counts and SQL length() arithmetic matches the parser's
  //      byte offsets exactly) ----
  private val WarcInfoBody = "software: graft-crawler/13\r\nformat: WARC File Format 1.0"
  private val WarcHttpHdr = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
  private val WarcRec0 =
    "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: " + WarcInfoBody.length +
      "\r\n\r\n" + WarcInfoBody + "\r\n\r\n"
  private val WarcRec1Pre = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
  /** record-1 header bytes that are independent of uri/length digits:
    * prefix + "\r\nContent-Length: " + terminating "\r\n\r\n" + the
    * HTTP headers before the body. */
  private val WarcRec1Fixed =
    WarcRec1Pre.length + "\r\nContent-Length: ".length + 4 + WarcHttpHdr.length

  /** Two-record WARC per document: a warcinfo record (constant bytes)
    * then a response record whose HTTP body is the [[webHtmlCol]]
    * page and whose target URI carries the canonicalization-relevant
    * noise (uppercase scheme/host, www, default port, trailing slash,
    * tracking param). */
  private def synthWarc(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
    val uri = concat(lit("HTTP://WWW.Site"), pmod(col("doc_id"), lit(7L)),
      lit(".COM:80/p/"), pmod(col("doc_id"), lit(211L)), lit("/?utm_source=feed&b=2&a=1"))
    val html = webHtmlCol
    // BYTE length (the parser counts octets): character length would
    // silently undercount any non-ASCII document text and reject the
    // whole record at the separator check
    val blockLen = (length(encode(html, "UTF-8")) + lit(WarcHttpHdr.length)).cast("string")
    Tables(s, dir, "documents").select(col("doc_id"), lit("warc").as("kind"),
      encode(concat(lit(WarcRec0 + WarcRec1Pre), uri, lit("\r\nContent-Length: "),
        blockLen, lit("\r\n\r\n" + WarcHttpHdr), html, lit("\r\n\r\n")), "UTF-8")
        .as("content")).as[Multimodal.MediaRow]
  }

  // ---- JVM-side WARC synthesis for the REAL-ARCHIVE wire shapes
  //      (chunked framing / gzip payloads / non-UTF-8 charsets can't
  //      be built from Column expressions): a Scala mirror of the
  //      same template constants, so the expected text the oracles
  //      state stays a direct construction from doc arithmetic. ----

  /** Scala mirror of [[webHtmlCol]] — same pieces, same substr. */
  private def webHtmlStr(id: Long, text: String): String =
    WebP1 + id + WebP2 + text.take(200) + WebP3 + (id % 7) + WebP4 + (id % 211) +
      WebP5 + (id % 5) + WebP6 + id + WebP7

  private val WarcAscii = java.nio.charset.StandardCharsets.US_ASCII

  /** one response record whose HTTP message carries `extraHeaders`
    * and the given raw body BYTES (Content-Length in octets); a
    * non-empty `digest` adds the `WARC-Payload-Digest` header. */
  private def warcHttpRecord(uri: String, extraHeaders: String,
                             body: Array[Byte], digest: String = ""): Array[Byte] = {
    val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n$extraHeaders\r\n"
      .getBytes(WarcAscii) ++ body
    val dig = if (digest.isEmpty) "" else s"WARC-Payload-Digest: $digest\r\n"
    (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" + dig +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(WarcAscii) ++
      http ++ "\r\n\r\n".getBytes(WarcAscii)
  }

  /** one 3xx response record whose `Location` names the target. */
  private def warcRedirectRecord(fromUri: String, status: Int,
                                 toUri: String): Array[Byte] = {
    val http = (s"HTTP/1.1 $status Moved\r\nLocation: $toUri\r\n" +
      "Content-Type: text/html\r\n\r\n").getBytes(WarcAscii)
    (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $fromUri\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(WarcAscii) ++
      http ++ "\r\n\r\n".getBytes(WarcAscii)
  }

  /** one `revisit` record: headers-only block (the re-fetch carried
    * no payload), identity rides `WARC-Payload-Digest`. */
  private def warcRevisitRecord(uri: String, digest: String): Array[Byte] = {
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n".getBytes(WarcAscii)
    (s"WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Payload-Digest: $digest\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(WarcAscii) ++
      http ++ "\r\n\r\n".getBytes(WarcAscii)
  }

  /** RFC 9112 §7.1 chunked framing at a fixed chunk size. */
  private def chunkify(b: Array[Byte], size: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length + 64)
    b.grouped(size).foreach { c =>
      bos.write((c.length.toHexString + "\r\n").getBytes(WarcAscii))
      bos.write(c); bos.write("\r\n".getBytes(WarcAscii))
    }
    bos.write("0\r\n\r\n".getBytes(WarcAscii))
    bos.toByteArray
  }

  private def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  /** one zstd frame (RFC 9659 `Content-Encoding: zstd` wire form). */
  private def zstdBytes(b: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(b, 3)

  /** a `.warc.zst` member in the IIPC warc-zstd layout: the shared
    * dictionary in a LEADING SKIPPABLE FRAME (magic `0x184D2A5D`),
    * then ONE ZSTD FRAME PER RECORD compressed against it — the
    * seekable form real archives ship, and the one that FAILS LOUDLY
    * if the reader's dictionary plumbing is wrong (frames don't
    * decode without the dict, they never emit garbage). */
  private def zstdWarcFile(records: Seq[Array[Byte]],
                           dict: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
    }
    le32(0x184D2A5D); le32(dict.length); bos.write(dict)
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(3); ctx.loadDict(dict)
      records.foreach(r => bos.write(ctx.compress(r)))
    } finally ctx.close()
    bos.toByteArray
  }

  private def mediaRowEnc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
    org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]

  /** documents → (doc_id, text) → MediaRow via a JVM synthesis fn,
    * still one narrow map-only pass. */
  private def synthMedia(s: org.apache.spark.sql.SparkSession, dir: String)(
      f: (Long, String) => Seq[Multimodal.MediaRow]):
      org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    implicit val encT: org.apache.spark.sql.Encoder[(Long, String)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.STRING)
    implicit val encM: org.apache.spark.sql.Encoder[Multimodal.MediaRow] = mediaRowEnc
    Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(it => it.flatMap { case (id, text) => f(id, text) })
  }

  /** The shared link-rank computation for `ta_link_rank` /
    * `ta_link_rank_apply`: edges from the real extractLinks →
    * canonicalizeUrl → hostOf chain plus two arithmetic-derived edge
    * families (cdn backlinks per even doc, dangling peer hosts per
    * 17th doc); four exact-integer iterations, out-degree cap 6
    * (BINDS three ways on this graph: site hosts drop their
    * self-edge + all but one peer, cdn hosts drop site6). */
  private def linkRankDf(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables(s, dir, "documents")
    val site = concat(lit("site"), pmod(col("doc_id"), lit(7L)), lit(".com"))
    val cdn = concat(lit("cdn.site"), pmod(col("doc_id"), lit(5L)), lit(".com"))
    val pageEdges = synthWebHtml(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.WebFunctions.extractLinks(col("html"))).as("link"))
      .select(site.as("src"),
        graft.functions.WebFunctions.hostOf(
          graft.functions.WebFunctions.canonicalizeUrl(col("link"))).as("dst"))
    val backEdges = d.where(pmod(col("doc_id"), lit(2L)) === 0)
      .select(cdn.as("src"), site.as("dst"))
    val peerEdges = d.where(pmod(col("doc_id"), lit(17L)) === 0)
      .select(site.as("src"),
        concat(lit("peer"), pmod(col("doc_id"), lit(11L)), lit(".example")).as("dst"))
    // graphPartitions = 4: the host graph is DIM-sized (a dozen hosts
    // here; 10⁸ at corpus scale vs 10¹¹ pages), so its stages get a
    // graph-sized task count, not the corpus-sized session width
    graft.operators.LinkRank.hostRank(
      pageEdges.unionByName(backEdges).unionByName(peerEdges),
      iterations = 4, maxOutDegree = 6, graphPartitions = 4)
  }

  /** DuckDB replay of [[linkRankDf]], CTE-by-CTE: same capped edge
    * derivation, same four integer iterations, ending at `r4`. */
  private lazy val linkRankCtes: String = {
    val iters = (1 to 4).map { k =>
      s"""inc$k AS (SELECT c.dst AS host, sum(r.rank // r.outdeg) AS inc
         |  FROM capped c JOIN r${k - 1} r ON c.src = r.host WHERE r.outdeg > 0 GROUP BY 1),
         |dg$k AS (SELECT COALESCE(sum(rank), 0) AS dangle FROM r${k - 1} WHERE outdeg = 0),
         |r$k AS (SELECT d.host, d.outdeg,
         |    (1000000000000 - 1000000000000 * 850000 // 1000000) // nn.n +
         |    850000 * (COALESCE(i.inc, 0) + dg$k.dangle // nn.n) // 1000000 AS rank
         |  FROM deg d CROSS JOIN nn CROSS JOIN dg$k LEFT JOIN inc$k i ON d.host = i.host)"""
        .stripMargin
    }.mkString(",\n")
    s"""e0 AS (
       |  SELECT 'site' || (doc_id % 7) || '.com' AS src,
       |         'site' || (doc_id % 7) || '.com' AS dst FROM documents
       |  UNION
       |  SELECT 'site' || (doc_id % 7) || '.com',
       |         'cdn.site' || (doc_id % 5) || '.com' FROM documents
       |  UNION
       |  SELECT 'cdn.site' || (doc_id % 5) || '.com',
       |         'site' || (doc_id % 7) || '.com' FROM documents WHERE doc_id % 2 = 0
       |  UNION
       |  SELECT 'site' || (doc_id % 7) || '.com',
       |         'peer' || (doc_id % 11) || '.example' FROM documents WHERE doc_id % 17 = 0),
       |capped AS (SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM e0) WHERE rn <= 6),
       |nodes AS (SELECT DISTINCT host FROM
       |  (SELECT src AS host FROM capped UNION ALL SELECT dst AS host FROM capped)),
       |deg AS (SELECT n.host, COALESCE(o.c, 0) AS outdeg FROM nodes n
       |  LEFT JOIN (SELECT src, count(*) AS c FROM capped GROUP BY 1) o ON n.host = o.src),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT d.host, d.outdeg, 1000000000000 // nn.n AS rank
       |  FROM deg d CROSS JOIN nn),
       |$iters""".stripMargin
  }

  def defs: Map[String, Q] = Map(

    // ---- token-window chunking (64-token chunks, 16-token overlap):
    //      pure map-side Generate, integer chunk boundaries — the
    //      context-window packing step of a training pipeline ----
    "ta_chunk" -> Q(
      (s, dir) =>
        Chunking.chunk(Tables(s, dir, "documents"), "doc_id", "text",
          chunkSize = 64, overlap = 16),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS toks
             |          FROM documents),
             |d AS (SELECT doc_id, toks, len(toks) AS n,
             |        CASE WHEN len(toks) <= 64 THEN 1
             |             ELSE (len(toks) - 64 + 47) // 48 + 1 END AS k
             |      FROM t),
             |i AS (SELECT doc_id, toks, n, unnest(range(0, k)) AS chunk_idx FROM d)
             |SELECT doc_id, chunk_idx,
             |  array_to_string(list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64), ' ') AS chunk_text,
             |  least(CAST(64 AS BIGINT), n - chunk_idx*48) AS n_tokens
             |FROM i""".stripMargin)),

    // ---- content-defined chunking: boundaries anchored to CONTENT
    //      (word-hash ≡ D-1 mod D), so an edit reshapes one chunk, not
    //      every window after it — the rsync/LBFS trick on word
    //      streams. Shuffle-free map; oracle re-derives every boundary
    //      and fingerprint from the shared integer hash ----
    "ta_cdc_chunk" -> Q(
      (s, dir) =>
        graft.operators.Chunking.cdcChunks(
          Tables(s, dir, "documents"), "doc_id", "text", avgWords = 16),
      Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
              |          FROM documents),
              |b AS (SELECT doc_id, ws, list_transform(range(1, len(ws)-1),
              |        i -> ${duckShingleKey("array_to_string(ws[i:i+2], ' ')")}) AS ks
              |      FROM t WHERE len(ws) > 0),
              |m1 AS (SELECT doc_id, ws, list_transform(ks, k -> xor(k, k >> 33)) AS ms FROM b),
              |m2 AS (SELECT doc_id, ws, list_transform(ms, k -> xor(k, k >> 17)) AS ms FROM m1),
              |m3 AS (SELECT doc_id, ws, list_transform(ms, k -> xor(k, k >> 7)) AS ms FROM m2),
              |c AS (SELECT doc_id, ws, list_filter(range(3, len(ws)+1), i -> ms[i-2] % 16 = 15) AS cuts
              |      FROM m3),
              |s AS (SELECT doc_id, ws, list_prepend(1, list_transform(cuts, x -> x+1)) AS st,
              |        list_append(cuts, len(ws)) AS en FROM c),
              |j AS (SELECT doc_id, ws, st, en,
              |        unnest(list_filter(range(1, len(st)+1), k -> st[k] <= en[k])) AS k FROM s),
              |r AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS chunk_idx,
              |        array_to_string(ws[st[k]:en[k]], ' ') AS chunk_text,
              |        en[k] - st[k] + 1 AS n_words FROM j)
              |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk_text,
              |  CAST(n_words AS BIGINT) AS n_words,
              |  list_reduce(list_prepend(CAST(7 AS BIGINT),
              |    list_transform(string_split(chunk_text,' '), w -> ${duckCharHash("w")})),
              |    (a,b) -> (a*131+b) % 1000000007) AS chunk_fp
              |FROM r""".stripMargin)),

    // ---- chunk-level exact dedup over the CDC chunks: which chunks
    //      recur across docs. One count-state hash agg on the chunk
    //      fingerprint — a million-doc boilerplate chunk costs a
    //      counter, never a posting list ----
    "dd_cdc_dedup" -> Q(
      (s, dir) =>
        graft.operators.Dedup.cdcDuplicateChunks(
          Tables(s, dir, "documents"), "doc_id", "text",
          avgWords = 16, minWords = 5),
      Some(s"""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS ws
              |          FROM documents),
              |b AS (SELECT doc_id, ws, list_transform(range(1, len(ws)-1),
              |        i -> ${duckShingleKey("array_to_string(ws[i:i+2], ' ')")}) AS ks
              |      FROM t WHERE len(ws) > 0),
              |m1 AS (SELECT doc_id, ws, list_transform(ks, k -> xor(k, k >> 33)) AS ms FROM b),
              |m2 AS (SELECT doc_id, ws, list_transform(ms, k -> xor(k, k >> 17)) AS ms FROM m1),
              |m3 AS (SELECT doc_id, ws, list_transform(ms, k -> xor(k, k >> 7)) AS ms FROM m2),
              |c AS (SELECT doc_id, ws, list_filter(range(3, len(ws)+1), i -> ms[i-2] % 16 = 15) AS cuts
              |      FROM m3),
              |s AS (SELECT doc_id, ws, list_prepend(1, list_transform(cuts, x -> x+1)) AS st,
              |        list_append(cuts, len(ws)) AS en FROM c),
              |j AS (SELECT doc_id, ws, st, en,
              |        unnest(list_filter(range(1, len(st)+1), k -> st[k] <= en[k])) AS k FROM s),
              |r AS (SELECT doc_id, array_to_string(ws[st[k]:en[k]], ' ') AS chunk_text,
              |        en[k] - st[k] + 1 AS n_words FROM j),
              |f AS (SELECT doc_id,
              |        list_reduce(list_prepend(CAST(7 AS BIGINT),
              |          list_transform(string_split(chunk_text,' '), w -> ${duckCharHash("w")})),
              |          (a,b) -> (a*131+b) % 1000000007) AS chunk_fp
              |      FROM r WHERE n_words >= 5)
              |SELECT chunk_fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
              |  CAST(count(*) AS BIGINT) AS n_occurrences,
              |  CAST(min(doc_id) AS BIGINT) AS min_doc
              |FROM f GROUP BY chunk_fp HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),

    // ---- CDC keep-latest compaction (newest row per key — upsert log
    //      to current snapshot). ONE hash agg via lexicographic struct
    //      max, not a row_number window: partial aggregation keeps a
    //      skewed hot key map-side instead of in one window partition ----
    "dd_keep_latest" -> Q(
      (s, dir) =>
        Dedup.keepLatest(Tables(s, dir, "events"),
          Seq("user_id", "event_type"), "ts", "event_id"),
      Some("""SELECT user_id, event_type, last_ms, last_id, n_versions FROM (
             |  SELECT user_id, event_type,
             |    epoch_us(ts) // 1000 AS last_ms, event_id AS last_id,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
             |    count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
             |  FROM events) WHERE rn = 1""".stripMargin)),

    // ---- snapshot diff: keyed audit between two table versions (one
    //      co-partitioned full-outer join; per-row status + which
    //      columns changed). Versions carved from events: old drops
    //      id%7=0, new drops id%5=0 and perturbs value on id%3=0 ----
    "dd_snapshot_diff" -> Q(
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val old = ev.filter(col("event_id") % 7 =!= 0)
          .select("event_id", "event_type", "value", "props")
        val nw = ev.filter(col("event_id") % 5 =!= 0)
          .select(col("event_id"), col("event_type"),
            when(col("event_id") % 3 === 0, col("value") + 1.0)
              .otherwise(col("value")).as("value"),
            col("props"))
        Dedup.snapshotDiff(old, nw, Seq("event_id"),
            Seq("event_type", "value", "props"))
          // join the array to a string for the cross-engine hash gate
          .withColumn("changed_cols", array_join(col("changed_cols"), ","))
      },
      Some("""WITH o AS (SELECT event_id, event_type, value, props FROM events
             |            WHERE event_id % 7 <> 0),
             |n AS (SELECT event_id, event_type,
             |        CASE WHEN event_id % 3 = 0 THEN value + 1.0 ELSE value END AS value,
             |        props
             |      FROM events WHERE event_id % 5 <> 0),
             |j AS (SELECT coalesce(o.event_id, n.event_id) AS event_id,
             |        o.event_id IS NOT NULL AS op, n.event_id IS NOT NULL AS np,
             |        list_filter([
             |          CASE WHEN NOT (o.event_type IS NOT DISTINCT FROM n.event_type) THEN 'event_type' END,
             |          CASE WHEN NOT (o.value IS NOT DISTINCT FROM n.value) THEN 'value' END,
             |          CASE WHEN NOT (o.props IS NOT DISTINCT FROM n.props) THEN 'props' END],
             |          x -> x IS NOT NULL) AS ch
             |      FROM o FULL JOIN n ON o.event_id = n.event_id)
             |SELECT event_id,
             |  CASE WHEN NOT op THEN 'added' WHEN NOT np THEN 'removed'
             |       WHEN len(ch) > 0 THEN 'changed' ELSE 'unchanged' END AS status,
             |  CASE WHEN op AND np THEN coalesce(array_to_string(ch, ','), '') ELSE '' END AS changed_cols
             |FROM j""".stripMargin)),

    // ---- sparse TF-IDF cosine pairs (lexical similarity without an
    //      embedding model): weighted inverted index, integer weights
    //      tf·1000 DIV df, threshold as decimal cross-multiplication —
    //      pair membership engine-exact ----
    "ta_tfidf_cosine" -> Q(
      (s, dir) =>
        TextSim.tfidfCosinePairs(Tables(s, dir, "documents"), "doc_id", "text",
          tNum = 9, tDen = 10, maxTermDocs = 1000L),
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(list_filter(string_split(text,' '), w -> w <> '')) AS w FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 1000),
             |wt AS (SELECT t.doc_id, t.w, (t.tf * 1000) // d.df AS wt
             |       FROM tf t JOIN dfreq d USING (w)),
             |nrm AS (SELECT doc_id, CAST(sum(wt*wt) AS BIGINT) AS nrm FROM wt GROUP BY 1),
             |pr AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(sum(a.wt*b.wt) AS BIGINT) AS num
             |       FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT p.da, p.db, p.num, sa.nrm AS na, sb.nrm AS nb
             |FROM pr p JOIN nrm sa ON p.da = sa.doc_id JOIN nrm sb ON p.db = sb.doc_id
             |WHERE 100 * CAST(p.num AS HUGEINT) * p.num >= 81 * CAST(sa.nrm AS HUGEINT) * sb.nrm""".stripMargin)),

    // ---- BM25 lexical top-k retrieval (the term-match twin of the
    //      ANN top-k family): integer-rational BM25 (k1=6/5, b=3/4,
    //      ratio idf ×1000 without the log), df-capped posting lists,
    //      probe terms broadcast, k-bounded top-k aggregate. Probes =
    //      every 100th doc querying with its own text, so the corpus
    //      scan is shared and the probe count scales with SF ----
    "ta_bm25" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        TextSim.bm25TopK(d, "doc_id", "text",
          d.filter(col("doc_id") % 100 === 0), "doc_id", "text",
          k = 10, maxTermDocs = 100000L)
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(list_filter(string_split(text,' '), w -> w <> '')) AS w FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
             |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
             |av AS (SELECT count(*) AS n, sum(dl) // count(*) AS avgdl FROM dl),
             |dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 100000),
             |qt AS (SELECT DISTINCT doc_id AS qid, w FROM tok WHERE doc_id % 100 = 0),
             |sc AS (SELECT q.qid, t.doc_id AS nid,
             |    CAST(sum((CAST((((CAST(av.n AS HUGEINT) - f.df) * 2 + 1) * 1000
             |               // (f.df * 2 + 1)) AS HUGEINT)
             |           * t.tf * 22 * av.avgdl)
             |        // (CAST(10 AS HUGEINT) * av.avgdl * t.tf
             |           + 3 * av.avgdl + 9 * d.dl)) AS BIGINT) AS score
             |  FROM qt q JOIN dfr f USING (w) JOIN tf t USING (w)
             |       JOIN dl d ON t.doc_id = d.doc_id, av
             |  GROUP BY 1, 2),
             |rk AS (SELECT qid, nid, score,
             |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM sc)
             |SELECT qid, rank, nid, score FROM rk WHERE rank <= 10""".stripMargin)),

    // ---- BM25 over a REALISTIC vocabulary: ta_bm25 runs on the
    //      driver corpus's 31-word vocabulary, where every posting
    //      list is ~78% of the corpus BY CONSTRUCTION — the documented
    //      adversarial bound that defeats df-shedding. This twin is
    //      the shape users actually get: a ~500-term synthetic
    //      vocabulary (df ≪ N, posting lists bounded) PLUS four
    //      stopword-grade tokens in every doc that maxTermDocs=400
    //      must shed at every SF (df = N ≥ 500 everywhere; content
    //      terms df ≈ N/18 survive) — the cap binds, candidates per
    //      query stay Σ df over its terms, and the steady-state cost
    //      is the one SCALING.md prices for real Zipf corpora. ----
    "ta_bm25_wide" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val stop = array(lit("the"), lit("of"), lit("and"), lit("to"))
        val toks = transform(sequence(lit(0), lit(31)), j =>
          when(j < 4, element_at(stop, (j + 1).cast("int")))
            .otherwise(concat(lit("t"), pmod(col("doc_id") * 7 + j * 13, lit(499)))))
        val syn = d.select(col("doc_id"), array_join(toks, " ").as("text"))
        TextSim.bm25TopK(syn, "doc_id", "text",
          syn.filter(col("doc_id") % 100 === 0), "doc_id", "text",
          k = 10, maxTermDocs = 400L)
      },
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(list_transform(range(0, 32), j -> CASE WHEN j < 4
             |    THEN (['the','of','and','to'])[j + 1]
             |    ELSE 't' || ((doc_id * 7 + j * 13) % 499) END)) AS w FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
             |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
             |av AS (SELECT count(*) AS n, sum(dl) // count(*) AS avgdl FROM dl),
             |dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 400),
             |qt AS (SELECT DISTINCT doc_id AS qid, w FROM tok WHERE doc_id % 100 = 0),
             |sc AS (SELECT q.qid, t.doc_id AS nid,
             |    CAST(sum((CAST((((CAST(av.n AS HUGEINT) - f.df) * 2 + 1) * 1000
             |               // (f.df * 2 + 1)) AS HUGEINT)
             |           * t.tf * 22 * av.avgdl)
             |        // (CAST(10 AS HUGEINT) * av.avgdl * t.tf
             |           + 3 * av.avgdl + 9 * d.dl)) AS BIGINT) AS score
             |  FROM qt q JOIN dfr f USING (w) JOIN tf t USING (w)
             |       JOIN dl d ON t.doc_id = d.doc_id, av
             |  GROUP BY 1, 2),
             |rk AS (SELECT qid, nid, score,
             |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS rank FROM sc)
             |SELECT qid, rank, nid, score FROM rk WHERE rank <= 10""".stripMargin)),

    // ---- int8-quantized ANN top-k: 4×-compressed vectors, integer
    //      dot-product scoring (scales cancel from the cosine), exact
    //      quantization reproduced by the oracle ----
    "ann_int8_topk" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.int8TopK(e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 10)
      },
      Some("""WITH m AS (SELECT vec_id, embedding,
             |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
             |  FROM embeddings),
             |q AS (SELECT vec_id,
             |  CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
             |       ELSE list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT))
             |  END AS qv FROM m),
             |n AS (SELECT vec_id, qv, list_sum(list_transform(qv, x -> x*x)) AS nq FROM q),
             |sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
             |  CASE WHEN a.nq = 0 OR b.nq = 0 THEN -2.0
             |       ELSE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1]*p[2])) AS DOUBLE)
             |            / sqrt(CAST(a.nq * b.nq AS DOUBLE)) END AS cos
             |  FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
             |rk AS (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM sc)
             |SELECT qid, rank, nid FROM rk WHERE rank <= 10""".stripMargin)),

    // ---- sequence packing: chunks laid end-to-end in one global token
    //      stream, cut into 2048-token context windows at exact offsets.
    //      Two-phase distributed prefix sum (range buckets → parallel
    //      per-bucket cumsum → bucket-offset broadcast) — NEVER the
    //      single-reducer global window the oracle uses ----
    "ta_pack" -> Q(
      (s, dir) =>
        Packing.packOffsets(s,
          Chunking.chunk(Tables(s, dir, "documents"), "doc_id", "text", 64, 16),
          "doc_id", "chunk_idx", "n_tokens", budget = 2048L, buckets = 32),
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS toks
             |          FROM documents),
             |d AS (SELECT doc_id, toks, len(toks) AS n,
             |        CASE WHEN len(toks) <= 64 THEN 1
             |             ELSE (len(toks) - 64 + 47) // 48 + 1 END AS k
             |      FROM t),
             |c AS (SELECT doc_id, unnest(range(0, k)) AS chunk_idx, n FROM d),
             |ch AS (SELECT doc_id, chunk_idx,
             |         least(CAST(64 AS BIGINT), n - chunk_idx*48) AS n_tokens FROM c),
             |o AS (SELECT doc_id, chunk_idx, n_tokens,
             |  COALESCE(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
             |  FROM ch)
             |SELECT doc_id, chunk_idx, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
             |  CAST(start_tok // 2048 AS BIGINT) AS win_first,
             |  CAST(CASE WHEN n_tokens = 0 THEN start_tok // 2048
             |       ELSE (start_tok + n_tokens - 1) // 2048 END AS BIGINT) AS win_last
             |FROM o""".stripMargin)),

    // ---- chunking at TRUE token boundaries: the window walk runs
    //      over ▁-marked BPE pieces, so chunkSize/overlap are real
    //      model-context tokens, boundaries may fall mid-word, and
    //      each chunk detokenizes losslessly ----
    "ta_chunk_bpe" -> Q(
      (s, dir) =>
        Chunking.chunkBpe(Tables(s, dir, "documents"), "doc_id", "text",
          chunkSize = 64, overlap = 16),
      Some(s"""WITH RECURSIVE $duckBpePieces,
              |ck AS (SELECT doc_id, pieces, len(pieces) AS n,
              |  CASE WHEN len(pieces) <= 64 THEN 1
              |       ELSE (len(pieces) - 64 + 47) // 48 + 1 END AS k FROM dp),
              |i AS (SELECT doc_id, pieces, n, unnest(range(0, k)) AS chunk_idx FROM ck)
              |SELECT doc_id, chunk_idx,
              |  trim(replace(array_to_string(
              |    list_slice(pieces, chunk_idx*48 + 1, chunk_idx*48 + 64), ''), '▁', ' ')) AS chunk_text,
              |  least(CAST(64 AS BIGINT), n - chunk_idx*48) AS n_tokens
              |FROM i""".stripMargin)),

    // ---- document packing on the BPE budget: same two-phase prefix
    //      sum, window boundaries measured in real subword tokens
    //      (chunk-level packing stays word-boundary'd because chunk
    //      text must rebuild by word; doc-level packing budgets are
    //      exactly where subword counts matter) ----
    "ta_pack_bpe" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), lit(0L).as("chunk_idx"),
            graft.functions.Bpe.tokenCount(coalesce(col("text"), lit(""))).as("n_bpe"))
        Packing.packOffsets(s, d, "doc_id", "chunk_idx", "n_bpe",
          budget = 2048L, buckets = 32)
      },
      Some(s"""WITH RECURSIVE $duckBpeCounts,
              |o AS (SELECT doc_id, CAST(0 AS BIGINT) AS chunk_idx, n_bpe,
              |  COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
              |  FROM bc)
              |SELECT doc_id, chunk_idx, n_bpe, CAST(start_tok AS BIGINT) AS start_tok,
              |  CAST(start_tok // 2048 AS BIGINT) AS win_first,
              |  CAST(CASE WHEN n_bpe = 0 THEN start_tok // 2048
              |       ELSE (start_tok + n_bpe - 1) // 2048 END AS BIGINT) AS win_last
              |FROM o""".stripMargin)),

    // ---- corpus mixture by token budget: keep docs per source in
    //      deterministic hash order until 1200 tokens — target-mixture
    //      assembly as a pure function of (doc_id, budget) ----
    "ta_mixture" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
        Sampling.mixtureByTokenBudget(d, "source", "doc_id", "n_tokens",
            _ => lit(1200L))
          .select(col("source"), col("doc_id"), col("cum_tokens"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |  len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
             |o AS (SELECT source, doc_id,
             |  CAST(sum(n_tokens) OVER (PARTITION BY source
             |    ORDER BY ((doc_id*37 + 7) % 1000000007) % 1000000, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
             |  FROM d)
             |SELECT source, doc_id, cum_tokens FROM o WHERE cum_tokens <= 1200""".stripMargin)),

    // ---- BPE subword token counts: the real LLM budget basis
    //      (whitespace counts are 1.3-2x off vs subword tokenizers and
    //      unboundedly wrong on CJK); merge table ships in the public
    //      merges.txt format, applied by a codegen kernel ----
    "ta_tokens_bpe" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.Bpe.tokenCount(coalesce(col("text"), lit(""))).as("n_bpe")),
      Some(s"""WITH RECURSIVE $duckBpeCounts
              |SELECT doc_id, n_bpe FROM bc""".stripMargin)),

    // ---- mixture cut on the BPE budget: the same two-phase cumsum
    //      operator, with the budget basis swapped from whitespace to
    //      subword counts — what "x billion training tokens of y"
    //      actually means ----
    "ta_mixture_bpe" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            graft.functions.Bpe.tokenCount(coalesce(col("text"), lit(""))).as("n_bpe"))
        Sampling.mixtureByTokenBudget(d, "source", "doc_id", "n_bpe",
            _ => lit(800L))
          .select(col("source"), col("doc_id"), col("cum_tokens"))
      },
      Some(s"""WITH RECURSIVE $duckBpeCounts,
              |o AS (SELECT d.source, d.doc_id,
              |  CAST(sum(bc.n_bpe) OVER (PARTITION BY d.source
              |    ORDER BY ((d.doc_id*37 + 7) % 1000000007) % 1000000, d.doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              |  FROM documents d JOIN bc USING (doc_id))
              |SELECT source, doc_id, cum_tokens FROM o WHERE cum_tokens <= 800""".stripMargin)),

    // ---- weighted source interleaving (stride scheduling): schedule
    //      keys such that every training prefix holds sources in
    //      proportion to integer weights — the curriculum/data-order
    //      step after mixture selection ----
    "ta_interleave" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
        val w = (src: org.apache.spark.sql.Column) =>
          when(pmod(regexp_extract(src, "(\\d+)", 1).cast("long"), lit(2)) === 0,
            lit(3L)).otherwise(lit(1L))
        Sampling.interleaveByWeight(d, "source", "doc_id", "n_tokens", w)
          .select(col("source"), col("doc_id"), col("sched_key"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |  len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
             |o AS (SELECT source, doc_id,
             |  CAST(sum(n_tokens) OVER (PARTITION BY source
             |    ORDER BY ((doc_id*37 + 7) % 1000000007) % 1000000, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |  FROM d)
             |SELECT source, doc_id,
             |  CAST((cum * 1000) // (CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0
             |                             THEN 3 ELSE 1 END) AS BIGINT) AS sched_key
             |FROM o""".stripMargin)),

    // ---- streaming mixture, batch-driven: the incremental per-source
    //      budget state (flatMapGroupsWithState) fed the whole corpus
    //      in one micro-batch must equal the batch cumsum mixture —
    //      the same gate dd_neardup_stateful uses ----
    "ta_mixture_stateful" -> Q(
      (s, dir) => {
        val ev = Tables(s, dir, "documents")
          .select(col("source").as("group"), col("doc_id").as("key"),
            TextFunctions.wsTokenCount(col("text")).cast("long").as("tok"))
          .as[graft.streaming.StatefulOps.MixtureEvent](graft.streaming.StatefulOps.mixEvEnc)
        graft.streaming.StatefulOps.streamingMixtureByTokenBudget(ev, _ => 1200L)
          .toDF()
          .select(col("group").as("source"), col("key").as("doc_id"),
            col("cumTokens").as("cum_tokens"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |  len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
             |o AS (SELECT source, doc_id,
             |  CAST(sum(n_tokens) OVER (PARTITION BY source
             |    ORDER BY ((doc_id*37 + 7) % 1000000007) % 1000000, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
             |  FROM d)
             |SELECT source, doc_id, cum_tokens FROM o WHERE cum_tokens <= 1200""".stripMargin)),

    // ---- streaming packing, batch-driven: per-stream running-offset
    //      state must equal the two-phase packOffsets prefix sum ----
    "ta_pack_stateful" -> Q(
      (s, dir) => {
        val ev = Tables(s, dir, "documents")
          .select(lit("docs").as("stream"), col("doc_id").as("id"), lit(0L).as("idx"),
            TextFunctions.wsTokenCount(col("text")).cast("long").as("tok"))
          .as[graft.streaming.StatefulOps.ChunkEvent](graft.streaming.StatefulOps.chunkEvEnc)
        graft.streaming.StatefulOps.streamingPackOffsets(ev, budget = 2048L)
          .toDF()
          .select(col("id").as("doc_id"), col("tok").as("n_tokens"),
            col("startTok").as("start_tok"), col("winFirst").as("win_first"),
            col("winLast").as("win_last"))
      },
      Some("""WITH d AS (SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents),
             |o AS (SELECT doc_id, n_tokens,
             |  COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
             |  FROM d)
             |SELECT doc_id, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
             |  CAST(start_tok // 2048 AS BIGINT) AS win_first,
             |  CAST(CASE WHEN n_tokens = 0 THEN start_tok // 2048
             |       ELSE (start_tok + n_tokens - 1) // 2048 END AS BIGINT) AS win_last
             |FROM o""".stripMargin)),

    // ---- SHARDED streaming packing, batch-driven: per-(stream,shard)
    //      running offsets, window ids stitched globally by
    //      interleaving (shard s's w-th window = w·numShards + s) — the
    //      scale path past ta_pack_stateful's one-task-per-stream
    //      ceiling, for users who accept per-shard order ----
    "ta_pack_sharded" -> Q(
      (s, dir) => {
        val ev = Tables(s, dir, "documents")
          .select(lit("docs").as("stream"),
            pmod(col("doc_id"), lit(4)).cast("int").as("shard"),
            col("doc_id").as("id"), lit(0L).as("idx"),
            TextFunctions.wsTokenCount(col("text")).cast("long").as("tok"))
          .as[graft.streaming.StatefulOps.ShardedChunkEvent](graft.streaming.StatefulOps.shChunkEvEnc)
        graft.streaming.StatefulOps.streamingPackOffsetsSharded(ev, budget = 2048L, numShards = 4)
          .toDF()
          .select(col("shard"), col("id").as("doc_id"), col("tok").as("n_tokens"),
            col("startTok").as("start_tok"), col("winFirst").as("win_first"),
            col("winLast").as("win_last"))
      },
      Some("""WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
             |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents),
             |o AS (SELECT shard, doc_id, n_tokens,
             |  COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
             |  FROM d)
             |SELECT shard, doc_id, n_tokens, CAST(start_tok AS BIGINT) AS start_tok,
             |  CAST((start_tok // 2048) * 4 + shard AS BIGINT) AS win_first,
             |  CAST(CASE WHEN n_tokens = 0 THEN (start_tok // 2048) * 4 + shard
             |       ELSE ((start_tok + n_tokens - 1) // 2048) * 4 + shard END AS BIGINT) AS win_last
             |FROM o""".stripMargin)),

    // ---- temperature-sampled mixture (mT5-style): per-source budgets
    //      ∝ sqrt(source totals) at T=2, scaled to a 10k-token target —
    //      damps head sources, boosts the tail. Budgets re-derive
    //      exactly in SQL (sqrt is IEEE-correctly-rounded on both
    //      engines; the z fold runs in lexicographic source order) ----
    // ---- epoch-aware mixture: per-source repeat factors in ppm of
    //      epochs (even-numbered sources 2.5 epochs, odd 0.7) — every
    //      doc emits floor(f) copies plus a hash-selected extra for
    //      the fraction; map-side explode, no rand(), no shuffle ----
    "ta_mixture_epochs" -> Q(
      (s, dir) =>
        Sampling.mixtureByEpochs(Tables(s, dir, "documents"), "doc_id", "source",
          src => when(pmod(regexp_extract(src, "(\\d+)", 1).cast("long"), lit(2)) === 0,
            lit(2500000L)).otherwise(lit(700000L))),
      Some("""WITH d AS (SELECT doc_id, source,
             |  CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0
             |       THEN 2500000 ELSE 700000 END AS ppm FROM documents),
             |n AS (SELECT doc_id, source, CAST(ppm // 1000000
             |  + CASE WHEN ((doc_id % 1000000007) * 37 + 7) % 1000000007 % 1000000
             |         < ppm % 1000000 THEN 1 ELSE 0 END AS BIGINT) AS n FROM d)
             |SELECT doc_id, source, unnest(range(0, n)) AS copy FROM n WHERE n > 0""".stripMargin)),

    "ta_mixture_temperature" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
        Sampling.mixtureByTemperature(d, "source", "doc_id", "n_tokens",
            totalBudget = 10000L, temperature = 2.0)
          .select(col("source"), col("doc_id"), col("cum_tokens"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens FROM documents),
             |t AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS n FROM d GROUP BY source),
             |z AS (SELECT list_sum(list(sqrt(n) ORDER BY source)) AS z FROM t),
             |b AS (SELECT source, CAST(floor(10000 * sqrt(n) / z) AS BIGINT) AS budget FROM t, z),
             |o AS (SELECT source, doc_id,
             |  CAST(sum(n_tokens) OVER (PARTITION BY source
             |    ORDER BY ((doc_id*37 + 7) % 1000000007) % 1000000, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
             |  FROM d)
             |SELECT source, doc_id, cum_tokens FROM o JOIN b USING (source)
             |WHERE cum_tokens <= budget""".stripMargin)),

    // ---- weighted mixture: per-source budgets (the "x tokens of web,
    //      y of code" shape) — budget is a function of the group key ----
    "ta_mixture_weighted" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextFunctions.wsTokenCount(col("text")).as("n_tokens"))
        val budget = (src: org.apache.spark.sql.Column) =>
          when(pmod(regexp_extract(src, "(\\d+)", 1).cast("long"), lit(2)) === 0,
            lit(1500L)).otherwise(lit(800L))
        Sampling.mixtureByTokenBudget(d, "source", "doc_id", "n_tokens", budget)
          .select(col("source"), col("doc_id"), col("cum_tokens"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |  len(regexp_extract_all(text, '\S+')) AS n_tokens FROM documents),
             |o AS (SELECT source, doc_id,
             |  CAST(sum(n_tokens) OVER (PARTITION BY source
             |    ORDER BY ((doc_id*37 + 7) % 1000000007) % 1000000, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
             |  FROM d)
             |SELECT source, doc_id, cum_tokens FROM o
             |WHERE cum_tokens <= CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 2 = 0
             |                         THEN 1500 ELSE 800 END""".stripMargin)),

    // ---- end-to-end dedup apply: LSH candidates → connected
    //      components → drop every non-canonical member (keep the min
    //      id of each dup group + all unpaired docs) — the composition
    //      a curation pipeline actually ships ----
    // maxBandOccupancy = 2 binds at every test SF (buckets of 3+ exist
    // even at sf0.001), so the gate proves the star-pairing invariance
    // claim: the oracle derives components from UNCAPPED all-pairs,
    // and the capped Spark side must reach the identical groups.
    "dd_dedup_apply" -> Q(
      (s, dir) =>
        Dedup.dedupByMinhash(Tables(s, dir, "documents"), "doc_id", "text",
            n = 3, k = 8, bands = 2, maxBandOccupancy = 2L)
          .select(col("doc_id")),
      Some(s"""WITH RECURSIVE $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
              |pr AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |       FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
              |e AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db, da FROM pr),
              |reach AS (
              |  SELECT a AS id, a AS r FROM e
              |  UNION
              |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
              |cmp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM cmp WHERE id <> comp)""".stripMargin)),

    // ---- dedup apply with the QUALITY keep-rule: each near-dup group
    //      keeps its highest-qualityScorePpm member (ties → lowest id)
    //      instead of the minimum id; struct-max partial agg, no
    //      window. Components invariant under the band cap ----
    "dd_dedup_apply_best" -> Q(
      (s, dir) =>
        Dedup.dedupByMinhashKeepBest(Tables(s, dir, "documents"), "doc_id", "text",
            TextFunctions.qualityScorePpm(col("text")),
            n = 3, k = 8, bands = 2, maxBandOccupancy = 2L)
          .select(col("doc_id")),
      Some(s"""WITH RECURSIVE $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
              |pr AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |       FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
              |e AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db, da FROM pr),
              |reach AS (
              |  SELECT a AS id, a AS r FROM e
              |  UNION
              |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
              |cmp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
              |qual AS (SELECT doc_id,
              |  (least(len(regexp_extract_all(text,'\\S+')), 100)
              |    * (len(regexp_extract_all(text,'\\S+'))
              |       - len(list_filter(string_split(text,' '),
              |           w -> w IN ('the','a','of','to','and','in','or','is'))))
              |    * 1000000)
              |  // (100 * len(regexp_extract_all(text,'\\S+'))) AS ppm
              |  FROM documents),
              |kp AS (SELECT id FROM (
              |  SELECT cmp.id,
              |    row_number() OVER (PARTITION BY comp ORDER BY qual.ppm DESC, cmp.id ASC) AS rn
              |  FROM cmp JOIN qual ON cmp.id = qual.doc_id) WHERE rn = 1)
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM cmp)
              |   OR doc_id IN (SELECT id FROM kp)""".stripMargin)),

    // ---- the SQL function surface under the correctness gate: the
    //      same simhash/minhash kernels, invoked through spark.sql via
    //      the registered function names (GraftFunctions) ----
    "ta_sql_kernels" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        Tables(s, dir, "documents").createOrReplaceTempView("graft_docs")
        s.sql("""SELECT doc_id,
                |  graft_simhash32(graft_shingles(text, 3)) AS sh,
                |  element_at(graft_minhash_sig(graft_shingles(text, 3), 4), 1) AS mh0
                |FROM graft_docs""".stripMargin)
      },
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(s, t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id,
              |  CAST(COALESCE(list_sum(list_transform(range(0,32), j ->
              |    CASE WHEN list_sum(list_transform(h, x -> ((x >> j) & 1)*2 - 1)) > 0
              |         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) AS BIGINT) AS sh,
              |  CAST(list_min(list_transform(h, x -> (37*x + 7) % 1000000007)) AS BIGINT) AS mh0
              |  FROM hs)
              |SELECT doc_id, sh, mh0 FROM sig""".stripMargin)),

    // ---- eval-set decontamination (benchmark-leakage guard): train
    //      docs sharing any 5-gram with the held-out eval slice are
    //      flagged; eval grams broadcast, corpus never shuffles ----
    "ta_decontaminate" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        val train = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        graft.operators.Decontaminate.flag(train, eval, "doc_id", "text", n = 5)
          .select(col("doc_id"), col("contaminated"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
             |shl AS (SELECT doc_id, CASE WHEN len(w) >= 5
             |  THEN list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))
             |  ELSE [] END AS s FROM tok),
             |ev AS (SELECT DISTINCT unnest(s) AS g FROM shl WHERE doc_id % 97 = 0),
             |bad AS (SELECT DISTINCT t.doc_id
             |        FROM (SELECT doc_id, unnest(list_distinct(s)) AS g FROM shl
             |              WHERE doc_id % 97 <> 0) t
             |        JOIN ev USING (g))
             |SELECT doc_id, doc_id IN (SELECT doc_id FROM bad) AS contaminated
             |FROM documents WHERE doc_id % 97 <> 0""".stripMargin)),

    // ---- graded contamination: per-doc fraction of distinct 5-grams
    //      appearing in the eval set, as exact integer ppm — leakage
    //      POLICY input (down-weight vs delete), vs flag's binary
    //      verdict. Score table keyed by doc_id ----
    "ta_decontaminate_score" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        val train = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        graft.operators.Decontaminate.overlapScore(train, eval, "doc_id", "text", n = 5)
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
             |shl AS (SELECT doc_id, CASE WHEN len(w) >= 5
             |  THEN list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))
             |  ELSE [] END AS s FROM tok),
             |ev AS (SELECT DISTINCT unnest(s) AS g FROM shl WHERE doc_id % 97 = 0),
             |tr AS (SELECT doc_id, list_distinct(s) AS ds FROM shl WHERE doc_id % 97 <> 0),
             |h AS (SELECT t.doc_id, count(*) AS hits
             |      FROM (SELECT doc_id, unnest(ds) AS g FROM tr) t
             |      JOIN ev USING (g) GROUP BY t.doc_id)
             |SELECT tr.doc_id, CAST(len(tr.ds) AS BIGINT) AS n_grams,
             |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             |  CAST(CASE WHEN len(tr.ds) > 0
             |    THEN (coalesce(h.hits, 0) * 1000000) // len(tr.ds)
             |    ELSE 0 END AS BIGINT) AS hit_ppm
             |FROM tr LEFT JOIN h ON tr.doc_id = h.doc_id""".stripMargin)),

    // ---- streaming-composable decontamination: the eval grams become
    //      a broadcast SET probed by a row-local exists — no join, no
    //      distinct, no state, so the same code drops into a
    //      readStream chain. Batch-drive == flag, shared oracle ----
    "ta_decontaminate_stream" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        val train = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        graft.operators.Decontaminate.flagStreaming(train, eval, "doc_id", "text", n = 5)
          .select(col("doc_id"), col("contaminated"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
             |shl AS (SELECT doc_id, CASE WHEN len(w) >= 5
             |  THEN list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))
             |  ELSE [] END AS s FROM tok),
             |ev AS (SELECT DISTINCT unnest(s) AS g FROM shl WHERE doc_id % 97 = 0),
             |bad AS (SELECT DISTINCT t.doc_id
             |        FROM (SELECT doc_id, unnest(list_distinct(s)) AS g FROM shl
             |              WHERE doc_id % 97 <> 0) t
             |        JOIN ev USING (g))
             |SELECT doc_id, doc_id IN (SELECT doc_id FROM bad) AS contaminated
             |FROM documents WHERE doc_id % 97 <> 0""".stripMargin)),

    // ---- Bloom-prefiltered decontamination: identical result to
    //      ta_decontaminate (sketch hits are exactly confirmed; Bloom
    //      has no false negatives) with the corpus gram stream thinned
    //      map-side — the constant-factor win at 100 TB ----
    "ta_decontaminate_bloom" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        val train = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        graft.operators.Decontaminate.flagWithBloom(train, eval, "doc_id", "text", n = 5)
          .select(col("doc_id"), col("contaminated"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
             |shl AS (SELECT doc_id, CASE WHEN len(w) >= 5
             |  THEN list_transform(range(1, len(w)-3), i -> array_to_string(w[i:i+4], ' '))
             |  ELSE [] END AS s FROM tok),
             |ev AS (SELECT DISTINCT unnest(s) AS g FROM shl WHERE doc_id % 97 = 0),
             |bad AS (SELECT DISTINCT t.doc_id
             |        FROM (SELECT doc_id, unnest(list_distinct(s)) AS g FROM shl
             |              WHERE doc_id % 97 <> 0) t
             |        JOIN ev USING (g))
             |SELECT doc_id, doc_id IN (SELECT doc_id FROM bad) AS contaminated
             |FROM documents WHERE doc_id % 97 <> 0""".stripMargin)),

    // ---- fuzzy decontamination: train docs NEAR-duplicating an eval
    //      doc (shared MinHash band — catches paraphrased leakage that
    //      exact n-grams miss); eval bands broadcast ----
    "ta_decontaminate_fuzzy" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val eval = d.filter(pmod(col("doc_id"), lit(97)) === 0)
        val train = d.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        graft.operators.Decontaminate.fuzzyFlag(train, eval, "doc_id", "text",
            n = 3, k = 8, bands = 2)
          .select(col("doc_id"), col("contaminated"))
      },
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
              |ev AS (SELECT DISTINCT band FROM bands WHERE doc_id % 97 = 0),
              |bad AS (SELECT DISTINCT b.doc_id FROM bands b JOIN ev USING (band)
              |        WHERE b.doc_id % 97 <> 0)
              |SELECT doc_id, doc_id IN (SELECT doc_id FROM bad) AS contaminated
              |FROM documents WHERE doc_id % 97 <> 0""".stripMargin)),

    // ---- chunk → reassemble round trip: overlap-0 chunks rebuilt into
    //      the (whitespace-normalized) original — the exactness contract
    //      that makes chunking safe to apply before training ----
    "ta_reassemble" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val ch = Chunking.chunk(d, "doc_id", "text", chunkSize = 64, overlap = 0)
        val back = ch.groupBy("doc_id")
          .agg(array_join(
            transform(
              array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
              x => x("chunk_text")),
            " ").as("rebuilt"))
        d.select(col("doc_id"),
            array_join(filter(split(col("text"), " "), t => t =!= ""), " ").as("norm"))
          .join(back, "doc_id")
          .select(col("doc_id"), (col("rebuilt") === col("norm")).as("ok"))
      },
      Some("""WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), w -> w <> '') AS toks
             |          FROM documents),
             |d AS (SELECT doc_id, toks, len(toks) AS n,
             |        CASE WHEN len(toks) <= 64 THEN 1
             |             ELSE (len(toks) - 64 + 63) // 64 + 1 END AS k
             |      FROM t),
             |i AS (SELECT doc_id, toks, unnest(range(0, k)) AS chunk_idx FROM d),
             |ch AS (SELECT doc_id, chunk_idx,
             |         array_to_string(list_slice(toks, chunk_idx*64 + 1, chunk_idx*64 + 64), ' ') AS chunk_text
             |       FROM i),
             |re AS (SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS rebuilt
             |       FROM ch GROUP BY doc_id)
             |SELECT t.doc_id, re.rebuilt = array_to_string(t.toks, ' ') AS ok
             |FROM t JOIN re USING (doc_id)""".stripMargin)),

    // ---- intra-document repetition ratio (boilerplate/spam signal):
    //      repeated-3-gram fraction in ppm, pure integer arithmetic ----
    "ta_repetition" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val sh = TextFunctions.shingles(col("text"), 3)
        d.select(col("doc_id"),
          size(sh).cast("long").as("n_sh"),
          size(array_distinct(sh)).cast("long").as("n_uniq"),
          TextFunctions.repetitionPpm(col("text"), 3).as("rep_ppm"))
      },
      Some(s"""WITH $duckShingles
              |SELECT doc_id, len(s) AS n_sh, len(list_distinct(s)) AS n_uniq,
              |  CASE WHEN len(s) = 0 THEN CAST(0 AS BIGINT)
              |       ELSE ((len(s) - len(list_distinct(s))) * 1000000) // len(s) END AS rep_ppm
              |FROM shl""".stripMargin)),

    // ---- equal-width histogram (one partial-agg'd pass, fixed edges;
    //      bin = one IEEE double floor — engine-exact) ----
    "ta_histogram" -> Q(
      (s, dir) =>
        graft.operators.Profile.histogram(
          Tables(s, dir, "events"), "value", lo = 0.0, hi = 500.0, bins = 20),
      Some("""WITH b AS (SELECT least(greatest(CAST(floor((value - 0.0) / 25.0) AS BIGINT), 0), 19) AS bin
             |           FROM events WHERE value IS NOT NULL)
             |SELECT bin, round(0.0 + bin*25.0, 6) AS lo_edge,
             |  round(0.0 + (bin+1)*25.0, 6) AS hi_edge, count(*) AS n
             |FROM b GROUP BY bin""".stripMargin)),

    // ---- exact dedup (hash groupBy; events has real dup keys) ----
    "dd_exact" -> Q(
      (s, dir) =>
        Dedup.exact(Tables(s, dir, "events"), Seq("user_id", "event_type"), "event_id")
          .select(col("user_id"), col("event_type"), col("keep_id"), col("n_dups")),
      Some("""SELECT user_id, event_type, min(event_id) AS keep_id, count(*) AS n_dups
             |FROM events GROUP BY user_id, event_type""".stripMargin)),

    // ---- n-gram Jaccard near-dup pairs (threshold 1/10, integer compare) ----
    "dd_ngram_jaccard" -> Q(
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, num = 1, den = 10, maxShingleFreq = 1000L),
      Some(s"""WITH $duckShingles,
              |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(s, t -> ${duckShingleKey("t")})) AS s FROM shl),
              |capped AS (SELECT * FROM (
              |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS s_freq FROM sh)
              |  WHERE s_freq <= 1000),
              |sizes AS (SELECT doc_id, count(*) n_sh FROM capped GROUP BY doc_id),
              |pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) inter
              |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT da, db, inter, sa.n_sh + sb.n_sh - inter AS un
              |FROM pairs p JOIN sizes sa ON p.da = sa.doc_id JOIN sizes sb ON p.db = sb.doc_id
              |WHERE inter * 10 >= (sa.n_sh + sb.n_sh - inter) * 1""".stripMargin)),

    // ---- asymmetric containment near-dup (Broder 1997): shared
    //      shingles cover ≥ half of the SMALLER doc's shingle set —
    //      catches subset duplication (a doc quoted inside a longer
    //      one) that union-relative Jaccard misses. Same inverted
    //      index; output carries both sizes so the contained side is
    //      identifiable ----
    "dd_containment" -> Q(
      (s, dir) =>
        Dedup.ngramContainmentPairs(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, num = 1, den = 2, maxShingleFreq = 1000L),
      Some(s"""WITH $duckShingles,
              |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(s, t -> ${duckShingleKey("t")})) AS s FROM shl),
              |capped AS (SELECT * FROM (
              |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS s_freq FROM sh)
              |  WHERE s_freq <= 1000),
              |sizes AS (SELECT doc_id, count(*) n_sh FROM capped GROUP BY doc_id),
              |pairs AS (SELECT a.doc_id da, b.doc_id db, count(*) inter
              |  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT da, db, inter, sa.n_sh AS na, sb.n_sh AS nb
              |FROM pairs p JOIN sizes sa ON p.da = sa.doc_id JOIN sizes sb ON p.db = sb.doc_id
              |WHERE inter * 2 >= LEAST(sa.n_sh, sb.n_sh) * 1""".stripMargin)),

    // ---- MinHash + LSH candidates (k=8, 2 bands × 4 rows) ----
    "dd_minhash_lsh" -> Q(
      (s, dir) =>
        Dedup.minhashLshCandidates(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, k = 8, bands = 2),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig)
              |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin)),

    // ---- the band-occupancy cap under the gate: buckets over the cap
    //      (2 here — binds at all SFs) star-pair to the bucket min
    //      instead of emitting all pairs; the oracle re-derives both
    //      modes from the bucket occupancy counts ----
    "dd_minhash_lsh_capped" -> Q(
      (s, dir) =>
        Dedup.minhashLshCandidates(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, k = 8, bands = 2, maxBandOccupancy = 2L),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
              |occ AS (SELECT band, count(*) AS m, min(doc_id) AS mn FROM bands GROUP BY band)
              |SELECT DISTINCT da, db FROM (
              |  SELECT a.doc_id AS da, b.doc_id AS db
              |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
              |  JOIN occ o ON a.band = o.band AND o.m <= 2
              |  UNION ALL
              |  SELECT o.mn AS da, b.doc_id AS db
              |  FROM bands b JOIN occ o ON b.band = o.band AND o.m > 2 AND b.doc_id > o.mn)""".stripMargin)),

    // ---- incremental dedup: a 10% "incoming batch" (doc_id % 10 = 0)
    //      probes the 90% corpus for near-dup candidates — the
    //      new-crawl-vs-training-set question. Corpus posting lists
    //      capped at 2 (binds at sf0.01/0.1), oversized buckets star
    //      to their min id ----
    "dd_incremental" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        Dedup.minhashLshCandidatesAgainst(
          d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", n = 3, k = 8, bands = 2, maxBandOccupancy = 2L)
      },
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
              |nb AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
              |cb AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
              |occ AS (SELECT band, count(*) AS m, min(doc_id) AS mn FROM cb GROUP BY band)
              |SELECT DISTINCT da, db FROM (
              |  SELECT n.doc_id AS da, c.doc_id AS db
              |  FROM nb n JOIN cb c ON n.band = c.band JOIN occ o ON c.band = o.band AND o.m <= 2
              |  UNION ALL
              |  SELECT n.doc_id AS da, o.mn AS db
              |  FROM nb n JOIN occ o ON n.band = o.band AND o.m > 2)
              |WHERE da <> db""".stripMargin)),

    // ---- incremental dedup APPLY: the incoming batch minus docs with
    //      any corpus near-dup candidate ----
    "dd_incremental_apply" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        Dedup.dedupIncomingByMinhash(
            d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", n = 3, k = 8, bands = 2, maxBandOccupancy = 2L)
          .select(col("doc_id"))
      },
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
              |nb AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
              |cb AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
              |occ AS (SELECT band, count(*) AS m, min(doc_id) AS mn FROM cb GROUP BY band),
              |hits AS (SELECT DISTINCT da FROM (
              |  SELECT n.doc_id AS da
              |  FROM nb n JOIN cb c ON n.band = c.band JOIN occ o ON c.band = o.band AND o.m <= 2
              |    AND n.doc_id <> c.doc_id
              |  UNION ALL
              |  SELECT n.doc_id AS da
              |  FROM nb n JOIN occ o ON n.band = o.band AND o.m > 2 AND n.doc_id <> o.mn))
              |SELECT doc_id FROM documents
              |WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT da FROM hits)""".stripMargin)),

    // ---- dedup groups: connected components over the MinHash-LSH
    //      candidate pairs (pairs → groups → canonical min id); oracle
    //      re-derives the closure with a recursive CTE ----
    "dd_components" -> Q(
      (s, dir) => {
        val pairs = Dedup.minhashLshCandidates(
          Tables(s, dir, "documents"), "doc_id", "text", n = 3, k = 8, bands = 2)
        val comp = Dedup.connectedComponents(pairs, "da", "db")
        // group sizes via groupBy + join back, NOT a window partitioned
        // on comp: one boilerplate mega-component would funnel into a
        // single window partition at scale, while the group-size side of
        // the join is component-cardinality-sized (AQE broadcasts it)
        val sizes = comp.groupBy("comp").agg(count(lit(1)).as("n_group"))
        comp.join(sizes, "comp")
          .select(col("id").as("doc_id"), col("comp"), col("n_group"))
      },
      Some(s"""WITH RECURSIVE $duckComponentsCtes
              |SELECT id AS doc_id, comp, count(*) OVER (PARTITION BY comp) AS n_group
              |FROM cmp""".stripMargin)),

    // ---- leakage-safe split: near-dup components share a split (the
    //      split key is the component label, own id when unpaired) —
    //      splitByHash's growth stability PLUS immunity to train/test
    //      contamination through paraphrase duplicates ----
    "ta_split_leakfree" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val pairs = Dedup.minhashLshCandidates(
          d, "doc_id", "text", n = 3, k = 8, bands = 2)
        graft.operators.Sampling.splitByComponent(
            d, "doc_id", pairs, "da", "db",
            Seq("train" -> 80, "valid" -> 10, "test" -> 10), seed = 1)
          .select(col("doc_id"), col("split"))
      },
      Some(s"""WITH RECURSIVE $duckComponentsCtes,
              |sp AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS key
              |       FROM documents d LEFT JOIN cmp c ON d.doc_id = c.id)
              |SELECT doc_id,
              |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
              |FROM (SELECT doc_id, ((key % 1000000007) * 138 + 146) % 1000000007 % 100 AS b
              |      FROM sp)""".stripMargin)),

    // ---- the STREAMING near-dup operator, driven in batch mode (same
    //      code path, one micro-batch's worth of state transitions):
    //      its per-band pairing must reproduce exactly the batch LSH
    //      candidate self-join, so it shares that oracle. The benched
    //      configuration keeps the operator's FINITE default cap
    //      (maxBucket=1000 — r8's Int.MaxValue pin made one hot band
    //      bucket pair O(bucket²) unbounded, an 8× bench outlier and a
    //      straggler-killer at 100 TB); 1000 never binds at the test SFs
    //      (max observed bucket is 10 at sf0.1), so the uncapped oracle
    //      stays exact, while the truly-uncapped form survives only as a
    //      spec-level audit (StatefulOpsSpec) and the BINDING cap is
    //      oracled by dd_neardup_stateful_capped below ----
    "dd_neardup_stateful" -> Q(
      (s, dir) =>
        graft.streaming.StatefulOps.streamingNearDupCandidates(
            Tables(s, dir, "documents"), "doc_id", "text",
            n = 3, k = 8, bands = 2, maxBucket = 1000)
          .toDF().select(col("da"), col("db")).distinct(),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig)
              |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin)),

    // ---- the BINDING-cap configuration of the same operator:
    //      maxBucket=2 binds at every test SF (buckets of 3 exist at
    //      sf0.01, of 10 at sf0.1), pinning the cap semantics
    //      cross-engine: within one batch the group sees its distinct
    //      doc_ids sorted ascending, so the first `maxBucket` smallest
    //      ids become residents and pair all-vs-all; later ids neither
    //      pair nor enter state. Oracle: rank per band by doc_id, keep
    //      pairs where both ranks ≤ 2 ----
    "dd_neardup_stateful_capped" -> Q(
      (s, dir) =>
        graft.streaming.StatefulOps.streamingNearDupCandidates(
            Tables(s, dir, "documents"), "doc_id", "text",
            n = 3, k = 8, bands = 2, maxBucket = 2)
          .toDF().select(col("da"), col("db")).distinct(),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(list_distinct(s), t -> ${duckCharHash("t")}) h FROM shl),
              |sig AS (SELECT doc_id, list_transform(range(0,8), i ->
              |  list_min(list_transform(h, x -> ((37+101*i)*x + 7+139*i) % 1000000007))) sg FROM hs),
              |bands AS (
              |  SELECT doc_id, '0-' || sg[1] || '-' || sg[2] || '-' || sg[3] || '-' || sg[4] AS band FROM sig
              |  UNION ALL
              |  SELECT doc_id, '1-' || sg[5] || '-' || sg[6] || '-' || sg[7] || '-' || sg[8] AS band FROM sig),
              |rk AS (SELECT doc_id, band,
              |  row_number() OVER (PARTITION BY band ORDER BY doc_id) AS r FROM bands)
              |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              |FROM rk a JOIN rk b ON a.band = b.band AND a.doc_id < b.doc_id
              |WHERE a.r <= 2 AND b.r <= 2""".stripMargin)),

    // ---- SimHash near-dups (hamming ≤ 3; oracle brute-forces all pairs,
    //      Spark uses lossless 4-byte blocking — same result set) ----
    "dd_simhash" -> Q(
      (s, dir) =>
        Dedup.simhashPairs(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, maxHamming = 3),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(s, t -> ${duckCharHash("t")}) h FROM shl),
              |sh AS (SELECT doc_id, list_sum(list_transform(range(0,32), j ->
              |  CASE WHEN list_sum(list_transform(h, x -> ((x >> j) & 1)*2 - 1)) > 0
              |       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) v FROM hs)
              |SELECT a.doc_id da, b.doc_id db, CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.v, b.v)) <= 3""".stripMargin)),

    // ---- 63-bit simhash near-dups: same hamming <= 3 contract, 16-bit
    //      blocks — the corpus-scale fingerprint (8-bit blocks saturate
    //      and go quadratic once buckets fill) ----
    "dd_simhash64" -> Q(
      (s, dir) =>
        Dedup.simhashPairs63(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, maxHamming = 3),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(s, t -> ${duckCharHash("t")}) h FROM shl),
              |sh AS (SELECT doc_id, COALESCE(list_sum(list_transform(range(0,63), j ->
              |  CASE WHEN list_sum(list_transform(h, x ->
              |         CASE WHEN ((37+101*j)*x + 7+139*j) % 1000000007 * 2 < 1000000007
              |              THEN 1 ELSE -1 END)) > 0
              |       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) v FROM hs)
              |SELECT a.doc_id da, b.doc_id db, CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.v, b.v)) <= 3""".stripMargin)),

    // ---- cross-document repeated spans (exact-substring dedup signal,
    //      Lee et al. 2022): positions whose 5-word window occurs in
    //      ≥2 docs, with the doc count — output linear in positions,
    //      never a pair space ----
    "dd_repeated_spans" -> Q(
      (s, dir) =>
        Dedup.repeatedSpans(Tables(s, dir, "documents"), "doc_id", "text",
          n = 5, minDocs = 2L),
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
              |gi AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM tok WHERE len(w) >= 5),
              |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |  ${duckShingleKey("array_to_string(w[CAST(i AS INT):CAST(i AS INT)+4], ' ')")} AS s FROM gi),
              |f AS (SELECT s, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY s
              |      HAVING count(DISTINCT doc_id) >= 2)
              |SELECT doc_id, pos, n_docs FROM g JOIN f USING (s)""".stripMargin)),

    // ---- maximal cross-doc common spans (Lee et al. 2022 exact-
    //      substring signal over bounded postings): doc pairs' shared
    //      positional 5-grams consolidated gaps-and-islands into
    //      maximal runs of ≥ 8 words, with both start offsets ----
    "dd_common_spans" -> Q(
      (s, dir) =>
        Dedup.commonSpans(Tables(s, dir, "documents"), "doc_id", "text",
          n = 5, minSpan = 8),
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
              |gi AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM tok WHERE len(w) >= 5),
              |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |  ${duckShingleKey("array_to_string(w[CAST(i AS INT):CAST(i AS INT)+4], ' ')")} AS s FROM gi),
              |f AS (SELECT s FROM g GROUP BY s
              |      HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50),
              |pr AS (SELECT a.doc_id da, a.pos pa, b.doc_id db, b.pos pb
              |       FROM (SELECT * FROM g JOIN f USING (s)) a
              |       JOIN (SELECT * FROM g JOIN f USING (s)) b
              |         ON a.s = b.s AND a.doc_id < b.doc_id),
              |isl AS (SELECT da, db, pa - pb AS delta, pa,
              |        row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS rn FROM pr),
              |sp AS (SELECT da, db, delta, min(pa) AS start_a,
              |       CAST(count(*) + 4 AS BIGINT) AS span_len
              |       FROM isl GROUP BY da, db, delta, pa - rn)
              |SELECT da, db, start_a, start_a - delta AS start_b, span_len
              |FROM sp WHERE span_len >= 8""".stripMargin)),

    // ---- surgical span removal (the Lee et al. apply): each shared
    //      run survives once, in the lower-id doc; the later doc's
    //      occurrence is cut word-wise, overlaps unioned; untouched
    //      docs pass through byte-identical ----
    "dd_trim_spans" -> Q(
      (s, dir) =>
        Dedup.removeCommonSpans(Tables(s, dir, "documents"), "doc_id", "text",
            n = 5, minSpan = 8)
          .select(col("id").as("doc_id"), col("text")),
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
              |gi AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM tok WHERE len(w) >= 5),
              |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
              |  ${duckShingleKey("array_to_string(w[CAST(i AS INT):CAST(i AS INT)+4], ' ')")} AS s FROM gi),
              |f AS (SELECT s FROM g GROUP BY s
              |      HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50),
              |pr AS (SELECT a.doc_id da, a.pos pa, b.doc_id db, b.pos pb
              |       FROM (SELECT * FROM g JOIN f USING (s)) a
              |       JOIN (SELECT * FROM g JOIN f USING (s)) b
              |         ON a.s = b.s AND a.doc_id < b.doc_id),
              |isl AS (SELECT da, db, pa - pb AS delta, pa,
              |        row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS rn FROM pr),
              |sp AS (SELECT da, db, delta, min(pa) AS start_a,
              |       CAST(count(*) + 4 AS BIGINT) AS span_len
              |       FROM isl GROUP BY da, db, delta, pa - rn),
              |sp8 AS (SELECT db, start_a - delta AS start_b, span_len FROM sp WHERE span_len >= 8),
              |cov AS (SELECT DISTINCT db AS doc_id, unnest(range(start_b, start_b + span_len)) AS pos
              |        FROM sp8),
              |wrd AS (SELECT t.doc_id, CAST(j - 1 AS BIGINT) AS pos, t.w[CAST(j AS INT)] AS word
              |        FROM tok t, unnest(range(1, len(t.w) + 1)) r(j)
              |        WHERE t.doc_id IN (SELECT doc_id FROM cov)),
              |reb AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean
              |        FROM (SELECT wrd.* FROM wrd ANTI JOIN cov USING (doc_id, pos))
              |        GROUP BY doc_id)
              |SELECT d.doc_id,
              |  CASE WHEN d.doc_id IN (SELECT doc_id FROM cov)
              |       THEN COALESCE(reb.clean, '') ELSE d.text END AS text
              |FROM documents d LEFT JOIN reb USING (doc_id)""".stripMargin)),

    // ---- document-level apply over repeated spans: drop docs whose
    //      flagged-window fraction reaches 1/2 (integer
    //      cross-multiplied, so no float tie can flip membership) ----
    "dd_drop_repeated" -> Q(
      (s, dir) =>
        Dedup.dropByRepeatedSpans(Tables(s, dir, "documents"), "doc_id", "text",
            n = 5, minDocs = 2L, num = 1, den = 2)
          .select(col("doc_id")),
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
              |gi AS (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM tok WHERE len(w) >= 5),
              |g AS (SELECT doc_id, i - 1 AS pos,
              |  ${duckShingleKey("array_to_string(w[CAST(i AS INT):CAST(i AS INT)+4], ' ')")} AS s FROM gi),
              |f AS (SELECT s FROM g GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
              |fl AS (SELECT doc_id, count(*) AS n_flagged FROM g JOIN f USING (s) GROUP BY doc_id),
              |tw AS (SELECT doc_id, count(*) AS n_win FROM g GROUP BY doc_id),
              |dr AS (SELECT tw.doc_id FROM tw JOIN fl USING (doc_id)
              |       WHERE n_flagged * 2 >= n_win * 1)
              |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dr)""".stripMargin)),

    // ---- the STREAMING simhash operator, batch-driven: per-block
    //      bucket state pairs arrivals with residents under the exact
    //      hamming filter; distinct-ing the at-least-once emissions
    //      must equal the batch blocked join, so it shares that
    //      oracle's SQL ----
    "dd_simhash_stateful" -> Q(
      (s, dir) =>
        graft.streaming.StatefulOps.streamingSimhashCandidates(
            Tables(s, dir, "documents"), "doc_id", "text",
            n = 3, maxHamming = 3, maxBucket = Int.MaxValue)
          .toDF().select(col("da"), col("db"), col("hamming")).distinct(),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(s, t -> ${duckCharHash("t")}) h FROM shl),
              |sh AS (SELECT doc_id, COALESCE(list_sum(list_transform(range(0,63), j ->
              |  CASE WHEN list_sum(list_transform(h, x ->
              |         CASE WHEN ((37+101*j)*x + 7+139*j) % 1000000007 * 2 < 1000000007
              |              THEN 1 ELSE -1 END)) > 0
              |       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) v FROM hs)
              |SELECT a.doc_id da, b.doc_id db, CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.v, b.v)) <= 3""".stripMargin)),

    // ---- simhash63 with identical-fingerprint collapse: members
    //      star-pair to the group minimum (hamming 0), the blocked
    //      join runs over distinct fingerprints — linear output on
    //      mass-duplicate clusters, same connected components ----
    "dd_simhash_collapsed" -> Q(
      (s, dir) =>
        Dedup.simhashPairs63Collapsed(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, maxHamming = 3),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(s, t -> ${duckCharHash("t")}) h FROM shl),
              |sh AS (SELECT doc_id, COALESCE(list_sum(list_transform(range(0,63), j ->
              |  CASE WHEN list_sum(list_transform(h, x ->
              |         CASE WHEN ((37+101*j)*x + 7+139*j) % 1000000007 * 2 < 1000000007
              |              THEN 1 ELSE -1 END)) > 0
              |       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) v FROM hs),
              |g AS (SELECT v, min(doc_id) AS rep FROM sh GROUP BY v),
              |star AS (SELECT g.rep AS da, s.doc_id AS db, CAST(0 AS BIGINT) AS hamming
              |         FROM sh s JOIN g USING (v) WHERE s.doc_id > g.rep),
              |reps AS (SELECT rep AS doc_id, v FROM g),
              |rp AS (SELECT a.doc_id AS da, b.doc_id AS db,
              |         CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |       FROM reps a JOIN reps b ON a.doc_id < b.doc_id
              |       WHERE bit_count(xor(a.v, b.v)) <= 3)
              |SELECT da, db, hamming FROM star UNION ALL SELECT da, db, hamming FROM rp""".stripMargin)),

    // ---- 32-bit collapse: closes the 32-bit family's measured
    //      16x-at-8x identical-fingerprint blow-up the same way ----
    "dd_simhash_collapsed32" -> Q(
      (s, dir) =>
        Dedup.simhashPairsCollapsed(Tables(s, dir, "documents"), "doc_id", "text",
          n = 3, maxHamming = 3),
      Some(s"""WITH $duckShingles,
              |hs AS (SELECT doc_id, list_transform(s, t -> ${duckCharHash("t")}) h FROM shl),
              |sh AS (SELECT doc_id, COALESCE(list_sum(list_transform(range(0,32), j ->
              |  CASE WHEN list_sum(list_transform(h, x -> ((x >> j) & 1)*2 - 1)) > 0
              |       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) v FROM hs),
              |g AS (SELECT v, min(doc_id) AS rep FROM sh GROUP BY v),
              |star AS (SELECT g.rep AS da, s.doc_id AS db, CAST(0 AS BIGINT) AS hamming
              |         FROM sh s JOIN g USING (v) WHERE s.doc_id > g.rep),
              |reps AS (SELECT rep AS doc_id, v FROM g),
              |rp AS (SELECT a.doc_id AS da, b.doc_id AS db,
              |         CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |       FROM reps a JOIN reps b ON a.doc_id < b.doc_id
              |       WHERE bit_count(xor(a.v, b.v)) <= 3)
              |SELECT da, db, hamming FROM star UNION ALL SELECT da, db, hamming FROM rp""".stripMargin)),

    // ---- end-to-end dedup apply over the SIMHASH family: collapsed
    //      pairs → connected components → keep group minima + unpaired
    //      docs. The oracle derives components from the PLAIN all-pairs
    //      hamming join — proving the collapse preserves dedup output ----
    "dd_dedup_apply_simhash" -> Q(
      (s, dir) =>
        Dedup.dedupBySimhash(Tables(s, dir, "documents"), "doc_id", "text",
            n = 3, maxHamming = 3)
          .select(col("doc_id")),
      Some(s"""WITH RECURSIVE $duckShingles,
              |hs AS (SELECT doc_id, list_transform(s, t -> ${duckCharHash("t")}) h FROM shl),
              |sh AS (SELECT doc_id, COALESCE(list_sum(list_transform(range(0,63), j ->
              |  CASE WHEN list_sum(list_transform(h, x ->
              |         CASE WHEN ((37+101*j)*x + 7+139*j) % 1000000007 * 2 < 1000000007
              |              THEN 1 ELSE -1 END)) > 0
              |       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)), 0) v FROM hs),
              |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
              |       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |       WHERE bit_count(xor(a.v, b.v)) <= 3),
              |e AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db, da FROM pr),
              |reach AS (
              |  SELECT a AS id, a AS r FROM e
              |  UNION
              |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
              |cmp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
              |SELECT doc_id FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM cmp WHERE id <> comp)""".stripMargin)),

    // ---- embedding-cosine near-dup pairs (ids only; double fold).
    //      LSH-blocked candidates + exact cosine filter — the scale
    //      path; the oracle rebuilds the same deterministic buckets
    //      (integer hyperplane family, as in ann_lsh_bucketed) so the
    //      blocked result set is fully verifiable. The all-pairs
    //      baseline lives in OperatorsSpec as the recall reference. ----
    "dd_embedding_cosine" -> Q(
      (s, dir) =>
        Dedup.embeddingCosinePairsBlocked(
          Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
          planes = 16, tables = 4),
      Some("""WITH e AS (SELECT vec_id, embedding, len(embedding) AS nd FROM embeddings),
             |sg AS (SELECT vec_id,
             |  list_sum(list_transform(range(0,16), p ->
             |    CASE WHEN list_sum(list_transform(range(1, nd+1), d ->
             |        CASE WHEN ((1103515245*p + 12345)*d + 2654435761) % 2147483647 % 2 = 0
             |             THEN CAST(embedding[d] AS DOUBLE)
             |             ELSE -CAST(embedding[d] AS DOUBLE) END)) > 0
             |    THEN 1 << p ELSE 0 END)) AS sig
             |  FROM e),
             |b AS (SELECT vec_id, r.t, sig & (15 << (r.t*4)) AS bucket
             |      FROM sg, range(0,4) r(t)),
             |pairs AS (SELECT DISTINCT a.vec_id AS ida, b2.vec_id AS idb
             |          FROM b a JOIN b b2
             |          ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
             |n AS (SELECT vec_id, embedding,
             |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) nrm
             |  FROM e)
             |SELECT p.ida, p.idb
             |FROM pairs p JOIN n a ON p.ida = a.vec_id JOIN n b ON p.idb = b.vec_id
             |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
             |        q -> CAST(q[1] AS DOUBLE)*CAST(q[2] AS DOUBLE)))
             |      / sqrt(a.nrm * b.nrm) > 0.4""".stripMargin)),

    // ---- exact ANN top-10 for the first 20 query vectors ----
    "ann_topk_bruteforce" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 20), e, "vec_id", "embedding", k = 10)
      },
      Some("""WITH n AS (SELECT vec_id, embedding,
             |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) nrm
             |  FROM embeddings),
             |scored AS (
             |  SELECT q.vec_id qid, c.vec_id nid,
             |    list_sum(list_transform(list_zip(q.embedding, c.embedding),
             |      p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) / sqrt(q.nrm * c.nrm) AS cos
             |  FROM n q JOIN n c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |ranked AS (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
             |  FROM scored)
             |SELECT qid, rank, nid FROM ranked WHERE rank <= 10""".stripMargin)),

    // ---- recall@10 of the IVF index against the brute-force ground
    //      truth — the evaluation every approximate index needs before
    //      it replaces the exact scan. Both rankings are bit-identical
    //      cross-engine (their own oracles prove it), so the overlap
    //      and the integer recall_ppm are too ----
    "ann_recall" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val probes = e.filter(col("vec_id") < 20)
        Similarity.recallAtK(
          Similarity.ivfJoin(probes, e, "vec_id", "embedding",
            k = 10, nList = 16, nProbe = 4),
          Similarity.bruteForceTopK(probes, e, "vec_id", "embedding", k = 10))
      },
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 16)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |vs AS (
              |  SELECT v.id, v.vec, u.c,
              |    row_number() OVER (PARTITION BY v.id
              |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
              |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
              |  FROM v CROSS JOIN uf u),
              |nrm AS (SELECT id, list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm FROM v),
              |corpus AS (SELECT id AS nid, vec AS nvec, c AS list FROM vs WHERE rn = 1),
              |probes AS (SELECT id AS qid, vec AS qvec, c AS list FROM vs
              |           WHERE rn <= 4 AND id < 20),
              |cand AS (
              |  SELECT p.qid, cp.nid,
              |    list_sum(list_transform(list_zip(p.qvec, cp.nvec),
              |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(nq.nrm * nn.nrm) AS cos
              |  FROM probes p JOIN corpus cp USING (list)
              |  JOIN nrm nq ON p.qid = nq.id JOIN nrm nn ON cp.nid = nn.id
              |  WHERE p.qid <> cp.nid),
              |rka AS (SELECT qid, nid FROM (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM cand)
              |  WHERE rank <= 10),
              |sx AS (
              |  SELECT q.id AS qid, c.id AS nid,
              |    list_sum(list_transform(list_zip(q.vec, c.vec),
              |      p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) / sqrt(nq.nrm * nn.nrm) AS cos
              |  FROM v q JOIN v c ON q.id < 20 AND q.id <> c.id
              |  JOIN nrm nq ON q.id = nq.id JOIN nrm nn ON c.id = nn.id),
              |rkx AS (SELECT qid, nid FROM (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM sx)
              |  WHERE rank <= 10),
              |h AS (SELECT x.qid, count(*) AS n_hits
              |      FROM rkx x JOIN rka a ON x.qid = a.qid AND x.nid = a.nid GROUP BY 1),
              |e AS (SELECT qid, count(*) AS n_exact FROM rkx GROUP BY 1)
              |SELECT e.qid, e.n_exact, coalesce(h.n_hits, 0) AS n_hits,
              |  CAST(coalesce(h.n_hits, 0) * 1000000 // e.n_exact AS BIGINT) AS recall_ppm
              |FROM e LEFT JOIN h USING (qid)""".stripMargin)),

    // ---- recall@10 of the LSH-bucketed path against the same
    //      brute-force ground truth — completes the audit pair: with
    //      ann_recall (IVF) every approximate retrieval shape the
    //      library ships carries a measured, oracle-exact recall
    //      number. Same deterministic hyperplane family as
    //      ann_lsh_join, so DuckDB rebuilds identical buckets ----
    "ann_lsh_recall" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        val probes = e.filter(col("vec_id") < 20)
        Similarity.recallAtK(
          Similarity.lshJoin(probes, e, "vec_id", "embedding",
            k = 10, planes = 16, tables = 4),
          Similarity.bruteForceTopK(probes, e, "vec_id", "embedding", k = 10))
      },
      Some("""WITH e AS (SELECT vec_id, embedding, len(embedding) AS nd FROM embeddings),
             |sg AS (SELECT vec_id,
             |  list_sum(list_transform(range(0,16), p ->
             |    CASE WHEN list_sum(list_transform(range(1, nd+1), d ->
             |        CASE WHEN ((1103515245*p + 12345)*d + 2654435761) % 2147483647 % 2 = 0
             |             THEN CAST(embedding[d] AS DOUBLE)
             |             ELSE -CAST(embedding[d] AS DOUBLE) END)) > 0
             |    THEN 1 << p ELSE 0 END)) AS sig
             |  FROM e),
             |b AS (SELECT vec_id, r.t, sig & (15 << (r.t*4)) AS bucket
             |      FROM sg, range(0,4) r(t)),
             |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
             |         FROM b q JOIN b c ON q.t = c.t AND q.bucket = c.bucket
             |         WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
             |n AS (SELECT vec_id, embedding,
             |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
             |  FROM e),
             |sc AS (SELECT cd.qid, cd.nid,
             |  list_sum(list_transform(list_zip(q.embedding, c.embedding),
             |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.nrm * c.nrm) AS cos
             |  FROM cand cd JOIN n q ON cd.qid = q.vec_id JOIN n c ON cd.nid = c.vec_id),
             |rka AS (SELECT qid, nid FROM (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM sc)
             |  WHERE rank <= 10),
             |sx AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
             |  list_sum(list_transform(list_zip(q.embedding, c.embedding),
             |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(nq.nrm * nn.nrm) AS cos
             |  FROM e q JOIN e c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
             |  JOIN n nq ON q.vec_id = nq.vec_id JOIN n nn ON c.vec_id = nn.vec_id),
             |rkx AS (SELECT qid, nid FROM (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM sx)
             |  WHERE rank <= 10),
             |h AS (SELECT x.qid, count(*) AS n_hits
             |      FROM rkx x JOIN rka a ON x.qid = a.qid AND x.nid = a.nid GROUP BY 1),
             |ex AS (SELECT qid, count(*) AS n_exact FROM rkx GROUP BY 1)
             |SELECT ex.qid, ex.n_exact, coalesce(h.n_hits, 0) AS n_hits,
             |  CAST(coalesce(h.n_hits, 0) * 1000000 // ex.n_exact AS BIGINT) AS recall_ppm
             |FROM ex LEFT JOIN h USING (qid)""".stripMargin)),

    // ---- ANN via random-hyperplane LSH buckets (scale path). Fully
    //      oracle-able: the hyperplane family is a pure integer formula
    //      (Kernels.lshSigEval) and the signature/cosine sums fold
    //      left-to-right in double on both engines, so DuckDB rebuilds
    //      the SAME buckets and the SAME re-rank bit-for-bit ----
    "ann_lsh_bucketed" -> Q(
      (s, dir) =>
        Similarity.lshTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, planes = 16, tables = 4),
      Some("""WITH e AS (SELECT vec_id, embedding, len(embedding) AS nd FROM embeddings),
             |sg AS (SELECT vec_id,
             |  list_sum(list_transform(range(0,16), p ->
             |    CASE WHEN list_sum(list_transform(range(1, nd+1), d ->
             |        CASE WHEN ((1103515245*p + 12345)*d + 2654435761) % 2147483647 % 2 = 0
             |             THEN CAST(embedding[d] AS DOUBLE)
             |             ELSE -CAST(embedding[d] AS DOUBLE) END)) > 0
             |    THEN 1 << p ELSE 0 END)) AS sig
             |  FROM e),
             |b AS (SELECT vec_id, r.t, sig & (15 << (r.t*4)) AS bucket
             |      FROM sg, range(0,4) r(t)),
             |pairs AS (SELECT DISTINCT a.vec_id AS ida, b2.vec_id AS idb
             |          FROM b a JOIN b b2
             |          ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
             |n AS (SELECT vec_id, embedding,
             |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
             |  FROM e),
             |sc AS (SELECT p.ida, p.idb,
             |  list_sum(list_transform(list_zip(x.embedding, y.embedding),
             |    q -> CAST(q[1] AS DOUBLE)*CAST(q[2] AS DOUBLE))) / sqrt(x.nrm * y.nrm) AS cos
             |  FROM pairs p JOIN n x ON p.ida = x.vec_id JOIN n y ON p.idb = y.vec_id),
             |sym AS (SELECT ida AS qid, idb AS nid, cos FROM sc
             |        UNION ALL SELECT idb, ida, cos FROM sc),
             |rk AS (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sym)
             |SELECT qid, rank, nid FROM rk WHERE rank <= 10""".stripMargin)),

    // ---- the bucket-occupancy cap under the gate: maxBucket = 40
    //      binds at every SF (max occupancy 46/51/163), so the oracle
    //      verifies the drop-oversized-buckets semantics with data, not
    //      just the plan shape. The shipped default (1000) uses the
    //      identical code path ----
    "ann_lsh_capped" -> Q(
      (s, dir) =>
        Similarity.lshTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, planes = 16, tables = 4, maxBucket = 40L),
      Some("""WITH e AS (SELECT vec_id, embedding, len(embedding) AS nd FROM embeddings),
             |sg AS (SELECT vec_id,
             |  list_sum(list_transform(range(0,16), p ->
             |    CASE WHEN list_sum(list_transform(range(1, nd+1), d ->
             |        CASE WHEN ((1103515245*p + 12345)*d + 2654435761) % 2147483647 % 2 = 0
             |             THEN CAST(embedding[d] AS DOUBLE)
             |             ELSE -CAST(embedding[d] AS DOUBLE) END)) > 0
             |    THEN 1 << p ELSE 0 END)) AS sig
             |  FROM e),
             |b AS (SELECT vec_id, r.t, sig & (15 << (r.t*4)) AS bucket
             |      FROM sg, range(0,4) r(t)),
             |keep AS (SELECT t, bucket FROM (SELECT t, bucket, count(*) AS m FROM b GROUP BY 1, 2)
             |         WHERE m <= 40),
             |bk AS (SELECT b.vec_id, b.t, b.bucket FROM b JOIN keep USING (t, bucket)),
             |pairs AS (SELECT DISTINCT a.vec_id AS ida, b2.vec_id AS idb
             |          FROM bk a JOIN bk b2
             |          ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
             |n AS (SELECT vec_id, embedding,
             |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
             |  FROM e),
             |sc AS (SELECT p.ida, p.idb,
             |  list_sum(list_transform(list_zip(x.embedding, y.embedding),
             |    q -> CAST(q[1] AS DOUBLE)*CAST(q[2] AS DOUBLE))) / sqrt(x.nrm * y.nrm) AS cos
             |  FROM pairs p JOIN n x ON p.ida = x.vec_id JOIN n y ON p.idb = y.vec_id),
             |sym AS (SELECT ida AS qid, idb AS nid, cos FROM sc
             |        UNION ALL SELECT idb, ida, cos FROM sc),
             |rk AS (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM sym)
             |SELECT qid, rank, nid FROM rk WHERE rank <= 10""".stripMargin)),

    // ---- HLL sketch distinct (the 100 TB cardinality path: one
    //      partial-aggregated sketch per group, no exact-distinct
    //      shuffle). Sketch VALUES never hash-match across engines, so
    //      the verifiable output is exact counts + an in-engine bound
    //      check: hll_ok asserts the sketch landed within 5·rsd of
    //      exact, which DuckDB checks as literal TRUE. The production
    //      path at scale is sketch-only (ApproxSpec bounds the error);
    //      the exact distinct here is the verification harness. ----
    // ---- KMV distinct sketch: the ORACLE-EXACT mergeable cardinality
    //      estimate next to dd_approx_distinct's engine-private HLL —
    //      k smallest packed-hash values per group are a pure function
    //      of the data, so sketch AND estimate hash-match across
    //      engines. sf0.001 exercises the exact (<k) branch, sf0.01+
    //      the estimator branch ----
    "ta_distinct_kmv" -> Q(
      (s, dir) =>
        graft.operators.Profile.distinctKmv(
          Tables(s, dir, "events"), Seq("event_type"), "user_id", k = 64),
      Some(duckKmvSql)),

    // ---- the STREAMING KMV sketch, batch-driven: one micro-batch over
    //      the whole corpus must equal the batch operator exactly, so
    //      it shares its oracle ----
    "ta_distinct_kmv_stateful" -> Q(
      (s, dir) =>
        graft.streaming.StatefulOps.streamingDistinctKmv(
            Tables(s, dir, "events"), "event_type", "user_id", k = 64)
          .toDF().select(col("key").as("event_type"),
            col("nKept").as("n_kept"), col("kthHash").as("kth_hash"),
            col("estDistinct").as("est_distinct")),
      Some(duckKmvSql)),

    // ---- KMV set-overlap: Jaccard/intersection of two user
    //      populations estimated from their sketches alone — the
    //      corpus-contamination measurement that never joins the raw
    //      tables. Predicates carve partially-overlapping sets (uid%3≠0
    //      vs uid%2=0 → true J = 1/3 of the union in-common-ish) ----
    "ta_kmv_overlap" -> Q(
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        graft.operators.Profile.kmvJaccard(
          graft.operators.Profile.distinctKmvSketch(
            ev.filter(col("user_id") % 3 =!= 0), Seq("event_type"), "user_id", 64),
          graft.operators.Profile.distinctKmvSketch(
            ev.filter(col("user_id") % 2 === 0), Seq("event_type"), "user_id", 64),
          Seq("event_type"), 64)
      },
      Some(s"""WITH f AS (SELECT DISTINCT event_type, user_id,
              |  ${duckCharHash("CAST(user_id AS VARCHAR)")} AS ch,
              |  list_reduce(list_prepend(CAST(11 AS BIGINT),
              |    list_transform(list_filter(string_split(CAST(user_id AS VARCHAR),''), c -> c <> ''),
              |      c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*37+b) % 1000000009) AS f37
              |  FROM events WHERE user_id IS NOT NULL),
              |h AS (SELECT event_type, user_id,
              |  ((ch * 1103515245 + f37 * 2654435761 + 12345) % 1000000007) * 1000000009
              |    + ((ch * 1000003 + f37 * 999999937 + 67867967) % 1000000009) AS h
              |  FROM f),
              |ka AS (SELECT event_type, list(h ORDER BY h) AS a FROM (
              |    SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
              |    FROM (SELECT DISTINCT event_type, h FROM h WHERE user_id % 3 <> 0))
              |  WHERE rn <= 64 GROUP BY 1),
              |kb AS (SELECT event_type, list(h ORDER BY h) AS b FROM (
              |    SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
              |    FROM (SELECT DISTINCT event_type, h FROM h WHERE user_id % 2 = 0))
              |  WHERE rn <= 64 GROUP BY 1),
              |j AS (SELECT event_type, a, b, list_sort(list_distinct(a || b))[1:64] AS u
              |      FROM ka JOIN kb USING (event_type)),
              |m AS (SELECT event_type,
              |  CAST(len(list_filter(u, x -> list_contains(a, x) AND list_contains(b, x))) AS BIGINT) AS j_num,
              |  CAST(len(u) AS BIGINT) AS j_den, u FROM j),
              |e AS (SELECT event_type, j_num, j_den,
              |  (j_num * 1000000) // j_den AS jaccard_ppm,
              |  CASE WHEN j_den < 64 THEN j_den
              |       ELSE CAST(63 * CAST(1000000016000000063 AS HUGEINT) // u[CAST(len(u) AS INT)] AS BIGINT)
              |  END AS est_union FROM m)
              |SELECT event_type, j_num, j_den, jaccard_ppm, est_union,
              |  (jaccard_ppm * est_union) // 1000000 AS est_intersection
              |FROM e""".stripMargin)),

    "dd_approx_distinct" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy("event_type")
          .agg(
            approx_count_distinct("user_id", 0.02).as("approx"),
            countDistinct("user_id").as("exact_users"),
            count(lit(1)).as("n_events"))
          .select(
            col("event_type"), col("exact_users"), col("n_events"),
            (abs(col("approx") - col("exact_users")) <=
              col("exact_users") * lit(0.1)).as("hll_ok")),
      Some("""SELECT event_type,
             |  count(DISTINCT user_id) AS exact_users,
             |  count(*) AS n_events,
             |  TRUE AS hll_ok
             |FROM events GROUP BY event_type""".stripMargin)),

    // ---- one-pass data profiling (per-column stats from ONE scan and
    //      ONE aggregation job — never a job per column). Exact-distinct
    //      mode here so every number is oracle-verifiable; the scale
    //      default is HLL (bound-checked the dd_approx_distinct way) ----
    "ta_profile" -> Q(
      (s, dir) =>
        graft.operators.Profile.profile(
          Tables(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
          exactDistinct = true),
      Some("""SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             |  count(*) - count(o_orderkey) AS n_nulls,
             |  count(DISTINCT o_orderkey) AS n_distinct,
             |  CAST(min(o_orderkey) AS VARCHAR) AS min_s, CAST(max(o_orderkey) AS VARCHAR) AS max_s
             |FROM orders
             |UNION ALL
             |SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
             |  count(DISTINCT o_custkey),
             |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
             |FROM orders
             |UNION ALL
             |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
             |  count(DISTINCT o_orderstatus),
             |  min(o_orderstatus), max(o_orderstatus)
             |FROM orders
             |UNION ALL
             |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
             |  count(DISTINCT o_orderpriority),
             |  min(o_orderpriority), max(o_orderpriority)
             |FROM orders""".stripMargin)),

    // ---- two-table ANN join (retrieval shape): probe set × corpus
    //      through shared LSH buckets — candidates are
    //      bucket-occupancy-bound, never |probes|×|corpus|. Same
    //      deterministic hyperplane family as ann_lsh_bucketed, so the
    //      oracle rebuilds identical buckets on both sides ----
    "ann_lsh_join" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.lshJoin(e.filter(col("vec_id") < 50), e,
          "vec_id", "embedding", k = 5, planes = 16, tables = 4)
      },
      Some("""WITH e AS (SELECT vec_id, embedding, len(embedding) AS nd FROM embeddings),
             |sg AS (SELECT vec_id,
             |  list_sum(list_transform(range(0,16), p ->
             |    CASE WHEN list_sum(list_transform(range(1, nd+1), d ->
             |        CASE WHEN ((1103515245*p + 12345)*d + 2654435761) % 2147483647 % 2 = 0
             |             THEN CAST(embedding[d] AS DOUBLE)
             |             ELSE -CAST(embedding[d] AS DOUBLE) END)) > 0
             |    THEN 1 << p ELSE 0 END)) AS sig
             |  FROM e),
             |b AS (SELECT vec_id, r.t, sig & (15 << (r.t*4)) AS bucket
             |      FROM sg, range(0,4) r(t)),
             |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
             |         FROM b q JOIN b c ON q.t = c.t AND q.bucket = c.bucket
             |         WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
             |n AS (SELECT vec_id, embedding,
             |  list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
             |  FROM e),
             |sc AS (SELECT cd.qid, cd.nid,
             |  list_sum(list_transform(list_zip(q.embedding, c.embedding),
             |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(q.nrm * c.nrm) AS cos
             |  FROM cand cd JOIN n q ON cd.qid = q.vec_id JOIN n c ON cd.nid = c.vec_id),
             |rk AS (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM sc)
             |SELECT qid, rank, nid FROM rk WHERE rank <= 5""".stripMargin)),

    // ---- quantile sketch (the 100 TB percentile path: one mergeable
    //      single-pass sketch per group instead of a full sort). Sketch
    //      VALUES are engine-specific, so the verifiable output is the
    //      exact percentiles plus an in-engine bound check: qs_ok
    //      asserts the sketch landed within the accuracy target, which
    //      DuckDB checks as literal TRUE — same harness shape as
    //      dd_approx_distinct ----
    "dd_quantile_sketch" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .groupBy("event_type")
          .agg(
            percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"),
            expr("percentile(value, 0.5)").as("exact_p50"),
            min("value").as("lo"), max("value").as("hi"))
          .select(
            col("event_type"),
            round(col("exact_p50"), 2).as("p50"),
            round(col("lo"), 2).as("lo"), round(col("hi"), 2).as("hi"),
            // the sketch's answer must land within 5% of the value range
            // of the true median — generous at accuracy=1000, and stable
            ((abs(col("approx_p50") - col("exact_p50"))) <=
              (col("hi") - col("lo")) * lit(0.05)).as("qs_ok")),
      Some("""SELECT event_type,
             |  round(quantile_cont(value, 0.5), 2) AS p50,
             |  round(min(value), 2) AS lo, round(max(value), 2) AS hi,
             |  TRUE AS qs_ok
             |FROM events GROUP BY event_type""".stripMargin)),

    // ---- embedding-table quality gate: the pre-index checks (NaN /
    //      dim-mismatch / zero / null counts) in ONE aggregation ----
    "ta_embedding_stats" -> Q(
      (s, dir) =>
        graft.operators.Profile.embeddingStats(
          Tables(s, dir, "embeddings"), "embedding", expectedDim = 64),
      // n_nan counts NaN OR NULL elements (both poison cosines);
      // n_zero requires every element definitively zero (a NULL
      // element disqualifies) — mirrors Profile.embeddingStats exactly
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) FILTER (embedding IS NULL) AS BIGINT) AS n_null,
             |  CAST(count(*) FILTER (embedding IS NOT NULL AND len(embedding) <> 64) AS BIGINT) AS n_wrong_dim,
             |  CAST(count(*) FILTER (embedding IS NOT NULL
             |    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) > 0) AS BIGINT) AS n_nan,
             |  CAST(count(*) FILTER (embedding IS NOT NULL AND len(embedding) > 0
             |    AND len(list_filter(embedding, x -> x IS NULL OR x <> 0)) = 0) AS BIGINT) AS n_zero,
             |  CAST(count(*) FILTER (embedding IS NOT NULL AND len(embedding) = 64
             |    AND len(list_filter(embedding, x -> x IS NULL OR isnan(x))) = 0
             |    AND len(list_filter(embedding, x -> x <> 0)) > 0) AS BIGINT) AS n_ok
             |FROM embeddings""".stripMargin)),

    // ---- deterministic-sample quantiles: the ORACLE-EXACT mergeable
    //      percentile path next to dd_quantile_sketch's bound-checked
    //      percentile_approx — hash-ordered uniform k-sample, type-1
    //      order statistics, every number hash-matches ----
    "ta_sample_quantiles" -> Q(
      (s, dir) =>
        graft.operators.Profile.sampleQuantiles(
          Tables(s, dir, "events"), Seq("event_type"), "event_id", "value",
          k = 128, percents = Seq(50, 90, 99)),
      Some(s"""WITH f AS (SELECT event_type, event_id, value,
              |  ${duckCharHash("CAST(event_id AS VARCHAR)")} AS ch,
              |  list_reduce(list_prepend(CAST(11 AS BIGINT),
              |    list_transform(list_filter(string_split(CAST(event_id AS VARCHAR),''), c -> c <> ''),
              |      c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*37+b) % 1000000009) AS f37
              |  FROM events WHERE value IS NOT NULL),
              |h AS (SELECT event_type, event_id, value,
              |  ((ch * 1103515245 + f37 * 2654435761 + 12345) % 1000000007) * 1000000009
              |    + ((ch * 1000003 + f37 * 999999937 + 67867967) % 1000000009) AS h
              |  FROM f),
              |rk AS (SELECT event_type, event_id, value,
              |  row_number() OVER (PARTITION BY event_type ORDER BY h ASC, event_id ASC) AS rn
              |  FROM h),
              |sm AS (SELECT event_type, list(value ORDER BY value) AS sv,
              |  CAST(count(*) AS BIGINT) AS n_sampled
              |  FROM rk WHERE rn <= 128 GROUP BY 1)
              |SELECT event_type, n_sampled,
              |  sv[CAST(1 + (50 * (n_sampled - 1)) // 100 AS INT)] AS p50,
              |  sv[CAST(1 + (90 * (n_sampled - 1)) // 100 AS INT)] AS p90,
              |  sv[CAST(1 + (99 * (n_sampled - 1)) // 100 AS INT)] AS p99
              |FROM sm""".stripMargin)),

    // ---- ANN via IVF coarse quantizer (learned partitions; the
    //      second scale path next to LSH). The quantizer is
    //      deterministic AND integer/double-fold reproducible end to
    //      end (affine-hash train sample, first-n init, quantized
    //      int64 centroid means), so DuckDB re-learns the IDENTICAL
    //      index and re-derives the same top-k — a full SQL oracle for
    //      a learned structure, like the LSH hyperplane family ----
    "ann_ivf" -> Q(
      (s, dir) =>
        Similarity.ivfTopK(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, nList = 16, nProbe = 4),
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 16)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |vs AS (
              |  SELECT v.id, v.vec, u.c,
              |    list_sum(list_transform(list_zip(v.vec, u.uvec),
              |      p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) AS s,
              |    row_number() OVER (PARTITION BY v.id
              |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
              |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
              |  FROM v CROSS JOIN uf u),
              |nrm AS (SELECT id, list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm FROM v),
              |corpus AS (SELECT id AS nid, vec AS nvec, c AS list FROM vs WHERE rn = 1),
              |probes AS (SELECT id AS qid, vec AS qvec, c AS list FROM vs WHERE rn <= 4),
              |cand AS (
              |  SELECT p.qid, cp.nid,
              |    list_sum(list_transform(list_zip(p.qvec, cp.nvec),
              |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(nq.nrm * nn.nrm) AS cos
              |  FROM probes p JOIN corpus cp USING (list)
              |  JOIN nrm nq ON p.qid = nq.id JOIN nrm nn ON cp.nid = nn.id
              |  WHERE p.qid <> cp.nid),
              |rk AS (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM cand)
              |SELECT qid, rank, nid FROM rk WHERE rank <= 10""".stripMargin)),

    // ---- ANN over product-quantization codes (Jégou et al. 2011):
    //      4 subspace quantizers × 8 codewords each, corpus rows carry
    //      4 codes instead of 64 floats, probes score reconstructions
    //      asymmetrically (ADC). The oracle re-trains all four
    //      subspace codebooks with the shared Lloyd CTEs, re-encodes,
    //      and re-ranks — the learned compression is engine-exact ----
    "ann_pq_topk" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.pqTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", k = 10, m = 4, ksub = 8)
      },
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |${duckPqSubspace("p0", 1, 16, 8)},
              |${duckPqSubspace("p1", 17, 32, 8)},
              |${duckPqSubspace("p2", 33, 48, 8)},
              |${duckPqSubspace("p3", 49, 64, 8)},
              |recon AS (
              |  SELECT p0rec.id, p0rec.rvec || p1rec.rvec || p2rec.rvec || p3rec.rvec AS rvec
              |  FROM p0rec JOIN p1rec USING (id) JOIN p2rec USING (id) JOIN p3rec USING (id)),
              |probes AS (SELECT id AS qid, vec AS qvec FROM v WHERE id < 20),
              |cand AS (
              |  SELECT p.qid, r.id AS nid,
              |    list_sum(list_transform(list_zip(p.qvec, r.rvec),
              |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) AS ip
              |  FROM probes p JOIN recon r ON p.qid <> r.id),
              |rk AS (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY ip DESC, nid ASC) AS rank FROM cand)
              |SELECT qid, rank, nid FROM rk WHERE rank <= 10""".stripMargin)),

    // ---- IVFADC: coarse IVF pruning + PQ codes of the RESIDUAL
    //      (vector − coarse centroid), scored asymmetrically within
    //      the probed lists — the production composition of the two
    //      learned indexes. Residual subtract and reconstruction add
    //      round once through double, so the oracle re-derives the
    //      full two-level index bit-for-bit ----
    "ann_ivfpq_topk" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.ivfPqTopK(e.filter(col("vec_id") < 50), e,
          "vec_id", "embedding", k = 5, nList = 16, nProbe = 4, m = 4, ksub = 8)
      },
      Some(s"""WITH v AS MATERIALIZED (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |train AS MATERIALIZED (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 16)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |vs AS (
              |  SELECT v.id, v.vec, u.c,
              |    row_number() OVER (PARTITION BY v.id
              |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
              |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
              |  FROM v CROSS JOIN uf u),
              |asgc AS (SELECT id, vec, c AS list FROM vs WHERE rn = 1),
              |resid AS MATERIALIZED (SELECT a.id, a.list, cb.vec AS cvec,
              |  list_transform(list_zip(a.vec, cb.vec),
              |    z -> CAST(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE) AS REAL)) AS vec
              |  FROM asgc a JOIN c2 cb ON a.list = cb.c),
              |rtrain AS MATERIALIZED (SELECT id, vec FROM resid WHERE id IN (SELECT id FROM train)),
              |${duckPqSubspace("p0", 1, 16, 8, trainSrc = "rtrain", corpusSrc = "resid")},
              |${duckPqSubspace("p1", 17, 32, 8, trainSrc = "rtrain", corpusSrc = "resid")},
              |${duckPqSubspace("p2", 33, 48, 8, trainSrc = "rtrain", corpusSrc = "resid")},
              |${duckPqSubspace("p3", 49, 64, 8, trainSrc = "rtrain", corpusSrc = "resid")},
              |recon AS (
              |  SELECT r.id, r.list,
              |    list_transform(list_zip(r.cvec,
              |        p0rec.rvec || p1rec.rvec || p2rec.rvec || p3rec.rvec),
              |      z -> CAST(CAST(z[1] AS DOUBLE) + CAST(z[2] AS DOUBLE) AS REAL)) AS rvec
              |  FROM resid r JOIN p0rec USING (id) JOIN p1rec USING (id)
              |    JOIN p2rec USING (id) JOIN p3rec USING (id)),
              |probes AS (SELECT id AS qid, vec AS qvec, c AS list FROM vs
              |           WHERE rn <= 4 AND id < 50),
              |cand AS (
              |  SELECT p.qid, r.id AS nid,
              |    list_sum(list_transform(list_zip(p.qvec, r.rvec),
              |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) AS ip
              |  FROM probes p JOIN recon r USING (list) WHERE p.qid <> r.id),
              |rk AS (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY ip DESC, nid ASC) AS rank FROM cand)
              |SELECT qid, rank, nid FROM rk WHERE rank <= 5""".stripMargin)),

    // ---- two-table ANN join through the learned IVF index: probe set
    //      scans only its nProbe closest lists of the corpus-trained
    //      quantizer (learned-partition counterpart of ann_lsh_join).
    //      Same fully-deterministic quantizer as ann_ivf, so the oracle
    //      re-learns the identical index ----
    "ann_ivf_join" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.ivfJoin(e.filter(col("vec_id") < 50), e,
          "vec_id", "embedding", k = 5, nList = 16, nProbe = 4)
      },
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 16)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |vs AS (
              |  SELECT v.id, v.vec, u.c,
              |    row_number() OVER (PARTITION BY v.id
              |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
              |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
              |  FROM v CROSS JOIN uf u),
              |nrm AS (SELECT id, list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm FROM v),
              |corpus AS (SELECT id AS nid, vec AS nvec, c AS list FROM vs WHERE rn = 1),
              |probes AS (SELECT id AS qid, vec AS qvec, c AS list FROM vs
              |           WHERE rn <= 4 AND id < 50),
              |cand AS (
              |  SELECT p.qid, cp.nid,
              |    list_sum(list_transform(list_zip(p.qvec, cp.nvec),
              |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(nq.nrm * nn.nrm) AS cos
              |  FROM probes p JOIN corpus cp USING (list)
              |  JOIN nrm nq ON p.qid = nq.id JOIN nrm nn ON cp.nid = nn.id
              |  WHERE p.qid <> cp.nid),
              |rk AS (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM cand)
              |SELECT qid, rank, nid FROM rk WHERE rank <= 5""".stripMargin)),

    // ---- two-stage retrieval: PQ (ADC) shortlist of 50 per probe,
    //      then an EXACT cosine re-rank of only those — the serving
    //      composition that reads full-precision vectors for shortlist
    //      rows only. Oracle = the ann_pq_topk index CTEs, shortlist
    //      cut, exact re-rank ----
    "ann_rerank" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.pqRerankTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", k = 10, shortlist = 50, m = 4, ksub = 8)
      },
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |${duckPqSubspace("p0", 1, 16, 8)},
              |${duckPqSubspace("p1", 17, 32, 8)},
              |${duckPqSubspace("p2", 33, 48, 8)},
              |${duckPqSubspace("p3", 49, 64, 8)},
              |recon AS (
              |  SELECT p0rec.id, p0rec.rvec || p1rec.rvec || p2rec.rvec || p3rec.rvec AS rvec
              |  FROM p0rec JOIN p1rec USING (id) JOIN p2rec USING (id) JOIN p3rec USING (id)),
              |probes AS (SELECT id AS qid, vec AS qvec FROM v WHERE id < 20),
              |cand AS (
              |  SELECT p.qid, r.id AS nid,
              |    list_sum(list_transform(list_zip(p.qvec, r.rvec),
              |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) AS ip
              |  FROM probes p JOIN recon r ON p.qid <> r.id),
              |rk AS (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY ip DESC, nid ASC) AS rank FROM cand),
              |short AS (SELECT qid, nid FROM rk WHERE rank <= 50),
              |nrm AS (SELECT id, list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm FROM v),
              |ex AS (
              |  SELECT sh.qid, sh.nid,
              |    list_sum(list_transform(list_zip(p.qvec, n.vec),
              |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(nq.nrm * nn.nrm) AS cos
              |  FROM short sh JOIN probes p USING (qid) JOIN v n ON sh.nid = n.id
              |  JOIN nrm nq ON sh.qid = nq.id JOIN nrm nn ON sh.nid = nn.id),
              |rk2 AS (SELECT qid, nid,
              |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM ex)
              |SELECT qid, rank, nid FROM rk2 WHERE rank <= 10""".stripMargin)),

    // ---- binary sign quantization + exact rerank: 1 bit/dim (32×
    //      smaller than float), XOR-popcount shortlist, float cosine
    //      confined to the shortlist. The most compressed rung of the
    //      quantization ladder; oracle re-packs every sign bit ----
    "ann_binary_rerank" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.binaryRerankTopK(e.filter(col("vec_id") < 20), e,
          "vec_id", "embedding", k = 10, shortlist = 50)
      },
      Some("""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
             |sig AS (SELECT id, list_transform(range(0, CAST(ceil(len(vec)/32.0) AS BIGINT)),
             |  b -> list_sum(list_transform(range(0, 32),
             |    j -> CASE WHEN 32*b+j+1 <= len(vec) AND vec[CAST(32*b+j+1 AS BIGINT)] > 0
             |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))) AS sg
             |  FROM v),
             |probes AS (SELECT id AS qid, sg AS qsg FROM sig WHERE id < 20),
             |ham AS (SELECT p.qid, s.id AS nid,
             |  list_sum(list_transform(list_zip(p.qsg, s.sg),
             |    z -> bit_count(xor(z[1], z[2])))) AS h
             |  FROM probes p JOIN sig s ON p.qid <> s.id),
             |rk AS (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY h ASC, nid ASC) AS rank FROM ham),
             |short AS (SELECT qid, nid FROM rk WHERE rank <= 50),
             |qv AS (SELECT id AS qid, vec AS qvec FROM v WHERE id < 20),
             |nrm AS (SELECT id, list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm FROM v),
             |ex AS (
             |  SELECT sh.qid, sh.nid,
             |    list_sum(list_transform(list_zip(p.qvec, n.vec),
             |      z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE))) / sqrt(nq.nrm * nn.nrm) AS cos
             |  FROM short sh JOIN qv p USING (qid) JOIN v n ON sh.nid = n.id
             |  JOIN nrm nq ON sh.qid = nq.id JOIN nrm nn ON sh.nid = nn.id),
             |rk2 AS (SELECT qid, nid,
             |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank FROM ex)
             |SELECT qid, rank, nid FROM rk2 WHERE rank <= 10""".stripMargin)),

    // ---- incremental IVF maintenance: the quantizer trains on the
    //      EXISTING corpus only and stays frozen; the incoming batch
    //      (vec_id % 10 = 0, the dd_incremental split) is assigned in
    //      one map-side kernel pass; output is the per-list occupancy
    //      ledger (the re-train drift signal) ----
    "ann_ivf_append" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.ivfAppendStats(
          e.filter(pmod(col("vec_id"), lit(10)) =!= 0),
          e.filter(pmod(col("vec_id"), lit(10)) === 0),
          "vec_id", "embedding", nList = 16)
      },
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |cv AS (SELECT id, vec FROM v WHERE id % 10 <> 0),
              |train AS (SELECT id, vec FROM cv
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 16)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |vs AS (
              |  SELECT v.id, u.c,
              |    row_number() OVER (PARTITION BY v.id
              |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
              |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
              |  FROM v CROSS JOIN uf u)
              |SELECT CAST(c AS INT) AS list,
              |  CAST(count(*) FILTER (WHERE id % 10 <> 0) AS BIGINT) AS n_corpus,
              |  CAST(count(*) FILTER (WHERE id % 10 = 0) AS BIGINT) AS n_incoming
              |FROM vs WHERE rn = 1 GROUP BY 1""".stripMargin)),

    // ---- embedding outlier prune: cosine to the nearest IVF centroid
    //      below threshold = garbage/mislabeled embedding; one kernel
    //      pass, no join. Oracle re-learns the quantizer and takes the
    //      max dot over unit centroids ----
    "ta_outlier_filter" -> Q(
      (s, dir) =>
        Similarity.centroidOutliers(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", nList = 16, minCos = 0.2)
          .select(col("id").as("vec_id"), col("cos_c")),
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 16)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |sc AS (SELECT v.id,
              |  max(list_sum(list_transform(list_zip(v.vec, u.uvec),
              |    z -> CAST(z[1] AS DOUBLE)*CAST(z[2] AS DOUBLE)))) AS best
              |  FROM v CROSS JOIN uf u GROUP BY v.id),
              |nrm AS (SELECT id, list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm FROM v)
              |SELECT s.id AS vec_id,
              |  CASE WHEN n.nrm = 0 THEN -2.0 ELSE s.best / sqrt(n.nrm) END AS cos_c
              |FROM sc s JOIN nrm n ON s.id = n.id
              |WHERE CASE WHEN n.nrm = 0 THEN -2.0 ELSE s.best / sqrt(n.nrm) END < 0.2""".stripMargin)),

    // ---- embed-free topic clustering (hashing trick + the shared
    //      deterministic Lloyd): feature-hashed bag-of-words vectors,
    //      8 topics over a 64-dim hash space — the corpus-balance
    //      label that needs no encoder pass. Oracle re-derives the
    //      feature vectors word-by-word and re-learns the quantizer ----
    "ta_topics" -> Q(
      (s, dir) =>
        graft.operators.Topics.topicClusters(Tables(s, dir, "documents"),
            "doc_id", "text", nTopics = 8, dim = 64)
          .select(col("id").as("doc_id"), col("topic")),
      Some(s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              |wq AS (SELECT doc_id, unnest(ws) AS word FROM wl),
              |hx AS (SELECT doc_id, ${duckShingleKey("word")} AS h FROM wq),
              |fe AS (SELECT doc_id, CAST(h % 64 AS INT) AS i,
              |       CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS s FROM hx),
              |fa AS (SELECT doc_id, i, CAST(sum(s) AS BIGINT) AS v FROM fe GROUP BY 1, 2),
              |fm AS (SELECT doc_id, map(list(i ORDER BY i), list(v ORDER BY i)) AS m
              |       FROM fa GROUP BY doc_id),
              |v AS (SELECT doc_id AS id, list_transform(range(0, 64), i ->
              |       CAST(COALESCE(m[CAST(i AS INT)][1], 0) AS REAL)) AS vec FROM fm),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 8)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |vs AS (
              |  SELECT v.id, u.c,
              |    row_number() OVER (PARTITION BY v.id
              |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
              |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
              |  FROM v CROSS JOIN uf u)
              |SELECT id AS doc_id, CAST(c AS INT) AS topic FROM vs WHERE rn = 1""".stripMargin)),

    // ---- topic-balanced curation: k best docs per TOPIC by quality
    //      (capPerGroup keyed on the learned topic — the k-bounded
    //      aggregate, never a window) ----
    "ta_topic_balance" -> Q(
      (s, dir) =>
        graft.operators.Topics.topicBalancedSample(Tables(s, dir, "documents"),
          "doc_id", "text",
          graft.functions.TextFunctions.qualityScorePpm(col("text")), k = 15,
          nTopics = 8, dim = 64),
      Some(s"""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              |wq AS (SELECT doc_id, unnest(ws) AS word FROM wl),
              |hx AS (SELECT doc_id, ${duckShingleKey("word")} AS h FROM wq),
              |fe AS (SELECT doc_id, CAST(h % 64 AS INT) AS i,
              |       CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS s FROM hx),
              |fa AS (SELECT doc_id, i, CAST(sum(s) AS BIGINT) AS v FROM fe GROUP BY 1, 2),
              |fm AS (SELECT doc_id, map(list(i ORDER BY i), list(v ORDER BY i)) AS m
              |       FROM fa GROUP BY doc_id),
              |v AS (SELECT doc_id AS id, list_transform(range(0, 64), i ->
              |       CAST(COALESCE(m[CAST(i AS INT)][1], 0) AS REAL)) AS vec FROM fm),
              |train AS (SELECT id, vec FROM v
              |          ORDER BY ((id % 1000000007) * 1103515245 + 12345) % 1000000007, id
              |          LIMIT 100000),
              |c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS c, vec
              |       FROM (SELECT id, vec FROM train ORDER BY id LIMIT 8)),
              |${duckIvfIter(0)},
              |${duckIvfIter(1)},
              |uf AS (
              |  SELECT c, CASE WHEN nrm = 0 THEN vec
              |    ELSE list_transform(vec, x -> CAST(CAST(x AS DOUBLE) / sqrt(nrm) AS REAL)) END AS uvec
              |  FROM (SELECT c, vec,
              |          list_sum(list_transform(vec, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nrm
              |        FROM c2)),
              |vs AS (
              |  SELECT v.id, u.c,
              |    row_number() OVER (PARTITION BY v.id
              |      ORDER BY list_sum(list_transform(list_zip(v.vec, u.uvec),
              |        p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) DESC, u.c ASC) AS rn
              |  FROM v CROSS JOIN uf u),
              |tp AS (SELECT id, CAST(c AS INT) AS topic FROM vs WHERE rn = 1),
              |q AS (SELECT doc_id AS id,
              |  CAST((least(len(regexp_extract_all(text,'\\S+')), 100)
              |    * (len(regexp_extract_all(text,'\\S+'))
              |       - len(list_filter(string_split(text,' '),
              |           w -> w IN ('the','a','of','to','and','in','or','is'))))
              |    * 1000000)
              |  // (100 * len(regexp_extract_all(text,'\\S+'))) AS BIGINT) AS ord
              |  FROM documents),
              |rk AS (SELECT tp.id, tp.topic, q.ord,
              |  row_number() OVER (PARTITION BY tp.topic ORDER BY q.ord DESC, tp.id ASC) AS rn
              |  FROM tp JOIN q USING (id))
              |SELECT id, topic, ord FROM rk WHERE rn <= 15""".stripMargin)),

    // ---- SemDeDup (Abbas et al. 2023): semantic dedup through the
    //      SAME deterministic IVF quantizer — cluster, pair within
    //      cluster above eps, connected components, keep the member
    //      least similar to its centroid. The oracle re-learns the
    //      identical index, re-pairs, and closes the duplicate graph
    //      with a recursive CTE ----
    "dd_semdedup" -> Q(
      (s, dir) =>
        Dedup.semanticDedup(Tables(s, dir, "embeddings"), "vec_id", "embedding",
            eps = 0.4, nList = 16)
          .select(col("id").as("vec_id"), col("grp"), col("keep")),
      Some(duckSemdedupSql(maxListOccupancy = None))),

    // ---- SemDeDup with a BINDING list-occupancy cap (35 < max list
    //      size at every SF): oversized lists are excluded from pairing
    //      and their members kept un-deduped — the conservative
    //      boilerplate contract, exercised with data ----
    "dd_semdedup_capped" -> Q(
      (s, dir) =>
        Dedup.semanticDedup(Tables(s, dir, "embeddings"), "vec_id", "embedding",
            eps = 0.4, nList = 16, maxListOccupancy = 35L)
          .select(col("id").as("vec_id"), col("grp"), col("keep")),
      Some(duckSemdedupSql(maxListOccupancy = Some(35L)))),

    // ---- the STREAMING SemDeDup operator, driven in batch mode (same
    //      code path, one micro-batch of state transitions): per-list
    //      pairing against a pre-trained quantizer must reproduce the
    //      batch eps-graph exactly, so it shares the batch pair
    //      oracle ----
    "dd_semdedup_stateful" -> Q(
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val cents = graft.operators.Similarity.ivfCentroids(
          emb, "vec_id", "embedding", nList = 16, iters = 2)
        // the operator's FINITE default cap (maxList=100000) — far above
        // every test-SF corpus so the uncapped batch oracle stays exact,
        // while the benched configuration keeps the state/pairing bound
        // (the dd_neardup_stateful discipline)
        graft.streaming.StatefulOps.streamingSemanticCandidates(
            emb, "vec_id", "embedding", cents, eps = 0.4)
          .toDF().select(col("da"), col("db")).distinct()
      },
      Some(duckSemdedupSql(maxListOccupancy = None, out = "pairs"))),

    // ---- end-to-end semantic dedup apply: the embeddings table minus
    //      semantic duplicates (left-semi on the keep rule's ids) ----
    "dd_dedup_apply_semantic" -> Q(
      (s, dir) =>
        Dedup.dedupBySemantic(Tables(s, dir, "embeddings"), "vec_id", "embedding",
            eps = 0.4, nList = 16)
          .select(col("vec_id")),
      Some(duckSemdedupSql(maxListOccupancy = None, out = "keep"))),

    // ---- deterministic train/test split (pure function of doc_id:
    //      re-runs and engines agree; no rand()) ----
    "ta_train_split" -> Q(
      (s, dir) =>
        graft.operators.Sampling.splitByHash(
            Tables(s, dir, "documents"), "doc_id",
            Seq("train" -> 80, "valid" -> 10, "test" -> 10), seed = 1)
          .select(col("doc_id"), col("split")),
      Some("""SELECT doc_id,
             |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
             |FROM (SELECT doc_id, ((doc_id * 138 + 146) % 1000000007) % 100 AS b
             |      FROM documents)""".stripMargin)),

    // ---- fuzzy lookup: probe docs matched to the corpus by prefix
    //      edit distance, blocked on lang. Levenshtein is exact integer
    //      DP — identical across engines; the probe side broadcasts
    //      (same shape as ann brute force) so the corpus never shuffles.
    //      The probe set is small BY CONTRACT — the guard fails loudly
    //      if it silently grows past broadcast size ----
    "ta_fuzzy_match" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"), substring(col("text"), 1, 30).as("pfx"))
        val probes = broadcast(graft.operators.Guards.assertBroadcastable(
          d.filter(col("doc_id") < 100)
            .select(col("doc_id").as("qid"), col("lang"), col("pfx").as("qpfx")),
          maxRows = 100000L, what = "fuzzy-match probe set"))
        // banded DP: the threshold variant short-circuits at distance
        // > 12 (O(k·n) per pair instead of O(n²)), returning -1 beyond
        probes.join(d, Seq("lang"))
          .filter(col("qid") =!= col("doc_id"))
          .select(col("qid"), col("doc_id").as("nid"),
            levenshtein(col("qpfx"), col("pfx"), 12).cast("long").as("dist"))
          .filter(col("dist") >= 0)
      },
      Some("""WITH d AS (SELECT doc_id, lang, substr(text, 1, 30) AS pfx FROM documents)
             |SELECT q.doc_id AS qid, c.doc_id AS nid,
             |  levenshtein(q.pfx, c.pfx) AS dist
             |FROM d q JOIN d c ON q.lang = c.lang AND q.doc_id < 100 AND q.doc_id <> c.doc_id
             |WHERE levenshtein(q.pfx, c.pfx) <= 12""".stripMargin)),

    // ---- deterministic per-group sample (at most 20 docs per source,
    //      chosen by key-hash order — stable across runs/engines) ----
    "ta_sample_per_group" -> Q(
      (s, dir) =>
        graft.operators.Sampling.samplePerGroup(
            Tables(s, dir, "documents"), "source", "doc_id", perGroup = 20)
          .select(col("source"), col("doc_id")),
      Some("""SELECT source, doc_id FROM (
             |  SELECT source, doc_id,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY ((doc_id * 37 + 7) % 1000000007) % 1000000, doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 20""".stripMargin)),

    // ---- PII redaction (emails/phones/IPs injected deterministically
    //      into the text, then scrubbed; oracle applies the same regex
    //      chain in DuckDB) ----
    "ta_redact" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val dirty = concat(
          col("text"), lit(" contact user"), col("doc_id"), lit("@example.com or "),
          lit("555-01"), lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
          lit("-1234 at 10.0."), pmod(col("doc_id"), lit(256)), lit(".7"))
        d.select(col("doc_id"), TextFunctions.redact(dirty).as("clean"))
          .withColumn("n_redactions",
            (size(split(col("clean"), "<EMAIL>", -1)) - 1 +
              size(split(col("clean"), "<PHONE>", -1)) - 1 +
              size(split(col("clean"), "<IP>", -1)) - 1).cast("long"))
      },
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(
             |    text || ' contact user' || doc_id || '@example.com or 555-01'
             |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234 at 10.0.' || (doc_id % 256) || '.7',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?\d{3}[- .]\d{3}[- .]\d{4}', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean,
             |  len(string_split(regexp_replace(regexp_replace(regexp_replace(
             |    text || ' contact user' || doc_id || '@example.com or 555-01'
             |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234 at 10.0.' || (doc_id % 256) || '.7',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?\d{3}[- .]\d{3}[- .]\d{4}', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'), '<EMAIL>')) - 1
             |  + len(string_split(regexp_replace(regexp_replace(regexp_replace(
             |    text || ' contact user' || doc_id || '@example.com or 555-01'
             |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234 at 10.0.' || (doc_id % 256) || '.7',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?\d{3}[- .]\d{3}[- .]\d{4}', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'), '<PHONE>')) - 1
             |  + len(string_split(regexp_replace(regexp_replace(regexp_replace(
             |    text || ' contact user' || doc_id || '@example.com or 555-01'
             |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234 at 10.0.' || (doc_id % 256) || '.7',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\+?\d{3}[- .]\d{3}[- .]\d{4}', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'), '<IP>')) - 1
             |  AS n_redactions
             |FROM documents""".stripMargin)),

    // ---- WEB INGEST: the crawl-facing steps in front of the dedup
    //      family. Each document is wrapped in a deterministic HTML
    //      page (synthWebHtml); the oracles re-derive the EXPECTED
    //      outputs directly from doc_id/text arithmetic — never by
    //      replaying the operator's regexes — so a shared regex bug
    //      cannot self-certify. All map-only codegen chains
    //      (PlanSpec-pinned zero exchanges) except the dedup's one
    //      partial-agg'd shuffle.
    //
    //      CORPUS-TEXT ASSUMPTION (binds every oracle in this
    //      section that embeds document text in HTML): the driver's
    //      `documents.text` is single-spaced pure `[a-z ]` — no
    //      consecutive whitespace, no '<', '>', '&' or other
    //      entity/tag characters — so `trim(substr(text,1,200))`
    //      in SQL equals the operator's whitespace-collapsed,
    //      entity-decoded extraction of the same fragment. If a
    //      future corpus generator changes that, these oracles FAIL
    //      as hash mismatches; re-derive the expected text with
    //      whitespace collapse + entity escaping first. ----

    // HTML → text (WET extraction): script/style/comment elements out,
    // tags to spaces, fixed entity set decoded after stripping,
    // whitespace collapsed.
    "ta_html_extract" -> Q(
      (s, dir) => synthWebHtml(s, dir).select(col("doc_id"),
        graft.functions.WebFunctions.htmlToText(col("html")).as("clean")),
      Some("""SELECT doc_id,
             |  'Doc ' || doc_id || ' ' || trim(substr(text, 1, 200)) ||
             |  ' more img Fish & Chips <deal> now ''hot'' "q"' AS clean
             |FROM documents""".stripMargin)),

    // MAIN-CONTENT extraction (boilerplate removal): blocks with too
    // few words (the title, the bare anchor run between the links)
    // or anchor-dominated text drop; the doc's <p> survives when it
    // carries >= 5 words and the entity-bearing div always survives
    // (7 words, zero anchors). A TRUNCATED TWIN per 11th doc (first
    // 10 chars — one or two words) makes the minWords drop BIND on
    // the corpus, not just in unit fixtures. The oracle re-derives
    // the keep decision and the joined text from the fixture
    // arithmetic, word-count CASE included.
    "ta_html_main" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        val twins = d.where(pmod(col("doc_id"), lit(11L)) === 0)
          .select((col("doc_id") + lit(2000000000L)).as("doc_id"),
            substring(col("text"), 1, 10).as("text"))
        d.unionByName(twins).select(col("doc_id"), webHtmlCol.as("html"))
          .select(col("doc_id"),
            graft.functions.WebFunctions.mainContent(col("html")).as("main_text"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents
             |              UNION ALL
             |              SELECT doc_id + 2000000000, substr(text, 1, 10)
             |              FROM documents WHERE doc_id % 11 = 0),
             |t AS (SELECT doc_id, trim(substr(text, 1, 200)) AS main FROM base),
             |w AS (SELECT doc_id, main,
             |        len(list_filter(string_split(main, ' '), x -> x <> '')) AS nw FROM t)
             |SELECT doc_id,
             |  CASE WHEN nw >= 5 THEN main || ' ' ELSE '' END ||
             |  'Fish & Chips <deal> now ''hot'' "q"' AS main_text
             |FROM w""".stripMargin)),

    // href extraction in document order (posexplode pins ordinals):
    // the link-graph feed.
    "ta_html_links" -> Q(
      (s, dir) => synthWebHtml(s, dir)
        .select(col("doc_id"), posexplode(
          graft.functions.WebFunctions.extractLinks(col("html"))).as(Seq("link_idx", "url")))
        .select(col("doc_id"), col("link_idx").cast("long").as("link_idx"), col("url")),
      Some("""SELECT doc_id, CAST(0 AS BIGINT) AS link_idx,
             |  'HTTP://WWW.Site' || (doc_id % 7) || '.COM:80/p/' || (doc_id % 211)
             |    || '/?utm_source=feed&b=2&a=1#frag' AS url
             |FROM documents
             |UNION ALL
             |SELECT doc_id, CAST(1 AS BIGINT),
             |  'https://cdn.site' || (doc_id % 5) || '.com:8080/img/' || doc_id || '?gclid=x&id=2'
             |FROM documents""".stripMargin)),

    // WAT-style anchor extraction: href + anchor TEXT in document
    // order (the inbound-link description signal; bare hrefs lose
    // it). Both corpus anchors bind the pairing — each link_idx must
    // carry ITS OWN text, so a zip misalignment (or a regex that
    // matches the href-less/area forms extractLinks accepts) breaks
    // the hash.
    "ta_html_anchors" -> Q(
      (s, dir) => synthWebHtml(s, dir)
        .select(col("doc_id"), posexplode(
          graft.functions.WebFunctions.extractAnchors(col("html"))).as(Seq("link_idx", "a")))
        .select(col("doc_id"), col("link_idx").cast("long").as("link_idx"),
          col("a.url").as("url"), col("a.text").as("anchor_text")),
      Some("""SELECT doc_id, CAST(0 AS BIGINT) AS link_idx,
             |  'HTTP://WWW.Site' || (doc_id % 7) || '.COM:80/p/' || (doc_id % 211)
             |    || '/?utm_source=feed&b=2&a=1#frag' AS url,
             |  'more' AS anchor_text
             |FROM documents
             |UNION ALL
             |SELECT doc_id, CAST(1 AS BIGINT),
             |  'https://cdn.site' || (doc_id % 5) || '.com:8080/img/' || doc_id || '?gclid=x&id=2',
             |  'img'
             |FROM documents""".stripMargin)),

    // ---- sitemap parsing (sitemaps.org XML) — the crawl frontier's
    //      seed surface. Two docs in three are a urlset (two <url>
    //      entries: one fully-annotated with an ESCAPED &amp; in its
    //      loc that must decode, one bare with ""-absent
    //      lastmod/priority, plus a loc-less malformed block that
    //      must DROP — indices stay 0,1); every 3rd doc is a
    //      sitemapindex whose <sitemap> entries surface is_index=true
    //      (the frontier fan-out). The <url\b boundary must NOT match
    //      <urlset. Expected rows stated directly from doc
    //      arithmetic. ----
    "ta_sitemap" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val k7 = pmod(col("doc_id"), lit(7L)).cast("string")
        val k211 = pmod(col("doc_id"), lit(211L)).cast("string")
        val m = pmod(col("doc_id"), lit(3L))
        val urlset = concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n <url>\n  <loc>http://site"),
          k7, lit(".com/p/"), k211,
          lit("?a=1&amp;b=2</loc>\n  <lastmod>2024-0"),
          (pmod(col("doc_id"), lit(9L)) + 1).cast("string"),
          lit("-15</lastmod>\n  <priority>0."),
          pmod(col("doc_id"), lit(10L)).cast("string"),
          lit("</priority>\n </url>\n <url><loc>http://site"),
          k7, lit(".com/q/"), col("doc_id").cast("string"),
          lit("</loc></url>\n <url><lastmod>2024-01-01</lastmod></url>\n</urlset>"))
        val index = concat(
          lit("<?xml version=\"1.0\"?>\n<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n <sitemap>\n  <loc>http://site"),
          k7,
          lit(".com/sitemap1.xml.gz</loc>\n  <lastmod>2024-02-01</lastmod>\n </sitemap>\n <sitemap><loc>http://site"),
          k7, lit(".com/sitemap2.xml.gz</loc></sitemap>\n</sitemapindex>"))
        d.select(col("doc_id"), when(m === 0, index).otherwise(urlset).as("xml"))
          .select(col("doc_id"), posexplode(
            graft.functions.WebFunctions.extractSitemap(col("xml")))
            .as(Seq("entry_idx", "e")))
          .select(col("doc_id"), col("entry_idx").cast("long").as("entry_idx"),
            col("e.loc").as("loc"), col("e.lastmod").as("lastmod"),
            col("e.priority").as("priority"), col("e.is_index").as("is_index"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |  'http://site' || (doc_id % 7) || '.com' AS b, doc_id % 3 AS m
             |  FROM documents)
             |SELECT doc_id, CAST(0 AS BIGINT) AS entry_idx,
             |  b || '/p/' || (doc_id % 211) || '?a=1&b=2' AS loc,
             |  '2024-0' || (doc_id % 9 + 1) || '-15' AS lastmod,
             |  '0.' || (doc_id % 10) AS priority, FALSE AS is_index
             |FROM h WHERE m <> 0
             |UNION ALL
             |SELECT doc_id, 1, b || '/q/' || doc_id, '', '', FALSE
             |FROM h WHERE m <> 0
             |UNION ALL
             |SELECT doc_id, 0, b || '/sitemap1.xml.gz', '2024-02-01', '', TRUE
             |FROM h WHERE m = 0
             |UNION ALL
             |SELECT doc_id, 1, b || '/sitemap2.xml.gz', '', '', TRUE
             |FROM h WHERE m = 0""".stripMargin)),

    // URL canonicalization, every contract rule bound by one of the
    // eight raw variants: scheme/host case + www + default :80 +
    // trailing slash + tracking-only query (v0), param sort + tracking
    // drop (v1), https default :443 + fragment (v2), non-default port
    // + host case lowered (v3), unreserved percent-escapes decode +
    // punycode host pass-through (v4), reserved escapes keep bytes but
    // uppercase hex (v5), malformed escapes untouched (v6), escapes
    // normalize BEFORE the param sort (v7). Three twins per 9th doc:
    // the kernel's unicode→punycode fold — the unicode spelling
    // (+1e9) and the punycode spelling (+2e9) of the SAME host must
    // canonicalize to the IDENTICAL key — and an RFC-invalid
    // multi-colon authority (+3e9) that must pass through WHOLE
    // (no host/port splice, no param sort).
    "ta_url_canon" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val k = pmod(col("doc_id"), lit(211L)).cast("string")
        val m = pmod(col("doc_id"), lit(8L))
        val raw = when(m === 0,
            concat(lit("HTTP://WWW.Host"), k, lit(".COM:80/Page/"), k, lit("/?utm_campaign=a")))
          .when(m === 1,
            concat(lit("http://host"), k, lit(".com/Page/"), k, lit("?b=2&a=1&fbclid=z")))
          .when(m === 2,
            concat(lit("https://host"), k, lit(".com:443/Page/"), k, lit("?a=1&b=2#frag")))
          .when(m === 3,
            concat(lit("https://Host"), k, lit(".com:8443/Page/"), k, lit("?a=1")))
          .when(m === 4,
            concat(lit("http://XN--BCHER-KVA.example/%7Euser/%41rchive%2D"), k))
          .when(m === 5,
            concat(lit("http://host"), k, lit(".com/a%2fb/%3d"), k, lit("?x=%3a")))
          .when(m === 6,
            concat(lit("http://host"), k, lit(".com/p%zz/"), k, lit("q%4")))
          .otherwise(
            concat(lit("http://host"), k, lit(".com/%64oc"), k, lit("?b=%7E2&a=1")))
        val nine = d.where(pmod(col("doc_id"), lit(9L)) === 0)
        val uniTwin = nine.select((col("doc_id") + lit(1000000000L)).as("doc_id"),
          concat(lit("http://Bücher.example/x/"), k).as("url"))
        val punyTwin = nine.select((col("doc_id") + lit(2000000000L)).as("doc_id"),
          concat(lit("http://xn--bcher-kva.EXAMPLE/x/"), k).as("url"))
        // RFC-invalid authority (>1 colon, no brackets): passes
        // through WHOLE — no host/port splice, no param sort
        val colonTwin = nine.select((col("doc_id") + lit(3000000000L)).as("doc_id"),
          concat(lit("http://h"), k, lit(":1:2/p"), k, lit("?b=2&a=1")).as("url"))
        d.select(col("doc_id"), raw.as("url"))
          .unionByName(uniTwin).unionByName(punyTwin).unionByName(colonTwin)
          .select(col("doc_id"), col("url"),
            graft.functions.WebFunctions.canonicalizeUrl(col("url")).as("url_canon"))
      },
      Some("""WITH v AS (SELECT doc_id, doc_id % 8 AS m,
             |            CAST(doc_id % 211 AS VARCHAR) AS k FROM documents),
             |v9 AS (SELECT doc_id, CAST(doc_id % 211 AS VARCHAR) AS k
             |       FROM documents WHERE doc_id % 9 = 0)
             |SELECT doc_id,
             |  CASE m WHEN 0 THEN 'HTTP://WWW.Host' || k || '.COM:80/Page/' || k || '/?utm_campaign=a'
             |         WHEN 1 THEN 'http://host' || k || '.com/Page/' || k || '?b=2&a=1&fbclid=z'
             |         WHEN 2 THEN 'https://host' || k || '.com:443/Page/' || k || '?a=1&b=2#frag'
             |         WHEN 3 THEN 'https://Host' || k || '.com:8443/Page/' || k || '?a=1'
             |         WHEN 4 THEN 'http://XN--BCHER-KVA.example/%7Euser/%41rchive%2D' || k
             |         WHEN 5 THEN 'http://host' || k || '.com/a%2fb/%3d' || k || '?x=%3a'
             |         WHEN 6 THEN 'http://host' || k || '.com/p%zz/' || k || 'q%4'
             |         ELSE 'http://host' || k || '.com/%64oc' || k || '?b=%7E2&a=1' END AS url,
             |  CASE m WHEN 0 THEN 'http://host' || k || '.com/Page/' || k
             |         WHEN 1 THEN 'http://host' || k || '.com/Page/' || k || '?a=1&b=2'
             |         WHEN 2 THEN 'https://host' || k || '.com/Page/' || k || '?a=1&b=2'
             |         WHEN 3 THEN 'https://host' || k || '.com:8443/Page/' || k || '?a=1'
             |         WHEN 4 THEN 'http://xn--bcher-kva.example/~user/Archive-' || k
             |         WHEN 5 THEN 'http://host' || k || '.com/a%2Fb/%3D' || k || '?x=%3A'
             |         WHEN 6 THEN 'http://host' || k || '.com/p%zz/' || k || 'q%4'
             |         ELSE 'http://host' || k || '.com/doc' || k || '?a=1&b=~2' END AS url_canon
             |FROM v
             |UNION ALL
             |SELECT doc_id + 1000000000, 'http://Bücher.example/x/' || k,
             |  'http://xn--bcher-kva.example/x/' || k FROM v9
             |UNION ALL
             |SELECT doc_id + 2000000000, 'http://xn--bcher-kva.EXAMPLE/x/' || k,
             |  'http://xn--bcher-kva.example/x/' || k FROM v9
             |UNION ALL
             |SELECT doc_id + 3000000000, 'http://h' || k || ':1:2/p' || k || '?b=2&a=1',
             |  'http://h' || k || ':1:2/p' || k || '?b=2&a=1' FROM v9""".stripMargin)),

    // URL-keyed dedup: five raw spellings per canonical page (case,
    // www, default port, trailing slash, fragment, tracking params,
    // percent-escaped path bytes) collapse to one key; a single
    // partial-agg'd hash shuffle picks the keeper — crawl-level dedup
    // BEFORE any content fingerprint, the cheapest dedup tier at
    // 100 TB. The oracle states the canonical key directly, so ONLY
    // normalization can make the spellings collide.
    "dd_url_dedup" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val k = pmod(col("doc_id"), lit(97L)).cast("string")
        val m = pmod(col("doc_id"), lit(5L))
        val raw = when(m === 0,
            concat(lit("HTTP://WWW.Host"), k, lit(".COM:80/p/"), k, lit("/?utm_source=x")))
          .when(m === 1,
            concat(lit("http://host"), k, lit(".com/p/"), k, lit("?utm_campaign=y")))
          .when(m === 2,
            concat(lit("http://Host"), k, lit(".com/p/"), k, lit("#sec")))
          .when(m === 3,
            concat(lit("http://host"), k, lit(".com:80/p/"), k, lit("/?fbclid=a&gclid=b")))
          .otherwise( // %70 is the percent-escaped 'p' (RFC 3986 §6.2.2)
            concat(lit("http://host"), k, lit(".com/%70/"), k))
        d.select(col("doc_id"),
            graft.functions.WebFunctions.canonicalizeUrl(raw).as("url_canon"))
          .groupBy(col("url_canon"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_variants"))
      },
      Some("""SELECT 'http://host' || (doc_id % 97) || '.com/p/' || (doc_id % 97) AS url_canon,
             |  min(doc_id) AS keeper, count(*) AS n_variants
             |FROM documents GROUP BY 1""".stripMargin)),

    // ---- URL dedup AFTER redirect resolution — the apply step the
    //      resolver exists for: a page captured at `/old` (which 301s
    //      to `/p`) must key as `/p`, or the corpus counts the same
    //      page once per historical spelling. Five page arms per doc:
    //      the final target itself (m0), a 1-hop (m1) and a 2-hop
    //      (m2) historical spelling that must COLLAPSE with it, a
    //      3-cycle member (m3) that must NOT collapse (terminal=false
    //      gates the re-key — with rounds=3 the raw pointer lands on
    //      the member 8≡2 (mod 3) ahead, so applying it anyway would
    //      shift every cycle key and mismatch), and an unredirected
    //      control (m4). The dim-sized resolution map BROADCASTS; the
    //      page side's only shuffle is the dedup groupBy itself.
    //      sum_hops binds the per-page redirect_hops annotation
    //      (m1 docs contribute 1, m2 docs 2, everyone else 0). ----
    "dd_url_dedup_redirect" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val k = pmod(col("doc_id"), lit(97L)).cast("string")
        val m = pmod(col("doc_id"), lit(5L))
        val host = concat(lit("http://host"), k, lit(".com"))
        val url = when(m === 0, concat(host, lit("/p/"), k))
          .when(m === 1, concat(host, lit("/old/"), k))
          .when(m === 2, concat(host, lit("/older/"), k))
          .when(m === 3, concat(host, lit("/cyc"), pmod(col("doc_id"), lit(3L)), lit("/"), k))
          .otherwise(concat(host, lit("/solo/"), k))
        val pages = d.select(col("doc_id"), url.as("url_canon"))
        // redirect edges are a DIM table (one chain + one cycle per
        // key family), built shuffle-free from range
        val ks = s.range(0, 97).select(col("id").cast("string").as("k"))
        val h = concat(lit("http://host"), col("k"), lit(".com"))
        def e(from: org.apache.spark.sql.Column, to: org.apache.spark.sql.Column) =
          ks.select(from.as("src"), to.as("dst"))
        val edges = e(concat(h, lit("/old/"), col("k")), concat(h, lit("/p/"), col("k")))
          .unionByName(e(concat(h, lit("/older/"), col("k")), concat(h, lit("/old/"), col("k"))))
          .unionByName(e(concat(h, lit("/cyc0/"), col("k")), concat(h, lit("/cyc1/"), col("k"))))
          .unionByName(e(concat(h, lit("/cyc1/"), col("k")), concat(h, lit("/cyc2/"), col("k"))))
          .unionByName(e(concat(h, lit("/cyc2/"), col("k")), concat(h, lit("/cyc0/"), col("k"))))
        val res = graft.operators.Redirects.resolve(edges, rounds = 3, graphPartitions = 4)
        graft.operators.Redirects.applyResolution(pages, res)
          .groupBy(col("url_final"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_variants"),
            sum(col("redirect_hops")).as("sum_hops"))
      },
      Some("""SELECT CASE doc_id % 5
             |    WHEN 3 THEN 'http://host' || (doc_id % 97) || '.com/cyc'
             |                || (doc_id % 3) || '/' || (doc_id % 97)
             |    WHEN 4 THEN 'http://host' || (doc_id % 97) || '.com/solo/' || (doc_id % 97)
             |    ELSE 'http://host' || (doc_id % 97) || '.com/p/' || (doc_id % 97) END AS url_final,
             |  min(doc_id) AS keeper, count(*) AS n_variants,
             |  CAST(sum(CASE doc_id % 5 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END) AS BIGINT)
             |    AS sum_hops
             |FROM documents GROUP BY 1""".stripMargin)),

    // ---- EXIF metadata (TIFF 6.0 IFD in a JPEG APP1 carrier):
    //      provenance + the GPS-presence PII flag. Synthesized JPEGs
    //      with FIXED-WIDTH variable fields (single-digit make/model/
    //      time digits, orientation 1-8) so every IFD offset is a
    //      template constant; every 3rd doc carries a GPS IFD pointer
    //      (5-entry template) — the PII flag BINDS both ways. The
    //      oracle states each field from doc arithmetic. ----
    "mm_exif_meta" -> Q(
      (s, dir) => {
        val d5 = pmod(col("doc_id"), lit(5L)).cast("string")
        val d10 = pmod(col("doc_id"), lit(10L)).cast("string")
        val ori = (pmod(col("doc_id"), lit(8L)) + 1).cast("string")
        val dataHex = (mk: org.apache.spark.sql.Column, mo: org.apache.spark.sql.Column,
                       dt: org.apache.spark.sql.Column) => concat(
          lit("43616D3"), mk, lit("00"), // "Cam"+d+NUL
          lit("4D6F64656C3"), mo, lit("00"), // "Model"+d+NUL
          lit("323032363A30383A31362030333A30303A303"), dt, lit("00")) // 20-byte DateTime
        val gpsHex = concat(
          lit("FFD8FFE10084457869660000" + "49492A0008000000" + "0500" +
            "0F0102000500000" + "04A000000" + "10010200070000004F000000" +
            "120103000100000" + "00"), ori,
          lit("000000" + "3201020014000000" + "56000000" +
            "2588040001000000" + "6A000000" + "00000000"),
          dataHex(d5, d10, d10),
          lit("0100" + "000001000400000002030000" + "00000000" + "FFD9"))
        val plainHex = concat(
          lit("FFD8FFE10066457869660000" + "49492A0008000000" + "0400" +
            "0F0102000500000" + "03E000000" + "1001020007000000" + "43000000" +
            "120103000100000" + "00"), ori,
          lit("000000" + "3201020014000000" + "4A000000" + "00000000"),
          dataHex(d5, d10, d10),
          lit("FFD9"))
        val content = unhex(when(pmod(col("doc_id"), lit(3L)) === 0, gpsHex)
          .otherwise(plainHex))
        implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
        val media = Tables(s, dir, "documents")
          .select(col("doc_id"), lit("image").as("kind"), content.as("content"))
          .as[Multimodal.MediaRow]
        Multimodal.exifMeta(media).toDF()
          .select(col("doc_id"), col("make"), col("model"),
            col("orientation").cast("long").as("orientation"),
            col("date_time"), col("has_gps"))
      },
      Some("""SELECT doc_id,
             |  'Cam' || (doc_id % 5) AS make,
             |  'Model' || (doc_id % 10) AS model,
             |  CAST(doc_id % 8 + 1 AS BIGINT) AS orientation,
             |  '2026:08:16 03:00:0' || (doc_id % 10) AS date_time,
             |  (doc_id % 3 = 0) AS has_gps
             |FROM documents""".stripMargin)),

    // ---- robots.txt compliance (RFC 9309): per-host robots bodies
    //      ride a BROADCAST dim (7 hosts built shuffle-free from
    //      range); every URL's allow decision is one codegen kernel
    //      call with a per-thread parse memo. The five path variants
    //      bind each contract clause: plain prefix disallow, the
    //      longer-Allow override, the `*.json$` wildcard+anchor, the
    //      failed `$` anchor, and `*`-group NON-merge for a named
    //      agent. Oracle states the expected decision per variant
    //      directly. ----
    "ta_robots_allowed" -> Q(
      (s, dir) => {
        val robotsBody = "User-agent: evilbot\nDisallow: /\n\n" +
          "User-agent: graftbot\nAllow: /p/ok\nDisallow: /p/\nDisallow: /*.json$\n\n" +
          "User-agent: *\nDisallow: /private/\n"
        val hosts = s.range(0, 7)
          .select(col("id").as("host"), lit(robotsBody).as("robots"))
        val k = pmod(col("doc_id"), lit(211L)).cast("string")
        val m = pmod(col("doc_id"), lit(5L))
        val path = when(m === 0, concat(lit("/p/"), k))
          .when(m === 1, concat(lit("/p/ok"), k))
          .when(m === 2, concat(lit("/data/"), k, lit(".json")))
          .when(m === 3, concat(lit("/data/"), k, lit(".jsonx")))
          .otherwise(concat(lit("/private/"), k))
        Tables(s, dir, "documents")
          .select(col("doc_id"), pmod(col("doc_id"), lit(7L)).as("host"), path.as("path"))
          .join(broadcast(hosts), "host")
          .select(col("doc_id"), col("path"),
            graft.functions.Kernels.robotsAllowed(
              col("robots"), lit("graftbot"), col("path")).as("allowed"))
      },
      Some("""WITH v AS (SELECT doc_id, doc_id % 5 AS m,
             |            CAST(doc_id % 211 AS VARCHAR) AS k FROM documents)
             |SELECT doc_id,
             |  CASE m WHEN 0 THEN '/p/' || k
             |         WHEN 1 THEN '/p/ok' || k
             |         WHEN 2 THEN '/data/' || k || '.json'
             |         WHEN 3 THEN '/data/' || k || '.jsonx'
             |         ELSE '/private/' || k END AS path,
             |  CASE m WHEN 0 THEN FALSE
             |         WHEN 1 THEN TRUE
             |         WHEN 2 THEN FALSE
             |         WHEN 3 THEN TRUE
             |         ELSE TRUE END AS allowed
             |FROM v""".stripMargin)),

    // ---- WARC record maps (ISO 28500) — the crawl-ingest analog of
    //      the MP4 sample tables: per-file record map with HTTP
    //      header/body split as BYTE RANGES, slice downstream. The
    //      oracle rebuilds the identical archive string in SQL (from
    //      the shared template constants) and re-derives every offset
    //      from length arithmetic — version line, header lines,
    //      Content-Length digits, HTTP headers — never by running a
    //      parser. ----
    "ta_warc_records" -> Q(
      (s, dir) => Multimodal.warcRecords(synthWarc(s, dir)).toDF()
        .select(col("doc_id"), col("idx").cast("long").as("idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          col("http_status").cast("long").as("http_status"),
          col("header_offset"), col("body_offset"), col("body_length")),
      Some(s"""WITH h AS (SELECT doc_id, octet_length(encode($webHtmlSql)) AS hl,
              |  'HTTP://WWW.Site' || (doc_id % 7) || '.COM:80/p/' || (doc_id % 211)
              |    || '/?utm_source=feed&b=2&a=1' AS uri
              |  FROM documents)
              |SELECT doc_id, CAST(0 AS BIGINT) AS idx, 'warcinfo' AS warc_type,
              |  '' AS target_uri, CAST(${WarcInfoBody.length} AS BIGINT) AS content_length,
              |  CAST(-1 AS BIGINT) AS http_status, CAST(0 AS BIGINT) AS header_offset,
              |  CAST(${WarcRec0.length - WarcInfoBody.length - 4} AS BIGINT) AS body_offset,
              |  CAST(${WarcInfoBody.length} AS BIGINT) AS body_length
              |FROM h
              |UNION ALL
              |SELECT doc_id, 1, 'response', uri, hl + ${WarcHttpHdr.length}, 200,
              |  ${WarcRec0.length},
              |  ${WarcRec0.length + WarcRec1Fixed} + length(uri)
              |    + length(CAST(hl + ${WarcHttpHdr.length} AS VARCHAR)),
              |  hl
              |FROM h""".stripMargin)),

    // ---- `.warc.zst` ingest (IIPC warc-zstd): the SAME two records
    //      as ta_warc_records, but shipped as the modern archive
    //      layout — a shared dictionary in a leading skippable frame
    //      and one zstd frame per record compressed AGAINST it, so a
    //      reader with broken dictionary plumbing fails loudly
    //      instead of mojibaking. The oracle is ta_warc_records'
    //      verbatim: record offsets refer to the DECOMPRESSED buffer,
    //      so the compression layer must be invisible to every
    //      downstream facet. ----
    "ta_warc_zstd" -> Q(
      (s, dir) => synthMedia(s, dir) { (id, text) =>
        val htmlB = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val uri = s"HTTP://WWW.Site${id % 7}.COM:80/p/${id % 211}/?utm_source=feed&b=2&a=1"
        val block = htmlB.length + WarcHttpHdr.length
        val rec0 = WarcRec0.getBytes(WarcAscii)
        val rec1 = (WarcRec1Pre + uri + "\r\nContent-Length: " + block +
          "\r\n\r\n" + WarcHttpHdr).getBytes(WarcAscii) ++ htmlB ++
          "\r\n\r\n".getBytes(WarcAscii)
        val dict = (WarcRec0 + WarcRec1Pre + WarcHttpHdr).getBytes(WarcAscii)
        Seq(Multimodal.MediaRow(id, "warc", zstdWarcFile(Seq(rec0, rec1), dict)))
      }.transform(m => Multimodal.warcRecords(m).toDF())
        .select(col("doc_id"), col("idx").cast("long").as("idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          col("http_status").cast("long").as("http_status"),
          col("header_offset"), col("body_offset"), col("body_length")),
      Some(s"""WITH h AS (SELECT doc_id, octet_length(encode($webHtmlSql)) AS hl,
              |  'HTTP://WWW.Site' || (doc_id % 7) || '.COM:80/p/' || (doc_id % 211)
              |    || '/?utm_source=feed&b=2&a=1' AS uri
              |  FROM documents)
              |SELECT doc_id, CAST(0 AS BIGINT) AS idx, 'warcinfo' AS warc_type,
              |  '' AS target_uri, CAST(${WarcInfoBody.length} AS BIGINT) AS content_length,
              |  CAST(-1 AS BIGINT) AS http_status, CAST(0 AS BIGINT) AS header_offset,
              |  CAST(${WarcRec0.length - WarcInfoBody.length - 4} AS BIGINT) AS body_offset,
              |  CAST(${WarcInfoBody.length} AS BIGINT) AS body_length
              |FROM h
              |UNION ALL
              |SELECT doc_id, 1, 'response', uri, hl + ${WarcHttpHdr.length}, 200,
              |  ${WarcRec0.length},
              |  ${WarcRec0.length + WarcRec1Fixed} + length(uri)
              |    + length(CAST(hl + ${WarcHttpHdr.length} AS VARCHAR)),
              |  hl
              |FROM h""".stripMargin)),

    // ---- serving-grade CDX: the member byte ranges a REAL CDX file
    //      stores — replay range-reads member_length bytes at
    //      member_offset and decompresses ONE record. Every doc ships
    //      its archive twice: as `.warc.zst` (dict frame + one frame
    //      per record → member_idx == record idx; the dict skippable
    //      frame is NOT a member) and plain (+1e9: uncompressed input
    //      degrades to member -1 — its record offsets already ARE
    //      file offsets). The compressed byte VALUES aren't
    //      SQL-derivable (DuckDB can't run zstd); the oracle binds
    //      the record→member MAPPING and the plain degrade, and
    //      WebArchiveSpec binds the ranged-read protocol
    //      byte-for-byte. ----
    "ta_warc_cdx_members" -> Q(
      (s, dir) => synthMedia(s, dir) { (id, text) =>
        val htmlB = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val uri = s"HTTP://WWW.Site${id % 7}.COM:80/p/${id % 211}/?utm_source=feed&b=2&a=1"
        val block = htmlB.length + WarcHttpHdr.length
        val rec0 = WarcRec0.getBytes(WarcAscii)
        val rec1 = (WarcRec1Pre + uri + "\r\nContent-Length: " + block +
          "\r\n\r\n" + WarcHttpHdr).getBytes(WarcAscii) ++ htmlB ++
          "\r\n\r\n".getBytes(WarcAscii)
        val dict = (WarcRec0 + WarcRec1Pre + WarcHttpHdr).getBytes(WarcAscii)
        Seq(
          Multimodal.MediaRow(id, "warc", zstdWarcFile(Seq(rec0, rec1), dict)),
          Multimodal.MediaRow(id + 1000000000L, "warc", rec0 ++ rec1))
      }.transform(m => Multimodal.warcCdxMembers(m).toDF())
        .select(col("doc_id"), col("idx").cast("long").as("idx"), col("url"),
          col("member_idx").cast("long").as("member_idx"),
          col("offset"), col("rec_length")),
      Some(s"""WITH h AS (SELECT doc_id, octet_length(encode($webHtmlSql)) AS hl,
              |  'HTTP://WWW.Site' || (doc_id % 7) || '.COM:80/p/' || (doc_id % 211)
              |    || '/?utm_source=feed&b=2&a=1' AS uri
              |  FROM documents),
              |arms AS (SELECT doc_id, hl, uri, CAST(TRUE AS BOOLEAN) AS zst FROM h
              |  UNION ALL SELECT doc_id + 1000000000, hl, uri, FALSE FROM h)
              |SELECT doc_id, CAST(0 AS BIGINT) AS idx, '' AS url,
              |  CAST(CASE WHEN zst THEN 0 ELSE -1 END AS BIGINT) AS member_idx,
              |  CAST(0 AS BIGINT) AS offset,
              |  CAST(${WarcRec0.length - 4} AS BIGINT) AS rec_length
              |FROM arms
              |UNION ALL
              |SELECT doc_id, 1, uri, CASE WHEN zst THEN 1 ELSE -1 END,
              |  ${WarcRec0.length},
              |  ${WarcRec1Fixed} + length(uri)
              |    + length(CAST(hl + ${WarcHttpHdr.length} AS VARCHAR)) + hl
              |FROM arms""".stripMargin)),

    // ---- CDX-style archive index (the wayback/pywb lookup surface):
    //      per record, SURT urlkey + URL + type + HTTP mime/status +
    //      digest + byte offset/record length, one map-only pass.
    //      The oracle re-derives every offset/length from the same
    //      template constants as ta_warc_records and states the SURT
    //      transform (host labels reversed, canonical query) directly
    //      from doc arithmetic — binding the kernel's reversal, the
    //      ')' separator, and the ''-for-non-HTTP mime arm. ----
    "ta_warc_cdx" -> Q(
      (s, dir) => Multimodal.warcCdx(synthWarc(s, dir)).toDF()
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          graft.functions.WebFunctions.surtKey(col("url")).as("urlkey"),
          col("url"), col("warc_type"), col("mime"),
          col("http_status").cast("long").as("http_status"),
          col("payload_digest"), col("offset"), col("rec_length")),
      Some(s"""WITH h AS (SELECT doc_id, octet_length(encode($webHtmlSql)) AS hl,
              |  'HTTP://WWW.Site' || (doc_id % 7) || '.COM:80/p/' || (doc_id % 211)
              |    || '/?utm_source=feed&b=2&a=1' AS uri,
              |  'com,site' || (doc_id % 7) || ')/p/' || (doc_id % 211) || '?a=1&b=2' AS surt
              |  FROM documents)
              |SELECT doc_id, CAST(0 AS BIGINT) AS idx, '' AS urlkey, '' AS url,
              |  'warcinfo' AS warc_type, '' AS mime, CAST(-1 AS BIGINT) AS http_status,
              |  '' AS payload_digest, CAST(0 AS BIGINT) AS offset,
              |  CAST(${WarcRec0.length - 4} AS BIGINT) AS rec_length
              |FROM h
              |UNION ALL
              |SELECT doc_id, 1, surt, uri, 'response', 'text/html', 200, '',
              |  ${WarcRec0.length},
              |  $WarcRec1Fixed + length(uri)
              |    + length(CAST(hl + ${WarcHttpHdr.length} AS VARCHAR)) + hl
              |FROM h""".stripMargin)),

    // ---- the full crawl-ingest chain in one pass: WARC walk → HTTP
    //      body slice → HTML extraction → URL canonicalization — the
    //      shape a 100 TB CommonCrawl curation job actually runs
    //      (parse + slice + strip fused over the scan, zero shuffle).
    //      Expected text and canonical URI constructed directly from
    //      doc arithmetic. ----
    "ta_warc_extract" -> Q(
      (s, dir) => Multimodal.warcResponses(synthWarc(s, dir)).toDF()
        .select(col("doc_id"),
          graft.functions.WebFunctions.canonicalizeUrl(col("target_uri")).as("url_canon"),
          col("http_status").cast("long").as("http_status"),
          graft.functions.WebFunctions.htmlToText(col("body")).as("clean")),
      Some("""SELECT doc_id,
             |  'http://site' || (doc_id % 7) || '.com/p/' || (doc_id % 211)
             |    || '?a=1&b=2' AS url_canon,
             |  CAST(200 AS BIGINT) AS http_status,
             |  'Doc ' || doc_id || ' ' || trim(substr(text, 1, 200)) ||
             |  ' more img Fish & Chips <deal> now ''hot'' "q"' AS clean
             |FROM documents""".stripMargin)),

    // ---- REAL-ARCHIVE HTTP payload decoding: CommonCrawl-style
    //      captures store the body AS SENT, so `Transfer-Encoding:
    //      chunked` framing and `Content-Encoding: gzip` payloads
    //      are the dominant wire shapes. Every 3rd doc is chunked,
    //      every 5th gzipped (every 15th BOTH — transfer coding
    //      undone first), and four twins per 13th doc BIND the
    //      degrade/flag/stacking paths: a chunked label over
    //      non-chunked bytes (the bogus size line surfaces as text,
    //      residual 'chunked'), a gzip label over plain bytes (flows
    //      through raw, residual 'gzip'), a brotli label (no decoder
    //      here BY DESIGN — the body passes raw with residual 'br',
    //      so the curation gate filters the mojibake instead of
    //      silently ingesting it), a STACKED `TE: gzip, chunked`
    //      (legal per RFC 9112 §7 — dechunk then gunzip, residual
    //      ''), a PARAMETERIZED `TE: chunked;graft=1` over real
    //      chunked bytes (RFC 9112 §7 transfer-parameters — the token
    //      must match after its `;parameter` strips, so the body
    //      dechunks clean instead of flowing raw with a residual),
    //      a `CE: zstd` body in real RFC 8878 frames (decodes via
    //      the classpath zstd core, residual ''), and a zstd LABEL
    //      over plain bytes (magic check rejects, flows raw with
    //      residual 'zstd' — same evidence path as the gzip
    //      mislabel). The oracle states the expected extraction
    //      directly from doc arithmetic — every decodable framing
    //      comes back to the SAME page with an EMPTY residual. ----
    "ta_warc_http" -> Q(
      (s, dir) => synthMedia(s, dir) { (id, text) =>
        val html = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val uri = s"http://site${id % 7}.com/p/${id % 211}"
        val gz = id % 5 == 0
        val ch = id % 3 == 0
        val encoded = if (gz) gzipBytes(html) else html
        val wire = if (ch) chunkify(encoded, 100) else encoded
        val hdrs = (if (gz) "Content-Encoding: gzip\r\n" else "") +
          (if (ch) "Transfer-Encoding: chunked\r\n" else "")
        val base = Multimodal.MediaRow(id, "warc", warcHttpRecord(uri, hdrs, wire))
        if (id % 13 != 0) Seq(base)
        else Seq(base,
          Multimodal.MediaRow(id + 1000000000L, "warc", warcHttpRecord(uri,
            "Transfer-Encoding: chunked\r\n",
            "zz\r\n".getBytes(WarcAscii) ++ html)),
          Multimodal.MediaRow(id + 2000000000L, "warc",
            warcHttpRecord(uri, "Content-Encoding: gzip\r\n", html)),
          Multimodal.MediaRow(id + 3000000000L, "warc",
            warcHttpRecord(uri, "Content-Encoding: br\r\n", html)),
          Multimodal.MediaRow(id + 4000000000L, "warc", warcHttpRecord(uri,
            "Transfer-Encoding: gzip, chunked\r\n", chunkify(gzipBytes(html), 100))),
          Multimodal.MediaRow(id + 5000000000L, "warc", warcHttpRecord(uri,
            "Transfer-Encoding: chunked;graft=1\r\n", chunkify(html, 100))),
          Multimodal.MediaRow(id + 6000000000L, "warc", warcHttpRecord(uri,
            "Content-Encoding: zstd\r\n", zstdBytes(html))),
          Multimodal.MediaRow(id + 7000000000L, "warc",
            warcHttpRecord(uri, "Content-Encoding: zstd\r\n", html)))
      }.transform(m => Multimodal.warcResponses(m).toDF())
        .select(col("doc_id"), col("http_status").cast("long").as("http_status"),
          col("charset"), col("coding_residual"),
          graft.functions.WebFunctions.htmlToText(col("body")).as("clean")),
      Some("""WITH exp AS (SELECT doc_id,
             |  'Doc ' || doc_id || ' ' || trim(substr(text, 1, 200)) ||
             |  ' more img Fish & Chips <deal> now ''hot'' "q"' AS clean
             |  FROM documents)
             |SELECT doc_id, CAST(200 AS BIGINT) AS http_status,
             |  'ascii' AS charset, '' AS coding_residual, clean FROM exp
             |UNION ALL
             |SELECT doc_id + 1000000000, 200, 'ascii', 'chunked', 'zz ' || clean
             |FROM exp WHERE doc_id % 13 = 0
             |UNION ALL
             |SELECT doc_id + 2000000000, 200, 'ascii', 'gzip', clean
             |FROM exp WHERE doc_id % 13 = 0
             |UNION ALL
             |SELECT doc_id + 3000000000, 200, 'ascii', 'br', clean
             |FROM exp WHERE doc_id % 13 = 0
             |UNION ALL
             |SELECT doc_id + 4000000000, 200, 'ascii', '', clean
             |FROM exp WHERE doc_id % 13 = 0
             |UNION ALL
             |SELECT doc_id + 5000000000, 200, 'ascii', '', clean
             |FROM exp WHERE doc_id % 13 = 0
             |UNION ALL
             |SELECT doc_id + 6000000000, 200, 'ascii', '', clean
             |FROM exp WHERE doc_id % 13 = 0
             |UNION ALL
             |SELECT doc_id + 7000000000, 200, 'ascii', 'zstd', clean
             |FROM exp WHERE doc_id % 13 = 0""".stripMargin)),

    // ---- charset-aware body decode: the payload routes through the
    //      byte-ladder BEFORE text conversion — utf-8 high bytes,
    //      latin-1 (invalid-UTF-8 0xE9), BOM'd utf-16le each decode
    //      to the SAME text; a binary payload (NUL-led) yields NO
    //      row, binding the drop. Expected text stated directly;
    //      the 'café' prefix forces a non-ASCII code point through
    //      every arm. ----
    "ta_warc_charset" -> Q(
      (s, dir) => synthMedia(s, dir) { (id, text) =>
        val page = "café " + text.take(80)
        val uri = s"http://site${id % 7}.com/p/${id % 211}"
        val bytes = (id % 4) match {
          case 0 => page.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          case 1 => page.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          case 2 => ("\uFEFF" + page).getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
          case _ => Array[Byte](0, 1, 2, 3) ++
            page.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        Seq(Multimodal.MediaRow(id, "warc", warcHttpRecord(uri, "", bytes)))
      }.transform(m => Multimodal.warcResponses(m).toDF())
        .select(col("doc_id"), col("charset"), col("body")),
      Some("""SELECT doc_id,
             |  CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'latin-1'
             |       ELSE 'utf-16le' END AS charset,
             |  'café ' || substr(text, 1, 80) AS body
             |FROM documents WHERE doc_id % 4 <> 3""".stripMargin)),

    // ---- WARC `revisit` resolution: ~1/3 of real CommonCrawl
    //      response-class records are revisits (URL re-fetched,
    //      payload identical, body replaced by a WARC-Payload-Digest
    //      pointer) — dropping them loses a third of the archive's
    //      page views. Every doc captures an original response with
    //      an arithmetic digest; every 4th doc emits a revisit twin
    //      (+1e9, different path) that must come back carrying the
    //      ORIGINAL's body, plus a dangling revisit (+3e9, unknown
    //      digest) that must VANISH (nothing to resolve against);
    //      every 8th doc emits a duplicate original (+2e9, same
    //      digest/body) binding the deterministic keep-first keeper
    //      (orig_doc_id stays the smaller capture). One partial-agg'd
    //      keeper shuffle + one digest-keyed join — the exact-dedup
    //      apply shape. ----
    "ta_warc_revisit" -> Q(
      (s, dir) => {
        val m = synthMedia(s, dir) { (id, text) =>
          val html = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val digest = s"sha1:DOC$id"
          val orig = Multimodal.MediaRow(id, "warc", warcHttpRecord(
            s"http://site${id % 7}.com/p/${id % 211}", "", html, digest))
          val dup = if (id % 8 != 0) Seq.empty else Seq(
            Multimodal.MediaRow(id + 2000000000L, "warc", warcHttpRecord(
              s"http://site${id % 7}.com/dup/${id % 211}", "", html, digest)))
          val revs = if (id % 4 != 0) Seq.empty else Seq(
            Multimodal.MediaRow(id + 1000000000L, "warc", warcRevisitRecord(
              s"http://site${id % 7}.com/r/${id % 211}", digest)),
            Multimodal.MediaRow(id + 3000000000L, "warc", warcRevisitRecord(
              s"http://site${id % 7}.com/r/${id % 211}", s"sha1:MISSING$id")))
          orig +: (dup ++ revs)
        }
        Multimodal.resolveRevisits(
            Multimodal.warcResponses(m).toDF(), Multimodal.warcRevisits(m).toDF())
          .select(col("doc_id"), col("target_uri"), col("payload_digest"),
            col("orig_doc_id"), col("http_status").cast("long").as("http_status"),
            graft.functions.WebFunctions.htmlToText(col("body")).as("clean"))
      },
      Some("""WITH exp AS (SELECT doc_id,
             |  'Doc ' || doc_id || ' ' || trim(substr(text, 1, 200)) ||
             |  ' more img Fish & Chips <deal> now ''hot'' "q"' AS clean
             |  FROM documents)
             |SELECT doc_id + 1000000000 AS doc_id,
             |  'http://site' || (doc_id % 7) || '.com/r/' || (doc_id % 211) AS target_uri,
             |  'sha1:DOC' || doc_id AS payload_digest,
             |  doc_id AS orig_doc_id, CAST(200 AS BIGINT) AS http_status, clean
             |FROM exp WHERE doc_id % 4 = 0""".stripMargin)),

    // ---- the STREAMING twin of revisit resolution: the same
    //      fixture's originals and revisits flow as per-digest
    //      events through flatMapGroupsWithState — first original
    //      freezes as keeper (smallest doc_id within a batch, the
    //      batch operator's rule), revisits resolve on arrival,
    //      dangling revisits buffer and emit nothing. On the bounded
    //      frame the output matches the batch join row-for-row, so
    //      the oracle is the SAME direct construction. ----
    "ta_warc_revisit_stateful" -> Q(
      (s, dir) => {
        val m = synthMedia(s, dir) { (id, text) =>
          val html = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val digest = s"sha1:DOC$id"
          val orig = Multimodal.MediaRow(id, "warc", warcHttpRecord(
            s"http://site${id % 7}.com/p/${id % 211}", "", html, digest))
          val dup = if (id % 8 != 0) Seq.empty else Seq(
            Multimodal.MediaRow(id + 2000000000L, "warc", warcHttpRecord(
              s"http://site${id % 7}.com/dup/${id % 211}", "", html, digest)))
          val revs = if (id % 4 != 0) Seq.empty else Seq(
            Multimodal.MediaRow(id + 1000000000L, "warc", warcRevisitRecord(
              s"http://site${id % 7}.com/r/${id % 211}", digest)),
            Multimodal.MediaRow(id + 3000000000L, "warc", warcRevisitRecord(
              s"http://site${id % 7}.com/r/${id % 211}", s"sha1:MISSING$id")))
          orig +: (dup ++ revs)
        }
        import s.implicits._
        val ev = Multimodal.warcResponses(m).toDF()
          .where(col("payload_digest") =!= "")
          .select(col("payload_digest").as("digest"), lit(true).as("isOriginal"),
            col("doc_id").as("docId"), col("target_uri").as("uri"), col("body"))
          .unionByName(Multimodal.warcRevisits(m).toDF()
            .select(col("payload_digest").as("digest"), lit(false).as("isOriginal"),
              col("doc_id").as("docId"), col("target_uri").as("uri"),
              lit("").as("body")))
          .as[graft.streaming.StatefulOps.RevisitEvent]
        graft.streaming.StatefulOps.streamingResolveRevisits(ev).toDF()
          .select(col("docId").as("doc_id"), col("uri").as("target_uri"),
            col("digest").as("payload_digest"), col("origDocId").as("orig_doc_id"),
            graft.functions.WebFunctions.htmlToText(col("body")).as("clean"))
      },
      Some("""WITH exp AS (SELECT doc_id,
             |  'Doc ' || doc_id || ' ' || trim(substr(text, 1, 200)) ||
             |  ' more img Fish & Chips <deal> now ''hot'' "q"' AS clean
             |  FROM documents)
             |SELECT doc_id + 1000000000 AS doc_id,
             |  'http://site' || (doc_id % 7) || '.com/r/' || (doc_id % 211) AS target_uri,
             |  'sha1:DOC' || doc_id AS payload_digest,
             |  doc_id AS orig_doc_id, clean
             |FROM exp WHERE doc_id % 4 = 0""".stripMargin)),

    // ---- redirect-chain resolution: pages must key under their
    //      FINAL URL before crawl dedup, or one page counts once per
    //      historical spelling. Each doc's WARC carries its own
    //      (doc_id % 4)-hop redirect chain (301/302 alternating —
    //      both must pass the 3xx filter or the chain breaks) ending
    //      at a real 200 page; resolution is POINTER JUMPING (3
    //      rounds cover 8 hops in 3 self-joins), so the oracle can
    //      state final/hops/terminal DIRECTLY: chains resolve with
    //      hops = level, and the 2-cycle twins per 19th doc surface
    //      deterministically as terminal=false with hops = 2^rounds.
    //      L=0 docs emit no row (a 200 record is not an edge). ----
    "ta_warc_redirect" -> Q(
      (s, dir) => {
        val m = synthMedia(s, dir) { (id, text) =>
          val base = s"http://site${id % 7}.com/d$id"
          val html = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val chain = (1 to (id % 4).toInt).map { lvl =>
            Multimodal.MediaRow(id * 10 + lvl, "warc", warcRedirectRecord(
              s"$base/r$lvl", if (lvl % 2 == 1) 301 else 302, s"$base/r${lvl - 1}"))
          }
          val fin = Multimodal.MediaRow(id, "warc",
            warcHttpRecord(s"$base/r0", "", html))
          val cyc = if (id % 19 != 0) Seq.empty else Seq(
            Multimodal.MediaRow(id + 1000000000L, "warc",
              warcRedirectRecord(s"$base/ca", 301, s"$base/cb")),
            Multimodal.MediaRow(id + 2000000000L, "warc",
              warcRedirectRecord(s"$base/cb", 301, s"$base/ca")))
          fin +: (chain ++ cyc)
        }
        val edges = Multimodal.warcRedirects(m).toDF()
          .select(col("from_uri").as("src"), col("to_uri").as("dst"))
        graft.operators.Redirects.resolve(edges, rounds = 3, graphPartitions = 4)
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 7 AS k7, doc_id % 4 AS L FROM documents),
             |lv AS (SELECT doc_id, k7, unnest(range(1, L + 1)) AS level FROM d)
             |SELECT 'http://site' || k7 || '.com/d' || doc_id || '/r' || level AS src,
             |  'http://site' || k7 || '.com/d' || doc_id || '/r0' AS final_dst,
             |  CAST(level AS BIGINT) AS hops, TRUE AS terminal
             |FROM lv
             |UNION ALL
             |SELECT 'http://site' || (doc_id % 7) || '.com/d' || doc_id || '/c' || c.s,
             |  'http://site' || (doc_id % 7) || '.com/d' || doc_id || '/c' || c.s,
             |  CAST(8 AS BIGINT), FALSE
             |FROM documents, (SELECT unnest(['a','b']) AS s) c
             |WHERE doc_id % 19 = 0""".stripMargin)),

    // ---- INCREMENTAL redirect maintenance: archives arrive in
    //      batches, so new edges must resolve against the FROZEN old
    //      map without re-reading the old raw edges. Old map: each
    //      doc's (doc_id % 4)-hop chain to /r0 plus a 2-cycle per
    //      19th doc (resolve rounds=3 → cycle rows pass through with
    //      hops=8). Delta per doc: /x1 → chain head (the extension
    //      arm — when L=0 it points straight at the non-source /r0,
    //      the fresh-terminal arm) and /x2 → /x1 (new→new chaining);
    //      per 19th doc /xc → /ca feeds the old cycle and must
    //      surface terminal=false with NEW-segment hops only (1).
    //      Old chains ride compressed — one jump spans L hops — so
    //      x2 resolves to /r0 with hops L+2 in 2 rounds, exactly the
    //      full-recompute value (the delta==full contract, also
    //      spec-pinned on handcrafted graphs). ----
    "ta_redirect_incremental" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val b = concat(lit("http://site"), pmod(col("doc_id"), lit(7L)),
          lit(".com/d"), col("doc_id"))
        val L = pmod(col("doc_id"), lit(4L))
        val chain = d.where(L >= 1)
          .select(b.as("b"), explode(sequence(lit(1L), L)).as("lvl"))
          .select(concat(col("b"), lit("/r"), col("lvl")).as("src"),
            concat(col("b"), lit("/r"), col("lvl") - 1).as("dst"))
        val nineteenth = d.where(pmod(col("doc_id"), lit(19L)) === 0)
        val oldEdges = chain
          .unionByName(nineteenth.select(concat(b, lit("/ca")).as("src"),
            concat(b, lit("/cb")).as("dst")))
          .unionByName(nineteenth.select(concat(b, lit("/cb")).as("src"),
            concat(b, lit("/ca")).as("dst")))
        // The prior map is the fixture here, not the work under test:
        // resolveIncremental reads `resolved` from THREE plan branches
        // (oldTerm, oldCyc, the left_anti), and without a snapshot each
        // re-executes resolve's terminal join. One eager query-def-level
        // snapshot (inside the timed region — recomputed every run)
        // makes the prior map the leaf a stored resolution table would
        // be in production, so the entry times the incremental operator
        // itself (VERDICT r16 #6; the reverted in-operator attempt was
        // the wrong layer — operators must not pay an extra pass for
        // callers whose input is already a table).
        val resolved = graft.operators.Redirects.resolve(
          oldEdges, rounds = 3, graphPartitions = 4).localCheckpoint(true)
        val newEdges = d
          .select(concat(b, lit("/x1")).as("src"), concat(b, lit("/r"), L).as("dst"))
          .unionByName(d.select(concat(b, lit("/x2")).as("src"),
            concat(b, lit("/x1")).as("dst")))
          .unionByName(nineteenth.select(concat(b, lit("/xc")).as("src"),
            concat(b, lit("/ca")).as("dst")))
        graft.operators.Redirects.resolveIncremental(
          newEdges, resolved, rounds = 3, graphPartitions = 4)
      },
      Some("""WITH d AS (SELECT doc_id,
             |    'http://site' || (doc_id % 7) || '.com/d' || doc_id AS b,
             |    doc_id % 4 AS L FROM documents),
             |lv AS (SELECT b, unnest(range(1, L + 1)) AS level FROM d)
             |SELECT b || '/r' || level AS src, b || '/r0' AS final_dst,
             |  CAST(level AS BIGINT) AS hops, TRUE AS terminal FROM lv
             |UNION ALL
             |SELECT b || '/c' || c.s, b || '/c' || c.s, CAST(8 AS BIGINT), FALSE
             |FROM d, (SELECT unnest(['a','b']) AS s) c WHERE doc_id % 19 = 0
             |UNION ALL
             |SELECT b || '/x1', b || '/r0', CAST(L + 1 AS BIGINT), TRUE FROM d
             |UNION ALL
             |SELECT b || '/x2', b || '/r0', CAST(L + 2 AS BIGINT), TRUE FROM d
             |UNION ALL
             |SELECT b || '/xc', b || '/ca', CAST(1 AS BIGINT), FALSE
             |FROM d WHERE doc_id % 19 = 0""".stripMargin)),

    // ---- the SINGLE-PASS facet walk: one parse of each archive
    //      emits every facet a composed curation ingest reads — the
    //      record map, the CDX fields (mime/status/digest), the
    //      redirect edge (location), the revisit digest, and the
    //      decoded page text — where calling the four facet operators
    //      separately would re-parse the same bytes 4-5×. Fixture:
    //      every doc's archive holds a 200 response (digest + html
    //      body), a 301 redirect (Location header, empty body → the
    //      text facet decodes it as EMPTY text, has_text=true), and
    //      every 4th doc a revisit record (type gates the HTTP parse:
    //      status -1, no mime, has_text=false — binding that facets
    //      stay typed per record class). Oracle states every facet
    //      column from doc arithmetic. ----
    "ta_warc_facets" -> Q(
      (s, dir) => {
        val m = synthMedia(s, dir) { (id, text) =>
          val html = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val base = s"http://site${id % 7}.com"
          val orig = Multimodal.MediaRow(id, "warc",
            warcHttpRecord(s"$base/p/${id % 211}", "", html, s"sha1:DOC$id") ++
              warcRedirectRecord(s"$base/old/${id % 211}", 301, s"$base/p/${id % 211}") ++
              (if (id % 4 != 0) Array.emptyByteArray
               else warcRevisitRecord(s"$base/r/${id % 211}", s"sha1:DOC$id")))
          Seq(orig)
        }
        Multimodal.warcFacets(m).toDF()
          .select(col("doc_id"), col("idx").cast("long").as("idx"), col("warc_type"),
            col("target_uri"), col("http_status").cast("long").as("http_status"),
            col("mime"), col("payload_digest"), col("location"),
            col("has_text"), col("charset"), col("coding_residual"),
            graft.functions.WebFunctions.htmlToText(col("body")).as("clean"))
      },
      Some("""WITH exp AS (SELECT doc_id, doc_id % 7 AS k7, doc_id % 211 AS k,
             |  'Doc ' || doc_id || ' ' || trim(substr(text, 1, 200)) ||
             |  ' more img Fish & Chips <deal> now ''hot'' "q"' AS clean
             |  FROM documents)
             |SELECT doc_id, CAST(0 AS BIGINT) AS idx, 'response' AS warc_type,
             |  'http://site' || k7 || '.com/p/' || k AS target_uri,
             |  CAST(200 AS BIGINT) AS http_status, 'text/html' AS mime,
             |  'sha1:DOC' || doc_id AS payload_digest, '' AS location,
             |  TRUE AS has_text, 'ascii' AS charset, '' AS coding_residual, clean
             |FROM exp
             |UNION ALL
             |SELECT doc_id, 1, 'response', 'http://site' || k7 || '.com/old/' || k,
             |  301, 'text/html', '', 'http://site' || k7 || '.com/p/' || k,
             |  TRUE, 'ascii', '', ''
             |FROM exp
             |UNION ALL
             |SELECT doc_id, 2, 'revisit', 'http://site' || k7 || '.com/r/' || k,
             |  -1, '', 'sha1:DOC' || doc_id, '', FALSE, '', '', ''
             |FROM exp WHERE doc_id % 4 = 0""".stripMargin)),

    // ---- THE COMPOSED CURATION PIPELINE: one facet walk feeds the
    //      whole web-ingest chain — warcFacets → (pages: 200-status
    //      text captures + digest-resolved revisit views) + (edges:
    //      3xx Location records) → canonicalizeUrl both sides →
    //      Redirects.resolve → applyResolution → URL dedup. Fixture
    //      per doc: the current capture at a NOISY /p spelling
    //      (uppercase www host, :80, tracking param — the canon
    //      kernel must key it equal to the edge target), every 2nd
    //      doc a HISTORICAL 200 capture at /old plus the current 301
    //      /old→/p (the 200-status filter must keep the old page and
    //      drop the redirect body), every 4th doc a revisit at /rev
    //      (enters the page set through digest resolution, keeps its
    //      own key). Expected groups stated directly: /p holds its
    //      capture plus the re-keyed /old capture (sum_hops counts
    //      the re-key), /rev holds one. The facet frame snapshots
    //      once (the production shape writes it once and derives
    //      every facet from the artifact). ----
    "ta_warc_pipeline" -> Q(
      (s, dir) => {
        val m = synthMedia(s, dir) { (id, text) =>
          val html = webHtmlStr(id, text).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val base = s"http://site${id % 7}.com/d$id"
          val recs =
            warcHttpRecord(s"HTTP://WWW.Site${id % 7}.COM:80/d$id/p?utm_source=x",
              "", html, s"sha1:DOC$id") ++
              (if (id % 2 != 0) Array.emptyByteArray
               else warcHttpRecord(s"$base/old", "", html, s"sha1:DOC$id") ++
                 warcRedirectRecord(s"$base/old", 301, s"$base/p")) ++
              (if (id % 4 != 0) Array.emptyByteArray
               else warcRevisitRecord(s"$base/rev", s"sha1:DOC$id"))
          Seq(Multimodal.MediaRow(id, "warc", recs))
        }
        // ONE archive walk, snapshotted — the at-scale shape writes
        // the facet table once and derives every consumer from it
        val f = Multimodal.warcFacets(m).toDF().localCheckpoint(true)
        val responses = f.where(col("has_text"))
          .select(col("doc_id"), col("idx"), col("target_uri"),
            col("http_status"), col("charset"), col("body"), col("payload_digest"))
        val revisits = f
          .where(lower(col("warc_type")) === "revisit" && col("payload_digest") =!= "")
          .select(col("doc_id"), col("idx"), col("target_uri"), col("payload_digest"))
        val canon = graft.functions.WebFunctions.canonicalizeUrl(_: org.apache.spark.sql.Column)
        val pages = responses.where(col("http_status") === 200).select(col("target_uri"))
          .unionByName(Multimodal.resolveRevisits(responses, revisits)
            .select(col("target_uri")))
          .select(canon(col("target_uri")).as("url_canon"))
        val edges = f
          .where(col("http_status").between(300, 399) && col("location") =!= "")
          .select(canon(col("target_uri")).as("src"), canon(col("location")).as("dst"))
        val res = graft.operators.Redirects.resolve(edges, rounds = 3, graphPartitions = 4)
        graft.operators.Redirects.applyResolution(pages, res)
          .groupBy(col("url_final"))
          .agg(count(lit(1)).as("n_variants"), sum(col("redirect_hops")).as("sum_hops"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    'http://site' || (doc_id % 7) || '.com/d' || doc_id AS b,
             |    doc_id % 2 AS m2, doc_id % 4 AS m4 FROM documents)
             |SELECT b || '/p' AS url_final,
             |  CAST(1 + CASE WHEN m2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_variants,
             |  CAST(CASE WHEN m2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS sum_hops
             |FROM p
             |UNION ALL
             |SELECT b || '/rev', 1, 0 FROM p WHERE m4 = 0""".stripMargin)),

    // ---- host-graph link quality: bounded-iteration PageRank over
    //      the extractLinks → canonicalizeUrl → hostOf edge chain
    //      plus two arithmetic-derived edge sets (cdn backlinks per
    //      even doc, dangling peer hosts per 17th doc). Exact int64
    //      fixed point end to end, so the oracle replays the SAME
    //      four iterations CTE-by-CTE. The out-degree cap (6) BINDS
    //      three ways on this graph: site hosts drop their self-edge
    //      + all but one peer, cdn hosts drop site6. ----
    "ta_link_rank" -> Q(
      (s, dir) => linkRankDf(s, dir)
        .select(col("host"), col("outdeg").cast("long").as("outdeg"), col("rank")),
      Some(s"""WITH $linkRankCtes
              |SELECT host, CAST(outdeg AS BIGINT) AS outdeg, CAST(rank AS BIGINT) AS rank
              |FROM r4""".stripMargin)),

    // ---- the APPLY step: host rank as a page-level quality FEATURE
    //      (what a real curation stack does with host rank — annotate
    //      every page with its host's score for the quality gate; the
    //      rank table is dim-sized, so it BROADCASTS and the page
    //      side never shuffles) ----
    "ta_link_rank_apply" -> Q(
      (s, dir) => {
        val pages = Tables(s, dir, "documents").select(col("doc_id"),
          concat(lit("site"), pmod(col("doc_id"), lit(7L)), lit(".com")).as("host"))
        pages.join(broadcast(linkRankDf(s, dir).select(col("host"), col("rank"))), "host")
          .select(col("doc_id"), col("host"), col("rank"))
      },
      Some(s"""WITH $linkRankCtes
              |SELECT d.doc_id, 'site' || (d.doc_id % 7) || '.com' AS host,
              |  CAST(r.rank AS BIGINT) AS rank
              |FROM documents d JOIN r4 r ON 'site' || (d.doc_id % 7) || '.com' = r.host"""
        .stripMargin)),

    // ---- token counting ----
    "ta_tokens" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          TextFunctions.wsTokenCount(col("text")).as("ws_tokens"),
          TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"),
          TextFunctions.approxTokenCount(col("text")).as("approx_tokens")),
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
             |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_tokens
             |FROM documents""".stripMargin)),

    // ---- top distinctive terms per doc (TF-IDF-shaped, float-free:
    //      score = tf·10⁶ DIV df is pure integer arithmetic, so the
    //      ranking is bit-identical across engines — no log() ulp
    //      differences can flip a rank boundary) ----
    "ta_top_terms" -> Q(
      (s, dir) =>
        // forced-broadcast mode: this corpus's vocabulary is known to
        // fit an executor, so skip the adaptive measurement job (the
        // finite-threshold adaptive mode is the 100 TB default)
        graft.operators.TopTerms.topTermsPerDoc(
          Tables(s, dir, "documents"), "doc_id", "text", topK = 3,
          broadcastVocabMax = Long.MaxValue),
      Some("""WITH tok AS (SELECT doc_id,
             |  unnest(list_filter(string_split(text,' '), w -> w <> '')) AS w FROM documents),
             |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT t.doc_id, t.w, t.tf, d.df, (t.tf * 1000000) // d.df AS score
             |       FROM tf t JOIN dfreq d USING (w)),
             |rk AS (SELECT doc_id, w, tf, df, score,
             |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rank FROM sc)
             |SELECT doc_id, rank, w AS term, tf, df, score FROM rk WHERE rank <= 3""".stripMargin)),

    // ---- bigram LM table: the most frequent continuation per leading
    //      word (integer counts only — rank boundaries engine-exact).
    //      The corpus-wide bigram count is one shuffle keyed on bigram;
    //      top-1 per w1 is a WindowGroupLimit, not a full sort ----
    "ta_bigrams" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val bg = Tables(s, dir, "documents")
          .select(explode(TextFunctions.shingles(col("text"), 2)).as("bigram"))
        val counts = bg.groupBy("bigram").agg(count(lit(1)).as("cnt"))
          .withColumn("w1", element_at(split(col("bigram"), " "), 1))
        val w = Window.partitionBy("w1").orderBy(col("cnt").desc, col("bigram").asc)
        counts.withColumn("rank", row_number().over(w))
          .filter(col("rank") === 1 && col("cnt") >= 3)
          .select(col("w1"), col("bigram").as("top_bigram"), col("cnt"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
             |bg AS (SELECT unnest(CASE WHEN len(w) >= 2
             |  THEN list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1])
             |  ELSE [] END) AS bigram FROM tok),
             |c AS (SELECT bigram, count(*) AS cnt, string_split(bigram,' ')[1] AS w1
             |      FROM bg GROUP BY 1),
             |rk AS (SELECT w1, bigram, cnt,
             |  row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, bigram ASC) AS rank FROM c)
             |SELECT w1, bigram AS top_bigram, cnt FROM rk WHERE rank = 1 AND cnt >= 3""".stripMargin)),

    // ---- corpus-trained bigram-LM quality score (CCNet/Gopher-style
    //      statistical filter; exact integer ppm, no floats, no
    //      smoothing — the corpus is its own model so every doc bigram
    //      has a count). One bigram-count shuffle + a vocabulary-sized
    //      prefix table + one join back; no window ----
    "ta_lm_score" -> Q(
      (s, dir) =>
        graft.operators.QualityRules.bigramLmScore(
          Tables(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
             |bgt AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
             |  THEN list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1])
             |  ELSE [] END) AS bg FROM tok),
             |c AS (SELECT bg, count(*) AS cb FROM bgt GROUP BY 1),
             |p AS (SELECT string_split(bg,' ')[1] AS w1, CAST(sum(cb) AS BIGINT) AS cp
             |      FROM c GROUP BY 1),
             |sc AS (SELECT b.doc_id, c.cb, p.cp
             |       FROM bgt b JOIN c USING (bg)
             |       JOIN p ON string_split(b.bg,' ')[1] = p.w1)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(cb * 1000000 // cp) // count(*) AS BIGINT) AS lm_ppm
             |FROM sc GROUP BY doc_id""".stripMargin)),

    // ---- the FROZEN-LM serving path: train the bigram LM on the 90%
    //      "reference" corpus, score the held-out 10% against it —
    //      the CCNet shape (train on quality text, score the crawl).
    //      Bigrams unseen by the model contribute 0 ppm ----
    "ta_lm_score_apply" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        graft.operators.QualityRules.bigramLmScoreAgainst(
          graft.operators.QualityRules.bigramLm(
            d.filter(col("doc_id") % 10 =!= 0), "text"),
          d.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text,' ') w FROM documents),
             |bgt AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 2
             |  THEN list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1])
             |  ELSE [] END) AS bg FROM tok),
             |c AS (SELECT bg, count(*) AS cb FROM bgt WHERE doc_id % 10 <> 0 GROUP BY 1),
             |p AS (SELECT string_split(bg,' ')[1] AS w1, CAST(sum(cb) AS BIGINT) AS cp
             |      FROM c GROUP BY 1),
             |sc AS (SELECT b.doc_id, coalesce(c.cb * 1000000 // p.cp, 0) AS v
             |       FROM bgt b LEFT JOIN c USING (bg)
             |       LEFT JOIN p ON string_split(b.bg,' ')[1] = p.w1
             |       WHERE b.doc_id % 10 = 0)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(v) // count(*) AS BIGINT) AS lm_ppm
             |FROM sc GROUP BY doc_id""".stripMargin)),

    // ---- TRAINED quality classifier (fastText-style): hashed-bigram
    //      features + bias into hard-sigmoid logistic regression, all
    //      fixed-point int64 so the oracle replays the full 12-pass
    //      gradient descent exactly (graft.operators.QualityClassifier;
    //      weak labels from the qualityScorePpm heuristic) ----
    "ta_quality_clf" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        graft.operators.QualityClassifier.classify(
          d, "doc_id", "text",
          TextFunctions.qualityScorePpm(col("text")) >= 500000)
      },
      Some(duckLrClassifierSql(trainFilter = "TRUE", scoreFilter = "TRUE"))),

    // ---- the FROZEN-model serving path: train the classifier on the
    //      90% corpus, score the held-out 10% against the frozen
    //      weights (the CCNet/DCLM deployment shape — scoring itself
    //      is a zero-shuffle projection) ----
    "ta_quality_clf_apply" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val w = graft.operators.QualityClassifier.trainWeights(
          d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          TextFunctions.qualityScorePpm(col("text")) >= 500000)
        graft.operators.QualityClassifier.scoreAgainst(
          w, d.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      },
      Some(duckLrClassifierSql(trainFilter = "doc_id % 10 <> 0",
        scoreFilter = "doc_id % 10 = 0"))),

    // ---- the STREAMING serving path, batch-driven: frozen-weight
    //      scoring (a zero-Exchange projection, so it drops into
    //      readStream unchanged — QualityClassifierSpec drives it
    //      through an actual stream) feeding the per-source top-k
    //      quality leaderboard through flatMapGroupsWithState state.
    //      One micro-batch over the held-out corpus must equal the
    //      batch frozen-model + windowed-rank result ----
    "ta_quality_clf_stateful" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val w = graft.operators.QualityClassifier.trainWeights(
          d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          TextFunctions.qualityScorePpm(col("text")) >= 500000)
        val scored = graft.operators.QualityClassifier.scoreAgainst(
          w, d.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          keep = Seq("source"))
        graft.streaming.StatefulOps.streamingTopK(
            scored, "source", col("margin"), "doc_id", k = 10)
          .toDF().select(col("key").as("source"), col("id").as("doc_id"),
            col("ord").as("margin"))
      },
      Some(duckLrClassifierSql(trainFilter = "doc_id % 10 <> 0",
        scoreFilter = "doc_id % 10 = 0",
        finalSelect = Some(
          """, scj AS (SELECT d.source, sc.doc_id, CAST(sc.z AS BIGINT) AS margin
            |    FROM sc JOIN documents d USING (doc_id)),
            |rk AS (SELECT source, doc_id, margin,
            |  row_number() OVER (PARTITION BY source ORDER BY margin DESC, doc_id ASC) AS rn
            |  FROM scj)
            |SELECT source, doc_id, margin FROM rk WHERE rn <= 10""".stripMargin)))),

    // ---- quality scoring (integer ppm) ----
    "ta_quality" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          TextFunctions.wsTokenCount(col("text")).as("n_words"),
          TextFunctions.stopwordCount(col("text")).as("n_stop"),
          TextFunctions.punctCount(col("text")).as("n_punct"),
          TextFunctions.qualityScorePpm(col("text")).as("score_ppm")),
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '\S+')) AS n_words,
             |  len(list_filter(string_split(text,' '),
             |    w -> w IN ('the','a','of','to','and','in','or','is'))) AS n_stop,
             |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
             |  (least(len(regexp_extract_all(text,'\S+')), 100)
             |    * (len(regexp_extract_all(text,'\S+'))
             |       - len(list_filter(string_split(text,' '),
             |           w -> w IN ('the','a','of','to','and','in','or','is'))))
             |    * 1000000)
             |  // (100 * len(regexp_extract_all(text,'\S+'))) AS score_ppm
             |FROM documents""".stripMargin)),

    // ---- quality-proportional subsampling: keep probability =
    //      qualityScorePpm / 1e6, deterministic by doc_id hash (the
    //      DCLM-style curation step; integer-vs-integer comparison, no
    //      float threshold) ----
    "ta_sample_quality" -> Q(
      (s, dir) =>
        graft.operators.Sampling.sampleByWeight(
            Tables(s, dir, "documents"), "doc_id",
            TextFunctions.qualityScorePpm(col("text")), den = 1000000, seed = 3)
          .select(col("doc_id")),
      Some("""SELECT doc_id FROM documents
             |WHERE ((doc_id % 1000000007) * 340 + 424) % 1000000007 % 1000000 <
             |  (least(len(regexp_extract_all(text,'\S+')), 100)
             |    * (len(regexp_extract_all(text,'\S+'))
             |       - len(list_filter(string_split(text,' '),
             |           w -> w IN ('the','a','of','to','and','in','or','is'))))
             |    * 1000000)
             |  // (100 * len(regexp_extract_all(text,'\S+')))""".stripMargin)),

    // ---- language ID heuristic ----
    "ta_langid" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          TextFunctions.langId(col("text")).as("pred_lang")),
      Some("""WITH c AS (SELECT doc_id,
             |  len(list_filter(string_split(text,' '), w -> w IN ('the','and','is'))) en,
             |  len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les'))) fr,
             |  len(list_filter(string_split(text,' '), w -> w IN ('el','los','y','las'))) es,
             |  len(list_filter(string_split(text,' '), w -> w IN ('der','und','die','das'))) de
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN en > 0 AND en >= fr AND en >= es AND en >= de THEN 'en'
             |       WHEN fr > 0 AND fr >= en AND fr >= es AND fr >= de THEN 'fr'
             |       WHEN es > 0 AND es >= en AND es >= fr AND es >= de THEN 'es'
             |       WHEN de > 0 AND de >= en AND de >= fr AND de >= es THEN 'de'
             |       ELSE 'unknown' END AS pred_lang
             |FROM c""".stripMargin)),

    // ---- Gopher-style per-document quality rules: one boolean per
    //      rule + all-rules pass, every threshold an integer
    //      cross-multiplication (engine-exact). The audit projection a
    //      curation loop consumes — WHICH rule fired, not just a drop ----
    "ta_doc_rules" -> Q(
      (s, dir) =>
        graft.operators.QualityRules.ruleFlags(Tables(s, dir, "documents"), "text")
          .select(col("doc_id"), col("ok_words"), col("ok_wordlen"), col("ok_stop"),
            col("ok_unique"), col("ok_alpha"), col("ok_symbol"), col("pass")),
      Some(s"""$duckDocRulesCte
              |SELECT doc_id, ok_words, ok_wordlen, ok_stop, ok_unique,
              |  ok_alpha, ok_symbol,
              |  (ok_words AND ok_wordlen AND ok_stop AND ok_unique
              |   AND ok_alpha AND ok_symbol) AS pass
              |FROM r""".stripMargin)),

    // ---- the applied filter: documents surviving every rule ----
    "ta_doc_rules_apply" -> Q(
      (s, dir) =>
        graft.operators.QualityRules.applyRules(Tables(s, dir, "documents"), "text")
          .select(col("doc_id"), col("source")),
      Some(s"""$duckDocRulesCte
              |SELECT d.doc_id, d.source
              |FROM documents d JOIN r ON d.doc_id = r.doc_id
              |WHERE ok_words AND ok_wordlen AND ok_stop AND ok_unique
              |  AND ok_alpha AND ok_symbol""".stripMargin)),

    // ---- per-source cap: keep the k highest-quality docs per source
    //      via the k-bounded top-k aggregate (map-side combine ships
    //      ≤ k rows per partition per source — never the hot source's
    //      full cardinality; the window formulation would) ----
    "ta_source_cap" -> Q(
      (s, dir) =>
        graft.operators.Sampling.capPerGroup(
            Tables(s, dir, "documents").select(col("doc_id"), col("source"),
              TextFunctions.qualityScorePpm(col("text")).as("ppm")),
            "source", col("ppm"), "doc_id", k = 10)
          .select(col("source"), col("doc_id"), col("ord").as("score_ppm")),
      Some("""WITH s AS (SELECT doc_id, source,
             |  (least(len(regexp_extract_all(text,'\S+')), 100)
             |    * (len(regexp_extract_all(text,'\S+'))
             |       - len(list_filter(string_split(text,' '),
             |           w -> w IN ('the','a','of','to','and','in','or','is'))))
             |    * 1000000)
             |  // (100 * len(regexp_extract_all(text,'\S+'))) AS ppm
             |  FROM documents),
             |r AS (SELECT source, doc_id, ppm,
             |  row_number() OVER (PARTITION BY source ORDER BY ppm DESC, doc_id ASC) AS rn
             |  FROM s)
             |SELECT source, doc_id, ppm AS score_ppm FROM r WHERE rn <= 10""".stripMargin)),

    // ---- unigram-LM quality proxy: average relative corpus frequency
    //      of each doc's words, integer ppm (rare-token docs = noise,
    //      all-common docs = boilerplate) ----
    "ta_word_rarity" -> Q(
      (s, dir) =>
        graft.operators.QualityRules.corpusFrequencyScore(
          Tables(s, dir, "documents"), "doc_id", "text"),
      Some("""WITH w AS (SELECT doc_id, unnest(regexp_extract_all(text,'\S+')) AS word FROM documents),
             |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
             |n AS (SELECT sum(cnt) AS total FROM c),
             |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             |         CAST(sum(cnt) AS BIGINT) AS sum_freq
             |      FROM w JOIN c USING (word) GROUP BY doc_id)
             |SELECT doc_id, n_words, sum_freq,
             |  CAST((sum_freq * 1000000) // (n_words * CAST((SELECT total FROM n) AS BIGINT))
             |       AS BIGINT) AS freq_ppm
             |FROM d""".stripMargin)),

    // ---- token IDS (what a trainer consumes): codepoint ids for
    //      single-char pieces, 0x110000+merge-rank for merged pieces —
    //      an id space derived from the table alone, no vocab file.
    //      Exploded (doc_id, pos, id) so the hash covers order ----
    "ta_piece_ids" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents").select(col("doc_id"),
            posexplode(graft.functions.Bpe.pieceIds(col("text"))).as(Seq("pos", "id")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("id")),
      Some(s"""WITH RECURSIVE $duckBpeCore,
              |wp AS (SELECT word, min_by(toks, len(toks)) AS toks FROM bpe GROUP BY word),
              |pos AS (SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws) + 1)) AS p FROM wl),
              |docp AS (SELECT pos.doc_id, flatten(list(wp.toks ORDER BY pos.p)) AS pieces
              |         FROM pos JOIN wp USING (word) GROUP BY pos.doc_id),
              |im AS (SELECT replace(k, ' ', '') AS tok,
              |         CAST(min(1114112 + r) AS BIGINT) AS id FROM mr GROUP BY 1),
              |ex AS (SELECT doc_id, unnest(pieces) AS piece,
              |         unnest(range(1, len(pieces) + 1)) AS pp FROM docp)
              |SELECT ex.doc_id, CAST(ex.pp - 1 AS BIGINT) AS pos,
              |  CAST(CASE WHEN length(ex.piece) = 1 THEN unicode(ex.piece)
              |       ELSE COALESCE(im.id, -1) END AS BIGINT) AS id
              |FROM ex LEFT JOIN im ON ex.piece = im.tok""".stripMargin)),

    // ---- tokenizer round-trip: detokenize(markedPieces(text)) must
    //      reproduce the text exactly for single-space-tokenized input
    //      (the invariant that makes the marked form a safe training
    //      artifact) — the oracle is the identity on documents ----
    "ta_detok_roundtrip" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          graft.functions.Bpe.detokenize(
            graft.functions.Bpe.markedPieces(col("text"))).as("text")),
      Some("SELECT doc_id, text FROM documents")),

    // ---- Z-order (Morton) layout key: bit-interleave two dimensions
    //      so range predicates on either prune files — pure integer
    //      shift/and/add, engine-exact ----
    "ta_zorder_key" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          graft.operators.Layout.zOrderKey(col("doc_id"), col("n_chars")).as("zkey")),
      Some("""SELECT doc_id,
             |  CAST(list_sum(list_transform(range(0, 16), i ->
             |    ((((doc_id & 65535) >> i) & 1) << (2*i)) +
             |    ((((n_chars & 65535) >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zkey
             |FROM documents""".stripMargin)),

    // ---- the STREAMING leaderboard, batch-driven: per-source top-k
    //      via the same k-bounded heap as the batch aggregate — one
    //      micro-batch over the corpus must equal capPerGroup, so it
    //      shares ta_source_cap's oracle ----
    "ta_source_cap_stateful" -> Q(
      (s, dir) =>
        graft.streaming.StatefulOps.streamingTopK(
            Tables(s, dir, "documents").select(col("doc_id"), col("source"),
              TextFunctions.qualityScorePpm(col("text")).as("ppm")),
            "source", col("ppm"), "doc_id", k = 10)
          .toDF().select(col("key").as("source"), col("id").as("doc_id"),
            col("ord").as("score_ppm")),
      Some("""WITH s AS (SELECT doc_id, source,
             |  (least(len(regexp_extract_all(text,'\S+')), 100)
             |    * (len(regexp_extract_all(text,'\S+'))
             |       - len(list_filter(string_split(text,' '),
             |           w -> w IN ('the','a','of','to','and','in','or','is'))))
             |    * 1000000)
             |  // (100 * len(regexp_extract_all(text,'\S+'))) AS ppm
             |  FROM documents),
             |r AS (SELECT source, doc_id, ppm,
             |  row_number() OVER (PARTITION BY source ORDER BY ppm DESC, doc_id ASC) AS rn
             |  FROM s)
             |SELECT source, doc_id, ppm AS score_ppm FROM r WHERE rn <= 10""".stripMargin)),

    // ---- document fingerprint (rolling hash) ----
    "ta_fingerprint" -> Q(
      (s, dir) =>
        Tables(s, dir, "documents").select(
          col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp")),
      Some(s"""SELECT doc_id,
              |  list_reduce(list_prepend(CAST(7 AS BIGINT),
              |    list_transform(string_split(text,' '), w -> ${duckCharHash("w")})),
              |    (a,b) -> (a*131+b) % 1000000007) AS fp
              |FROM documents""".stripMargin)),

    // ---- normalized exact dedup: case/punctuation variants collapse
    //      before hashing (the C4 preprocessing convention); one hash
    //      shuffle on the normalized fingerprint ----
    "dd_exact_normalized" -> Q(
      (s, dir) =>
        Dedup.exact(
          Tables(s, dir, "documents").withColumn("norm_fp",
            TextFunctions.fingerprint(
              TextFunctions.normalizeForDedup(col("text")))),
          Seq("norm_fp"), "doc_id"),
      Some(s"""WITH n AS (SELECT doc_id,
              |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
              |    '\\s+', ' ', 'g')) AS norm FROM documents),
              |f AS (SELECT doc_id,
              |  list_reduce(list_prepend(CAST(7 AS BIGINT),
              |    list_transform(string_split(norm,' '), w -> ${duckCharHash("w")})),
              |    (a,b) -> (a*131+b) % 1000000007) AS norm_fp FROM n)
              |SELECT norm_fp, min(doc_id) AS keep_id,
              |  CAST(count(*) AS BIGINT) AS n_dups
              |FROM f GROUP BY 1""".stripMargin)),

    // ---- text analysis: charset detection over raw bytes (BOM
    //      sniff + strict RFC 3629 UTF-8 scan as a codegen kernel) —
    //      the ingest-time routing decision before any text op. The
    //      oracle replays the scanner as a recursive CTE: one step per
    //      accepted sequence or rejected byte, shortest-form table
    //      inlined, then the same CASE classification ----
    "ta_charset" -> Q(
      (s, dir) => {
        val df = s.createDataFrame(charsetFixtures).toDF("doc_id", "hx")
          .select(col("doc_id"), unhex(col("hx")).as("content"))
        df.select(col("doc_id"),
          graft.functions.TextFunctions.detectEncoding(col("content")).as("encoding"),
          graft.functions.TextFunctions.utf8InvalidBytes(col("content")).cast("long").as("invalid_bytes"),
          graft.functions.TextFunctions.highByteCount(col("content")).cast("long").as("high_bytes"),
          graft.functions.TextFunctions.nulByteCount(col("content")).cast("long").as("nul_bytes"))
      },
      Some(s"""WITH RECURSIVE r(doc_id, hx) AS (VALUES
              |  ${charsetFixtures.map { case (id, hx) => s"($id, '$hx')" }.mkString(",\n  ")}),
              |b AS (SELECT doc_id, hx, octet_length(unhex(hx)) AS n FROM r),
              |bt AS (SELECT doc_id, hx, n,
              |  list_transform(range(0, n), k ->
              |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
              |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
              |  FROM b),
              |-- strict UTF-8 scanner: L = accepted sequence length, 0 =
              |-- reject (count 1, resync next byte) — the same
              |-- shortest-form table as Kernels.utf8InvalidEval
              |sc(doc_id, i, inv) AS (
              |  SELECT doc_id, 1, 0 FROM bt
              |  UNION ALL
              |  SELECT doc_id,
              |    i + CASE WHEN L = 0 THEN 1 ELSE L END,
              |    inv + CASE WHEN L = 0 THEN 1 ELSE 0 END
              |  FROM (
              |    SELECT doc_id, i, inv,
              |      CASE
              |        WHEN b1 < 128 THEN 1
              |        WHEN b1 BETWEEN 194 AND 223 AND c2 THEN 2
              |        WHEN b1 = 224 AND b2 BETWEEN 160 AND 191 AND c3 THEN 3
              |        WHEN b1 = 237 AND b2 BETWEEN 128 AND 159 AND c3 THEN 3
              |        WHEN b1 BETWEEN 225 AND 239 AND b1 <> 237 AND c2 AND c3 THEN 3
              |        WHEN b1 = 240 AND b2 BETWEEN 144 AND 191 AND c3 AND c4 THEN 4
              |        WHEN b1 BETWEEN 241 AND 243 AND c2 AND c3 AND c4 THEN 4
              |        WHEN b1 = 244 AND b2 BETWEEN 128 AND 143 AND c3 AND c4 THEN 4
              |        ELSE 0 END AS L
              |    FROM (
              |      SELECT sc.doc_id, sc.i, sc.inv,
              |        bt.bb[sc.i] AS b1,
              |        COALESCE(bt.bb[sc.i + 1], -1) AS b2,
              |        COALESCE(bt.bb[sc.i + 1], -1) BETWEEN 128 AND 191 AS c2,
              |        COALESCE(bt.bb[sc.i + 2], -1) BETWEEN 128 AND 191 AS c3,
              |        COALESCE(bt.bb[sc.i + 3], -1) BETWEEN 128 AND 191 AS c4
              |      FROM sc JOIN bt USING (doc_id) WHERE sc.i <= bt.n) t1) t2),
              |fin AS (SELECT doc_id, arg_max(inv, i) AS inv FROM sc GROUP BY doc_id),
              |hb AS (SELECT doc_id,
              |  len(list_filter(bb, x -> x >= 128)) AS high,
              |  len(list_filter(bb, x -> x = 0)) AS nul FROM bt)
              |SELECT CAST(bt.doc_id AS BIGINT) AS doc_id,
              |  CASE
              |    WHEN substr(upper(hx), 1, 6) = 'EFBBBF' THEN 'utf-8-bom'
              |    WHEN substr(upper(hx), 1, 8) = 'FFFE0000' THEN 'utf-32le'
              |    WHEN substr(upper(hx), 1, 8) = '0000FEFF' THEN 'utf-32be'
              |    WHEN substr(upper(hx), 1, 4) = 'FFFE' THEN 'utf-16le'
              |    WHEN substr(upper(hx), 1, 4) = 'FEFF' THEN 'utf-16be'
              |    WHEN nul > 0 THEN 'binary'
              |    WHEN inv = 0 AND high > 0 THEN 'utf-8'
              |    WHEN inv = 0 THEN 'ascii'
              |    ELSE 'latin-1' END AS encoding,
              |  CAST(inv AS BIGINT) AS invalid_bytes,
              |  CAST(high AS BIGINT) AS high_bytes,
              |  CAST(nul AS BIGINT) AS nul_bytes
              |FROM bt JOIN fin USING (doc_id) JOIN hb USING (doc_id)""".stripMargin)),

    // ---- multimodal: binary column + stub decode metadata ----
    "mm_decode_meta" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            encode(col("text"), "UTF-8").as("content"))
        d.select(col("doc_id"),
          Multimodal.decodeMeta(col("content"), Multimodal.kindOf(col("source"))).as("meta"))
          .select(
            col("doc_id"), col("meta.kind").as("kind"), col("meta.n_bytes").as("n_bytes"),
            col("meta.width").as("width"), col("meta.height").as("height"),
            col("meta.duration_ms").as("duration_ms"))
      },
      Some("""WITH k AS (SELECT doc_id, n_chars,
             |  CASE CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 3
             |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind
             |  FROM documents)
             |SELECT doc_id, kind, n_chars AS n_bytes,
             |  CASE WHEN kind = 'image' THEN (n_chars % 64 + 1) * 16 ELSE 0 END AS width,
             |  CASE WHEN kind = 'image' THEN (n_chars % 48 + 1) * 16 ELSE 0 END AS height,
             |  CASE WHEN kind <> 'image' THEN n_chars * 40 ELSE 0 END AS duration_ms
             |FROM k""".stripMargin)),

    // ---- multimodal: REAL header decode (PNG/GIF/JPEG dims, WAV
    //      duration parsed from actual bytes — MediaHeaders, pure JVM)
    //      through the per-partition codec contract; unknown bytes
    //      degrade to the stub. The oracle re-parses the SAME hex
    //      literals byte-by-byte in SQL (JPEG/WAV offsets fixed for
    //      these literals; the variable-position scans are spec-pinned
    //      in MediaHeadersSpec) ----
    "mm_header_meta" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.{Encoder, Encoders}
        implicit val mediaEnc: Encoder[Multimodal.MediaRow] =
          Encoders.product[Multimodal.MediaRow]
        val rows = mmHeaderFixtures.map { case (id, kind, hx) => (id, kind, hx) }
        val df = s.createDataFrame(rows).toDF("doc_id", "kind", "hx")
          .select(col("doc_id"), col("kind"), unhex(col("hx")).as("content"))
        Multimodal.decodePartitions(
            df.as[Multimodal.MediaRow],
            () => new Multimodal.HeaderCodec(4))
          .toDF()
          .select(col("doc_id"), col("kind"), col("n_bytes"),
            col("width"), col("height"), col("duration_ms"))
      },
      Some(s"""WITH r(doc_id, kind, hx) AS (VALUES
              |  ${mmHeaderFixtures.map { case (id, k, hx) => s"($id, '$k', '$hx')" }.mkString(",\n  ")}),
              |b AS (SELECT doc_id, kind, hx, octet_length(unhex(hx)) AS n FROM r),
              |bt AS (SELECT doc_id, kind, hx, n,
              |  list_transform(range(0, n), k ->
              |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
              |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
              |  FROM b)
              |SELECT CAST(doc_id AS BIGINT) AS doc_id, kind, CAST(n AS BIGINT) AS n_bytes,
              |  CAST(CASE
              |    WHEN doc_id = 1 THEN bb[17]*16777216 + bb[18]*65536 + bb[19]*256 + bb[20]
              |    WHEN doc_id = 2 THEN bb[7] + bb[8]*256
              |    WHEN doc_id = 3 THEN bb[35]*256 + bb[36]
              |    WHEN doc_id = 7 THEN (bb[22] + bb[23]*256 + bb[24]*65536 + bb[25]*16777216) % 16384 + 1
              |    WHEN doc_id = 8 THEN bb[19] + bb[20]*256 + bb[21]*65536 + bb[22]*16777216
              |    WHEN doc_id = 14 THEN bb[19]*256 + bb[20]
              |    WHEN kind = 'image' THEN (n % 64 + 1) * 16 ELSE 0 END AS BIGINT) AS width,
              |  CAST(CASE
              |    WHEN doc_id = 1 THEN bb[21]*16777216 + bb[22]*65536 + bb[23]*256 + bb[24]
              |    WHEN doc_id = 2 THEN bb[9] + bb[10]*256
              |    WHEN doc_id = 3 THEN bb[33]*256 + bb[34]
              |    WHEN doc_id = 7 THEN ((bb[22] + bb[23]*256 + bb[24]*65536 + bb[25]*16777216) // 16384) % 16384 + 1
              |    WHEN doc_id = 8 THEN bb[23] + bb[24]*256 + bb[25]*65536 + bb[26]*16777216
              |    WHEN doc_id = 14 THEN bb[31]*256 + bb[32]
              |    WHEN kind = 'image' THEN (n % 48 + 1) * 16 ELSE 0 END AS BIGINT) AS height,
              |  CAST(CASE
              |    WHEN doc_id = 4 THEN ((bb[41] + bb[42]*256 + bb[43]*65536 + bb[44]*16777216) * 1000)
              |      // (bb[29] + bb[30]*256 + bb[31]*65536 + bb[32]*16777216)
              |    WHEN doc_id = 9 THEN (((bb[22] % 16) * 4294967296 + bb[23]*16777216
              |        + bb[24]*65536 + bb[25]*256 + bb[26]) * 1000)
              |      // (bb[19]*4096 + bb[20]*16 + bb[21] // 16)
              |    WHEN doc_id = 10 THEN
              |      ((n - (10 + (bb[7]%128)*2097152 + (bb[8]%128)*16384 + (bb[9]%128)*128 + (bb[10]%128))) * 8)
              |      // ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320,0][
              |           bb[(10 + (bb[7]%128)*2097152 + (bb[8]%128)*16384 + (bb[9]%128)*128 + (bb[10]%128)) + 3] // 16 + 1])
              |    WHEN doc_id = 11 THEN ((bb[49]*16777216 + bb[50]*65536 + bb[51]*256 + bb[52]) * 1000)
              |      // (bb[45]*16777216 + bb[46]*65536 + bb[47]*256 + bb[48])
              |    WHEN doc_id = 13 THEN ((bb[45]*16777216 + bb[46]*65536 + bb[47]*256 + bb[48]) * 1152 * 1000)
              |      // 44100
              |    WHEN kind <> 'image' THEN n * 40 ELSE 0 END AS BIGINT) AS duration_ms
              |FROM bt""".stripMargin)),

    // ---- multimodal: REAL pixel/sample content decode (pure JVM:
    //      uncompressed BMP pixels, PCM16 WAV samples — MediaDecode)
    //      producing real features (channel means/luma; RMS/peak).
    //      The oracle re-derives every decoded value from the same hex
    //      bytes in SQL: BMP channel means from the padded bottom-up
    //      rows, WAV samples sign-decoded from LE int16 pairs, the
    //      DC-only JPEG plane from its entropy byte, IMA-ADPCM samples
    //      via a recursive CTE over the predictor/step-index state
    //      machine, G.711 μ-law/A-law samples via the closed-form
    //      ITU-T expand per byte, and the stub tail features from the
    //      byte-fold hash. (PNG content is also real but zlib is not
    //      SQL-expressible — spec-pinned in MediaDecodeSpec instead.) ----
    "mm_pixel_stats" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.{Encoder, Encoders}
        implicit val mediaEnc: Encoder[Multimodal.MediaRow] =
          Encoders.product[Multimodal.MediaRow]
        val df = s.createDataFrame(mmPixelFixtures).toDF("doc_id", "kind", "hx")
          .select(col("doc_id"), col("kind"), unhex(col("hx")).as("content"))
        Multimodal.decodePartitions(
            df.as[Multimodal.MediaRow], () => new Multimodal.HeaderCodec(4))
          .toDF()
          .select(col("doc_id"),
            element_at(col("features"), 1).cast("double").as("f0"),
            element_at(col("features"), 2).cast("double").as("f1"),
            element_at(col("features"), 3).cast("double").as("f2"),
            element_at(col("features"), 4).cast("double").as("f3"))
      },
      Some(s"""WITH RECURSIVE r(doc_id, kind, hx) AS (VALUES
              |  ${mmPixelFixtures.map { case (id, k, hx) => s"($id, '$k', '$hx')" }.mkString(",\n  ")}),
              |b AS (SELECT doc_id, hx, octet_length(unhex(hx)) AS n FROM r),
              |bt AS (SELECT doc_id, n,
              |  list_transform(range(0, n), k ->
              |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
              |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
              |  FROM b),
              |-- IMA-ADPCM replay for fixture 5: nibble list (low nibble
              |-- first), signed initial predictor, step index, then the
              |-- published step/index tables driven one nibble per
              |-- recursion step — diff = step/8 (+step if bit2) (+step/2
              |-- if bit1) (+step/4 if bit0), sign bit 8 subtracts,
              |-- predictor clamps to int16, index clamps to [0, 88] —
              |-- exactly MediaDecode.wavAdpcmSamples
              |adn AS (SELECT
              |  list_transform(range(0, 8), k ->
              |    CASE WHEN k % 2 = 0 THEN bb[53 + k // 2] % 16
              |         ELSE bb[53 + k // 2] // 16 END) AS nb,
              |  CASE WHEN bb[49] + bb[50]*256 >= 32768
              |       THEN bb[49] + bb[50]*256 - 65536
              |       ELSE bb[49] + bb[50]*256 END AS pred0,
              |  bb[51] AS idx0
              |  FROM bt WHERE doc_id = 5),
              |adt AS (SELECT
              |  [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
              |   50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
              |   230,253,279,307,337,371,408,449,494,544,598,658,724,796,
              |   876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
              |   2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,
              |   7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,
              |   20350,22385,24623,27086,29794,32767] AS st,
              |  [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8] AS it),
              |adr AS (
              |  SELECT 0 AS k, pred0 AS pred, idx0 AS idx FROM adn
              |  UNION ALL
              |  SELECT k + 1,
              |    greatest(-32768, least(32767,
              |      pred + CASE WHEN nx >= 8 THEN -d ELSE d END)),
              |    least(88, greatest(0, idx + it[nx + 1]))
              |  FROM (
              |    SELECT k, pred, idx, it, nb[k + 1] AS nx,
              |      st[idx + 1] // 8
              |        + CASE WHEN (nb[k + 1] // 4) % 2 = 1 THEN st[idx + 1] ELSE 0 END
              |        + CASE WHEN (nb[k + 1] // 2) % 2 = 1 THEN st[idx + 1] // 2 ELSE 0 END
              |        + CASE WHEN nb[k + 1] % 2 = 1 THEN st[idx + 1] // 4 ELSE 0 END AS d
              |    FROM adr, adn, adt WHERE k < 8)),
              |ads AS (SELECT
              |  sqrt(sum(CAST(pred AS DOUBLE) * pred) / 9) / 32768.0 AS arms,
              |  CAST(max(abs(pred)) AS DOUBLE) / 32768.0 AS apeak FROM adr),
              |m AS (SELECT doc_id, n, bb,
              |  CAST(bb[57]+bb[60]+bb[65]+bb[68] AS DOUBLE)/4 AS mr,
              |  CAST(bb[56]+bb[59]+bb[64]+bb[67] AS DOUBLE)/4 AS mg,
              |  CAST(bb[55]+bb[58]+bb[63]+bb[66] AS DOUBLE)/4 AS mb,
              |  list_transform(range(0,4), j ->
              |    CASE WHEN bb[45+2*j] + bb[46+2*j]*256 >= 32768
              |         THEN bb[45+2*j] + bb[46+2*j]*256 - 65536
              |         ELSE bb[45+2*j] + bb[46+2*j]*256 END) AS sm,
              |  -- FLAC fixture 7: the verbatim frame's four samples,
              |  -- BIG-endian 16-bit at bytes 51-58 (frame headers are
              |  -- whole bytes by format rule, so the offsets are fixed)
              |  list_transform(range(0,4), j ->
              |    CASE WHEN bb[51+2*j]*256 + bb[52+2*j] >= 32768
              |         THEN bb[51+2*j]*256 + bb[52+2*j] - 65536
              |         ELSE bb[51+2*j]*256 + bb[52+2*j] END) AS fsm,
              |  list_reduce(list_prepend(CAST(7 AS BIGINT),
              |    list_transform(bb, x -> CAST(x AS BIGINT))),
              |    (a, x) -> (a*31 + x) % 1000000007) AS h,
              |  -- TIFF fixture 10: single grey strip at fixed offsets
              |  -- 111-114 behind the 8-entry IFD; fixture 11 is the
              |  -- PackBits twin — one literal run, control byte at 111,
              |  -- pixels at 112-115
              |  CAST(bb[111]+bb[112]+bb[113]+bb[114] AS DOUBLE)/4 AS tg,
              |  CAST(bb[112]+bb[113]+bb[114]+bb[115] AS DOUBLE)/4 AS pb,
              |  -- progressive fixture 13: DC-first scan byte at 117 —
              |  -- 1 code bit + 6 magnitude bits + 1 pad bit, same
              |  -- one's-complement rule as the baseline fixtures
              |  CAST(((CASE WHEN (bb[117] // 2) % 64 >= 32
              |          THEN (bb[117] // 2) % 64
              |          ELSE (bb[117] // 2) % 64 - 63 END) * bb[8]) // 8 + 128
              |    AS DOUBLE) AS jp,
              |  -- DC-only JPEG flat plane, re-derived from the entropy
              |  -- byte (bb[139] = DC-code 0 bit + 6 magnitude bits +
              |  -- EOB 0 bit, so the cat-6 field = byte//2; MSB 0 means
              |  -- negative: diff = field − 63) and the first quant
              |  -- byte bb[8]: value = diff*q//8 + 128 (exact: q = 16)
              |  CAST(((CASE WHEN bb[139] // 2 >= 32 THEN bb[139] // 2
              |          ELSE bb[139] // 2 - 63 END) * bb[8]) // 8 + 128
              |    AS DOUBLE) AS jg,
              |  -- GIF fixture: the four pixel codes sit at stream bits
              |  -- 3-5, 6-8, 9-11, 12-15 (LSB-first; data bytes 38-40),
              |  -- all ROOT codes, resolved through the GCT at bytes
              |  -- 14..25 (color c at 14+3c)
              |  [(bb[38] // 8) % 8,
              |   (bb[38] // 64) % 4 + (bb[39] % 2) * 4,
              |   (bb[39] // 2) % 8,
              |   (bb[39] // 16) % 16] AS gp
              |  FROM bt),
              |g AS (SELECT doc_id,
              |  CAST(bb[14 + 3*gp[1]] + bb[14 + 3*gp[2]] + bb[14 + 3*gp[3]] + bb[14 + 3*gp[4]] AS DOUBLE)/4 AS gmr,
              |  CAST(bb[15 + 3*gp[1]] + bb[15 + 3*gp[2]] + bb[15 + 3*gp[3]] + bb[15 + 3*gp[4]] AS DOUBLE)/4 AS gmg,
              |  CAST(bb[16 + 3*gp[1]] + bb[16 + 3*gp[2]] + bb[16 + 3*gp[3]] + bb[16 + 3*gp[4]] AS DOUBLE)/4 AS gmb
              |  FROM m WHERE doc_id = 6),
              |-- G.711 fixtures 8/9: the four companded data bytes sit
              |-- at fixed offsets 47-50; the ITU-T expand is closed-form
              |-- per byte. μ-law (doc 8): u = 255−x, t = ((u%16)·8+132)
              |-- << ((u//16)%8), sign bit (u≥128) NEGATES. A-law
              |-- (doc 9): a = x XOR 0x55, segment 0 is (a%16)·16+8,
              |-- segments 1-7 shift the 264-biased mantissa by seg−1,
              |-- and the sign bit SET means POSITIVE — exactly
              |-- MediaDecode.mulawExpand/alawExpand
              |g7 AS (SELECT doc_id,
              |  CASE WHEN doc_id = 8 THEN
              |    list_transform(range(0,4), j ->
              |      CASE WHEN 255 - bb[47+j] >= 128
              |        THEN 132 - (((255 - bb[47+j]) % 16) * 8 + 132)
              |               * (1 << (((255 - bb[47+j]) // 16) % 8))
              |        ELSE (((255 - bb[47+j]) % 16) * 8 + 132)
              |               * (1 << (((255 - bb[47+j]) // 16) % 8)) - 132 END)
              |  ELSE
              |    list_transform(range(0,4), j ->
              |      CASE WHEN xor(bb[47+j], 85) >= 128 THEN 1 ELSE -1 END *
              |      CASE WHEN (xor(bb[47+j], 85) // 16) % 8 = 0
              |        THEN (xor(bb[47+j], 85) % 16) * 16 + 8
              |        ELSE ((xor(bb[47+j], 85) % 16) * 16 + 264)
              |               * (1 << ((xor(bb[47+j], 85) // 16) % 8 - 1)) END)
              |  END AS gs
              |  FROM bt WHERE doc_id IN (8, 9)),
              |-- 24-bit EXTENSIBLE PCM fixture 12: LE s24 at offsets
              |-- 69-80; the 16-bit view is the unsigned high bits minus
              |-- the sign bias (exact: 2^24 divides by 256, so the
              |-- arithmetic shift is u//256 - 65536*signbit)
              |p24 AS (SELECT doc_id,
              |  list_transform(range(0,4), j ->
              |    (bb[69+3*j] + bb[70+3*j]*256 + bb[71+3*j]*65536) // 256
              |    - CASE WHEN bb[71+3*j] >= 128 THEN 65536 ELSE 0 END) AS ps
              |  FROM bt WHERE doc_id = 12),
              |-- VP8L fixture 15: the five simple prefix codes end on a
              |-- byte boundary BY CONSTRUCTION, so every symbol field
              |-- sits at a fixed bit offset (LSB-first stream): green
              |-- pair at bits 10-25 of the region starting at byte 26
              |-- (1-based), red at 29-36, blue 1-bit/8-bit pair at
              |-- 40-48, and the four 2-bit pixels (green selector then
              |-- blue selector per pixel) exactly fill byte 34 — a full
              |-- SQL replay of the prefix-coded pixel stream
              |wl AS (SELECT doc_id,
              |  CAST(bb[29] // 32 + (bb[30] % 32) * 8 AS DOUBLE) AS wmr,
              |  CAST((bb[27] // 4 + (bb[28] % 4) * 64)
              |       * (4 - (bb[34] % 2 + (bb[34] // 4) % 2 + (bb[34] // 16) % 2 + (bb[34] // 64) % 2))
              |     + (bb[28] // 4 + (bb[29] % 4) * 64)
              |       * (bb[34] % 2 + (bb[34] // 4) % 2 + (bb[34] // 16) % 2 + (bb[34] // 64) % 2)
              |     AS DOUBLE) / 4 AS wmg,
              |  CAST((bb[31] % 2)
              |       * (4 - ((bb[34] // 2) % 2 + (bb[34] // 8) % 2 + (bb[34] // 32) % 2 + (bb[34] // 128) % 2))
              |     + (bb[31] // 2 + (bb[32] % 2) * 128)
              |       * ((bb[34] // 2) % 2 + (bb[34] // 8) % 2 + (bb[34] // 32) % 2 + (bb[34] // 128) % 2)
              |     AS DOUBLE) / 4 AS wmb
              |  FROM bt WHERE doc_id = 15)
              |SELECT CAST(doc_id AS BIGINT) AS doc_id,
              |  CAST(CAST(CASE WHEN doc_id = 1
              |    THEN (0.299*mr + 0.587*mg + 0.114*mb)/255.0
              |    WHEN doc_id IN (3, 4) THEN jg/255.0
              |    WHEN doc_id = 13 THEN jp/255.0
              |    WHEN doc_id = 5 THEN arms
              |    WHEN doc_id = 6 THEN (0.299*gmr + 0.587*gmg + 0.114*gmb)/255.0
              |    WHEN doc_id = 7 THEN sqrt(CAST(fsm[1]*fsm[1]+fsm[2]*fsm[2]+fsm[3]*fsm[3]+fsm[4]*fsm[4] AS DOUBLE)/4)/32768.0
              |    WHEN doc_id IN (8, 9) THEN sqrt(CAST(gs[1]*gs[1]+gs[2]*gs[2]+gs[3]*gs[3]+gs[4]*gs[4] AS DOUBLE)/4)/32768.0
              |    WHEN doc_id = 12 THEN sqrt(CAST(ps[1]*ps[1]+ps[2]*ps[2]+ps[3]*ps[3]+ps[4]*ps[4] AS DOUBLE)/4)/32768.0
              |    WHEN doc_id = 10 THEN tg/255.0
              |    WHEN doc_id = 11 THEN pb/255.0
              |    WHEN doc_id = 15 THEN (0.299*wmr + 0.587*wmg + 0.114*wmb)/255.0
              |    ELSE sqrt(CAST(sm[1]*sm[1]+sm[2]*sm[2]+sm[3]*sm[3]+sm[4]*sm[4] AS DOUBLE)/4)/32768.0
              |  END AS REAL) AS DOUBLE) AS f0,
              |  CAST(CAST(CASE WHEN doc_id = 1 THEN mr/255.0
              |    WHEN doc_id IN (3, 4) THEN jg/255.0
              |    WHEN doc_id = 13 THEN jp/255.0
              |    WHEN doc_id = 5 THEN apeak
              |    WHEN doc_id = 6 THEN gmr/255.0
              |    WHEN doc_id = 7 THEN CAST(list_max(list_transform(fsm, x -> abs(x))) AS DOUBLE)/32768.0
              |    WHEN doc_id IN (8, 9) THEN CAST(list_max(list_transform(gs, x -> abs(x))) AS DOUBLE)/32768.0
              |    WHEN doc_id = 12 THEN CAST(list_max(list_transform(ps, x -> abs(x))) AS DOUBLE)/32768.0
              |    WHEN doc_id = 10 THEN tg/255.0
              |    WHEN doc_id = 11 THEN pb/255.0
              |    WHEN doc_id = 15 THEN wmr/255.0
              |    ELSE CAST(list_max(list_transform(sm, x -> abs(x))) AS DOUBLE)/32768.0
              |  END AS REAL) AS DOUBLE) AS f1,
              |  CAST(CAST(CASE WHEN doc_id = 1 THEN mg/255.0
              |    WHEN doc_id IN (3, 4) THEN jg/255.0
              |    WHEN doc_id = 13 THEN jp/255.0
              |    WHEN doc_id = 6 THEN gmg/255.0
              |    WHEN doc_id = 10 THEN tg/255.0
              |    WHEN doc_id = 11 THEN pb/255.0
              |    WHEN doc_id = 15 THEN wmg/255.0
              |    ELSE CAST((h*3) % 1000 - 500 AS DOUBLE)/1000.0
              |  END AS REAL) AS DOUBLE) AS f2,
              |  CAST(CAST(CASE WHEN doc_id = 1 THEN mb/255.0
              |    WHEN doc_id IN (3, 4) THEN jg/255.0
              |    WHEN doc_id = 13 THEN jp/255.0
              |    WHEN doc_id = 6 THEN gmb/255.0
              |    WHEN doc_id = 10 THEN tg/255.0
              |    WHEN doc_id = 11 THEN pb/255.0
              |    WHEN doc_id = 15 THEN wmb/255.0
              |    ELSE CAST((h*4) % 1000 - 500 AS DOUBLE)/1000.0
              |  END AS REAL) AS DOUBLE) AS f3
              |FROM m LEFT JOIN g USING (doc_id) LEFT JOIN g7 USING (doc_id) LEFT JOIN p24 USING (doc_id) LEFT JOIN wl USING (doc_id) CROSS JOIN ads""".stripMargin)),

    // ---- multimodal: WINDOWED audio features over DECODED samples
    //      (per-window RMS / zero-crossing-rate / peak — the step
    //      that turns verified sample decode into curation signal).
    //      Corpus side: a WAV container is synthesized around the
    //      first 66 UTF-8 bytes of each document (constant header, so
    //      the oracle knows every offset), decoded through the REAL
    //      wavPcm16 path, and windowed at 4 samples — 33 samples per
    //      doc, so window 8 exercises the PARTIAL-window tail at
    //      corpus scale. Fixture side: five signed-sample streams
    //      (PCM16, FLAC verbatim, G.711 μ/A-law, 24-bit EXTENSIBLE)
    //      give real zero crossings (ASCII-derived PCM is all
    //      positive). The oracle re-derives every sample from the
    //      same bytes: corpus samples as LE s16 pairs of the text
    //      bytes, fixture samples via the same byte-level replays
    //      mm_pixel_stats pins. Plan: narrow map-only decode
    //      (mapPartitions), no shuffle — at 100 TB the cost is the
    //      scan itself. ----
    "mm_audio_features" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.Encoder
        implicit val mediaEnc: Encoder[Multimodal.MediaRow] =
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
        // mono 8 kHz PCM16 WAV header for a 66-byte data chunk
        val hdr = "52494646" + "66000000" + "57415645" +
          "666D7420" + "10000000" + "0100" + "0100" + "401F0000" + "803E0000" +
          "0200" + "1000" + "64617461" + "42000000"
        val corpus = Tables(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
          .where(length(col("tb")) >= 66)
          .select(col("doc_id"), lit("audio").as("kind"),
            concat(unhex(lit(hdr)), substring(col("tb"), 1, 66)).as("content"))
        val fixtures = s.createDataFrame(
            mmPixelFixtures.collect { case (id, "audio", hx) if id != 5L => (1000000L + id, hx) })
          .toDF("doc_id", "hx")
          .select(col("doc_id"), lit("audio").as("kind"), unhex(col("hx")).as("content"))
        Multimodal.audioWindows(corpus.unionByName(fixtures).as[Multimodal.MediaRow], 4)
          .toDF()
          .select(col("doc_id"),
            col("win_idx").cast("long").as("win_idx"),
            col("n_samples").cast("long").as("n_samples"),
            col("zcr").cast("long").as("zcr"),
            sqrt(col("sum_sq").cast("double") / col("n_samples")).divide(lit(32768.0)).as("rms"),
            (col("peak_abs").cast("double") / 32768.0).as("peak"))
      },
      Some(s"""WITH cb AS (SELECT doc_id, substr(hex(encode(text)), 1, 132) AS hx
              |  FROM documents WHERE octet_length(encode(text)) >= 66),
              |fr(doc_id, hx) AS (VALUES
              |  ${mmPixelFixtures.collect { case (id, "audio", hx) if id != 5L => s"(${1000000L + id}, '$hx')" }.mkString(",\n  ")}),
              |bt AS (SELECT doc_id, hx, octet_length(unhex(hx)) AS n,
              |  list_transform(range(0, octet_length(unhex(hx))), k ->
              |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
              |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
              |  FROM (SELECT doc_id, hx FROM cb UNION ALL SELECT doc_id, hx FROM fr)),
              |-- corpus: 33 LE s16 samples straight from the text bytes
              |-- (the synthesized WAV's data chunk IS those bytes);
              |-- fixtures: the same byte-level replays mm_pixel_stats
              |-- pins (PCM16 LE at 45-52, FLAC verbatim BE at 51-58,
              |-- G.711 closed-form expand at 47-50, s24 high bits at
              |-- 69-80)
              |sm AS (SELECT doc_id,
              |  CASE WHEN doc_id < 1000000 THEN
              |    list_transform(range(0, 33), j ->
              |      bb[1+2*j] + bb[2+2*j]*256
              |      - CASE WHEN bb[2+2*j] >= 128 THEN 65536 ELSE 0 END)
              |  WHEN doc_id = 1000002 THEN
              |    list_transform(range(0, 4), j ->
              |      bb[45+2*j] + bb[46+2*j]*256
              |      - CASE WHEN bb[46+2*j] >= 128 THEN 65536 ELSE 0 END)
              |  WHEN doc_id = 1000007 THEN
              |    list_transform(range(0, 4), j ->
              |      bb[51+2*j]*256 + bb[52+2*j]
              |      - CASE WHEN bb[51+2*j] >= 128 THEN 65536 ELSE 0 END)
              |  WHEN doc_id = 1000008 THEN
              |    list_transform(range(0, 4), j ->
              |      CASE WHEN 255 - bb[47+j] >= 128
              |        THEN 132 - (((255 - bb[47+j]) % 16) * 8 + 132)
              |               * (1 << (((255 - bb[47+j]) // 16) % 8))
              |        ELSE (((255 - bb[47+j]) % 16) * 8 + 132)
              |               * (1 << (((255 - bb[47+j]) // 16) % 8)) - 132 END)
              |  WHEN doc_id = 1000009 THEN
              |    list_transform(range(0, 4), j ->
              |      CASE WHEN xor(bb[47+j], 85) >= 128 THEN 1 ELSE -1 END *
              |      CASE WHEN (xor(bb[47+j], 85) // 16) % 8 = 0
              |        THEN (xor(bb[47+j], 85) % 16) * 16 + 8
              |        ELSE ((xor(bb[47+j], 85) % 16) * 16 + 264)
              |               * (1 << ((xor(bb[47+j], 85) // 16) % 8 - 1)) END)
              |  ELSE
              |    list_transform(range(0, 4), j ->
              |      (bb[69+3*j] + bb[70+3*j]*256 + bb[71+3*j]*65536) // 256
              |      - CASE WHEN bb[71+3*j] >= 128 THEN 65536 ELSE 0 END)
              |  END AS s
              |  FROM bt),
              |w AS (SELECT doc_id, k AS win_idx,
              |    s[(4*k+1):least(4*k+4, len(s))] AS ws
              |  FROM sm, range(0, 9) t(k)
              |  WHERE 4*k < len(s))
              |SELECT doc_id,
              |  CAST(win_idx AS BIGINT) AS win_idx,
              |  CAST(len(ws) AS BIGINT) AS n_samples,
              |  CAST(coalesce(list_sum(list_transform(range(1, len(ws)), i ->
              |    CASE WHEN (ws[i] < 0) != (ws[i+1] < 0) THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zcr,
              |  sqrt(list_sum(list_transform(ws, x -> CAST(x AS DOUBLE)*x)) / len(ws)) / 32768.0 AS rms,
              |  CAST(list_max(list_transform(ws, x -> abs(x))) AS DOUBLE) / 32768.0 AS peak
              |FROM w""".stripMargin)),

    // ---- multimodal: per-TILE image statistics over DECODED pixels
    //      (mean R/G/B, G-plane variance and range — the blur /
    //      blank-region curation signal). Corpus side: an 8×8 24 bpp
    //      BMP is synthesized around the first 192 UTF-8 bytes of
    //      each document (constant header; stride 24 needs no pad),
    //      decoded through the REAL bmpPixels path (bottom-up rows,
    //      BGR order), and tiled at 4×4. Fixture side: the BMP, GIF
    //      and VP8L 2×2 fixtures exercise the partial-tile path and
    //      three decoder families. The oracle re-derives every pixel
    //      from the same bytes (corpus: text bytes at closed-form
    //      bottom-up offsets; fixtures: the byte-level replays
    //      mm_pixel_stats pins). Plan: narrow map-only decode, no
    //      shuffle. ----
    "mm_image_tiles" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.Encoder
        implicit val mediaEnc: Encoder[Multimodal.MediaRow] =
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
        val hdr = bmp8x8Hdr
        val corpus = Tables(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("tb"))
          .where(length(col("tb")) >= 192)
          .select(col("doc_id"), lit("image").as("kind"),
            concat(unhex(lit(hdr)), substring(col("tb"), 1, 192)).as("content"))
        val fixtures = s.createDataFrame(
            mmPixelFixtures.collect { case (id, "image", hx) if Set(1L, 6L, 15L)(id) => (1000000L + id, hx) })
          .toDF("doc_id", "hx")
          .select(col("doc_id"), lit("image").as("kind"), unhex(col("hx")).as("content"))
        Multimodal.imageTiles(corpus.unionByName(fixtures).as[Multimodal.MediaRow], 4)
          .toDF()
          .select(col("doc_id"),
            col("tile_x").cast("long").as("tile_x"),
            col("tile_y").cast("long").as("tile_y"),
            col("n_px").cast("long").as("n_px"),
            (col("sum_r").cast("double") / col("n_px")).as("mean_r"),
            (col("sum_g").cast("double") / col("n_px")).as("mean_g"),
            (col("sum_b").cast("double") / col("n_px")).as("mean_b"),
            ((col("sum_sq_g").cast("double") / col("n_px"))
              - (col("sum_g").cast("double") / col("n_px"))
                * (col("sum_g").cast("double") / col("n_px"))).as("var_g"),
            (col("max_g") - col("min_g")).cast("long").as("range_g"))
      },
      Some(s"""WITH cb AS (SELECT doc_id, substr(hex(encode(text)), 1, 384) AS hx
              |  FROM documents WHERE octet_length(encode(text)) >= 192),
              |ct AS (SELECT doc_id,
              |  list_transform(range(0, 192), k ->
              |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
              |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS tb
              |  FROM cb),
              |-- the synthesized BMP's pixel array IS the text bytes:
              |-- bottom-up rows of BGR triples, so decoded pixel (x,y)
              |-- reads payload offset (7-y)*24 + 3x (+2 for R, +1 for G)
              |tiles AS (SELECT doc_id, tx, ty,
              |  list_transform(range(0, 16), i ->
              |    tb[(7 - (4*ty + i//4))*24 + 3*(4*tx + i%4) + 3]) AS rs,
              |  list_transform(range(0, 16), i ->
              |    tb[(7 - (4*ty + i//4))*24 + 3*(4*tx + i%4) + 2]) AS gs,
              |  list_transform(range(0, 16), i ->
              |    tb[(7 - (4*ty + i//4))*24 + 3*(4*tx + i%4) + 1]) AS bs
              |  FROM ct, range(0, 2) a(tx), range(0, 2) c(ty)),
              |fr(doc_id, hx) AS (VALUES
              |  ${mmPixelFixtures.collect { case (id, "image", hx) if Set(1L, 6L, 15L)(id) => s"(${1000000L + id}, '$hx')" }.mkString(",\n  ")}),
              |fbt AS (SELECT doc_id,
              |  list_transform(range(0, octet_length(unhex(hx))), k ->
              |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
              |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
              |  FROM fr),
              |fgif AS (SELECT doc_id, bb,
              |  [(bb[38] // 8) % 8,
              |   (bb[38] // 64) % 4 + (bb[39] % 2) * 4,
              |   (bb[39] // 2) % 8,
              |   (bb[39] // 16) % 16] AS gp
              |  FROM fbt WHERE doc_id = 1000006),
              |fw AS (SELECT doc_id,
              |  bb[27] // 4 + (bb[28] % 4) * 64 AS ga,
              |  bb[28] // 4 + (bb[29] % 4) * 64 AS gz,
              |  bb[29] // 32 + (bb[30] % 32) * 8 AS rr,
              |  bb[31] % 2 AS ba, bb[31] // 2 + (bb[32] % 2) * 128 AS bz,
              |  [bb[34] % 2, (bb[34] // 4) % 2, (bb[34] // 16) % 2, (bb[34] // 64) % 2] AS gbit,
              |  [(bb[34] // 2) % 2, (bb[34] // 8) % 2, (bb[34] // 32) % 2, (bb[34] // 128) % 2] AS bbit
              |  FROM fbt WHERE doc_id = 1000015),
              |ftiles AS (
              |  SELECT doc_id, 0 AS tx, 0 AS ty,
              |    [bb[57], bb[60], bb[65], bb[68]] AS rs,
              |    [bb[56], bb[59], bb[64], bb[67]] AS gs,
              |    [bb[55], bb[58], bb[63], bb[66]] AS bs
              |  FROM fbt WHERE doc_id = 1000001
              |  UNION ALL
              |  SELECT doc_id, 0, 0,
              |    list_transform(gp, c -> bb[14 + 3*c]),
              |    list_transform(gp, c -> bb[15 + 3*c]),
              |    list_transform(gp, c -> bb[16 + 3*c])
              |  FROM fgif
              |  UNION ALL
              |  SELECT doc_id, 0, 0,
              |    [rr, rr, rr, rr],
              |    list_transform(gbit, t -> ga + (gz - ga) * t),
              |    list_transform(bbit, t -> ba + (bz - ba) * t)
              |  FROM fw),
              |allt AS (SELECT doc_id, tx, ty, rs, gs, bs FROM tiles
              |         UNION ALL SELECT doc_id, tx, ty, rs, gs, bs FROM ftiles)
              |SELECT doc_id,
              |  CAST(tx AS BIGINT) AS tile_x,
              |  CAST(ty AS BIGINT) AS tile_y,
              |  CAST(len(rs) AS BIGINT) AS n_px,
              |  CAST(list_sum(rs) AS DOUBLE) / len(rs) AS mean_r,
              |  CAST(list_sum(gs) AS DOUBLE) / len(gs) AS mean_g,
              |  CAST(list_sum(bs) AS DOUBLE) / len(bs) AS mean_b,
              |  CAST(list_sum(list_transform(gs, x -> x * x)) AS DOUBLE) / len(gs)
              |    - (CAST(list_sum(gs) AS DOUBLE) / len(gs))
              |      * (CAST(list_sum(gs) AS DOUBLE) / len(gs)) AS var_g,
              |  CAST(list_max(gs) - list_min(gs) AS BIGINT) AS range_g
              |FROM allt""".stripMargin)),

    // ---- multimodal: IMAGE NEAR-DUP fingerprints + pairs — the
    //      visual member of the dedup family. Each eligible document
    //      synthesizes the same 8×8 BMP as mm_image_tiles, plus a
    //      PERTURBED TWIN for every 7th doc (first payload byte →
    //      0xFF: one corner pixel brightens, flipping 1-3 fingerprint
    //      bits — genuine near-dups that make the blocked-join path
    //      bind, not just the identical-hash collapse). aHash63 is
    //      all-integer floor arithmetic, so the oracle replays every
    //      bit from the text bytes; pairing reuses the
    //      collapse+4-block machinery the simhash oracles already
    //      pin. ----
    "mm_image_phash" -> Q(
      (s, dir) => Multimodal.imageHashes(synthHashImages(s, dir)).toDF(),
      Some(s"""WITH $imagePhashCtes
              |SELECT doc_id, v AS ahash FROM ah""".stripMargin)),

    "dd_image_neardup" -> Q(
      (s, dir) => Dedup.hammingPairs63(
        Multimodal.imageHashes(synthHashImages(s, dir)).toDF(), "doc_id", "ahash", 3),
      Some(s"""WITH $imagePhashCtes,
              |g AS (SELECT v, min(doc_id) AS rep FROM ah GROUP BY v),
              |star AS (SELECT g.rep AS da, s.doc_id AS db, CAST(0 AS BIGINT) AS hamming
              |         FROM ah s JOIN g USING (v) WHERE s.doc_id > g.rep),
              |rp AS (SELECT a.rep AS da, b.rep AS db,
              |         CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |       FROM g a JOIN g b ON a.rep < b.rep
              |       WHERE bit_count(xor(a.v, b.v)) <= 3)
              |SELECT da, db, hamming FROM star UNION ALL SELECT da, db, hamming FROM rp""".stripMargin)),

    // ---- image dedup END-TO-END apply (pairs → connected components
    //      → keep each group's minimum) — the visual twin of
    //      dd_dedup_apply_simhash. The oracle derives components from
    //      the PLAIN all-pairs hamming join, proving the collapse+block
    //      pairing preserves dedup output for image fingerprints too ----
    "dd_image_dedup_apply" -> Q(
      (s, dir) => Dedup.dedupByFingerprint63(
          Multimodal.imageHashes(synthHashImages(s, dir)).toDF(), "doc_id", "ahash", 3)
        .select(col("doc_id")),
      Some(s"""WITH RECURSIVE $imagePhashCtes,
              |pr AS (SELECT a.doc_id AS da, b.doc_id AS db
              |       FROM ah a JOIN ah b ON a.doc_id < b.doc_id
              |       WHERE bit_count(xor(a.v, b.v)) <= 3),
              |e AS (SELECT da AS a, db AS b FROM pr UNION ALL SELECT db, da FROM pr),
              |reach AS (
              |  SELECT a AS id, a AS r FROM e
              |  UNION
              |  SELECT reach.id, e.b FROM reach JOIN e ON reach.r = e.a),
              |cmp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
              |SELECT doc_id FROM ah
              |WHERE doc_id NOT IN (SELECT id FROM cmp WHERE id <> comp)""".stripMargin)),

    // ---- streaming image near-dup candidates: the generic 63-bit
    //      fingerprint form of the stateful simhash op (same per-block
    //      bucket state, at-least-once per-block emission) driven with
    //      the image average-hashes; batch-driving + distinct equals
    //      the all-pairs hamming join ----
    // ---- AUDIO near-dup fingerprints + pairs — the third modality
    //      of the fingerprint family (text simhash, image aHash):
    //      63-bit energy-delta hash over DECODED samples, paired by
    //      the same collapse+4-block machinery. Synthesized 64-sample
    //      WAVs from the text bytes (decoded through the real
    //      wavPcm16 path) plus a perturbed twin per 9th doc (first
    //      sample forced to 32767 — genuine 1-3-bit near-dups, the
    //      blocked path binds). The oracle replays every bit from the
    //      same bytes. ----
    "mm_audio_phash" -> Q(
      (s, dir) => Multimodal.audioHashes(synthHashAudio(s, dir)).toDF(),
      Some(s"""WITH $audioPhashCtes
              |SELECT doc_id, v AS ahash FROM aah""".stripMargin)),

    "dd_audio_neardup" -> Q(
      (s, dir) => Dedup.hammingPairs63(
        Multimodal.audioHashes(synthHashAudio(s, dir)).toDF(), "doc_id", "ahash", 3),
      Some(s"""WITH $audioPhashCtes,
              |g AS (SELECT v, min(doc_id) AS rep FROM aah GROUP BY v),
              |star AS (SELECT g.rep AS da, s.doc_id AS db, CAST(0 AS BIGINT) AS hamming
              |         FROM aah s JOIN g USING (v) WHERE s.doc_id > g.rep),
              |rp AS (SELECT a.rep AS da, b.rep AS db,
              |         CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |       FROM g a JOIN g b ON a.rep < b.rep
              |       WHERE bit_count(xor(a.v, b.v)) <= 3)
              |SELECT da, db, hamming FROM star UNION ALL SELECT da, db, hamming FROM rp""".stripMargin)),

    "dd_image_neardup_stateful" -> Q(
      (s, dir) =>
        graft.streaming.StatefulOps.streamingHammingCandidates63(
            Multimodal.imageHashes(synthHashImages(s, dir)).toDF(), "doc_id", "ahash",
            maxHamming = 3, maxBucket = Int.MaxValue)
          .toDF().select(col("da"), col("db"), col("hamming")).distinct(),
      Some(s"""WITH $imagePhashCtes
              |SELECT a.doc_id AS da, b.doc_id AS db,
              |  CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |FROM ah a JOIN ah b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.v, b.v)) <= 3""".stripMargin)),

    // ---- streaming AUDIO near-dup candidates — the audio twin of
    //      dd_image_neardup_stateful: the same generic per-block
    //      bucket state driven with the energy-delta hashes, so the
    //      incremental curation chain covers every fingerprint
    //      modality (text simhash, image aHash, audio). Batch-driving
    //      + distinct equals the all-pairs hamming join. ----
    "dd_audio_neardup_stateful" -> Q(
      (s, dir) =>
        graft.streaming.StatefulOps.streamingHammingCandidates63(
            Multimodal.audioHashes(synthHashAudio(s, dir)).toDF(), "doc_id", "ahash",
            maxHamming = 3, maxBucket = Int.MaxValue)
          .toDF().select(col("da"), col("db"), col("hamming")).distinct(),
      Some(s"""WITH $audioPhashCtes
              |SELECT a.doc_id AS da, b.doc_id AS db,
              |  CAST(bit_count(xor(a.v, b.v)) AS BIGINT) AS hamming
              |FROM aah a JOIN aah b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.v, b.v)) <= 3""".stripMargin)),

    // ---- multimodal: MP4 SAMPLE TABLES — the frame-sampling
    //      primitive for video at corpus scale: rebuild each file's
    //      (offset, size, dts) map from the normative stbl tables
    //      (stts run-length deltas, stsz per-sample/constant sizes,
    //      stsc sample-to-chunk runs, stco/co64 chunk offsets, mdhd
    //      v0/v1 timescale), so frame selection is byte-range slicing,
    //      never a demux. Fixture A exercises per-sample sizes, two
    //      chunks with distinct stsc runs, and two stts runs; fixture
    //      B constant sizes, co64 64-bit offsets, and a v1 mdhd;
    //      foreign bytes yield no rows. Every value is re-derived in
    //      SQL from the big-endian table bytes at fixed offsets. ----
    "mm_mp4_samples" -> Q(
      (s, dir) => {
        Multimodal.mp4SampleRows(mp4FixtureRows(s)).toDF()
          .select(col("doc_id"), col("idx").cast("long").as("idx"),
            col("offset"), col("size"), col("dts_ms"), col("pts_ms"), col("is_sync"))
      },
      Some(s"""WITH $mp4SamplesCtes
              |$mp4SamplesSelect""".stripMargin)),

    // ---- edit-list-aware sample maps (ISO 14496-12 §8.6.6): the
    //      same walk with `applyEdits = true`. Fixture D1 (doc 5):
    //      v0 elst — one EMPTY edit (300 movie units @ mvhd ts 600 =
    //      500 ms presentation delay) then a head-trim edit
    //      (media_time 250) → pts' = dts − 250 + 500. Fixture D2
    //      (doc 6): v1 64-bit single edit, media_time 500 → early
    //      pts legitimately NEGATIVE (floor division). Fixture D3
    //      (doc 7): elst claims 2 entries but carries 1 — a present-
    //      but-malformed edit list rejects the file (no rows), while
    //      mm_mp4_samples-style raw parses would still read it. The
    //      oracle re-reads every field from the fixture bytes:
    //      movie/media timescales, elst durations and media_times,
    //      stts delta, stsz const, stco base. ----
    "mm_mp4_samples_elst" -> Q(
      (s, dir) => {
        implicit val enc: org.apache.spark.sql.Encoder[Multimodal.MediaRow] =
          org.apache.spark.sql.Encoders.product[Multimodal.MediaRow]
        val media = s.createDataFrame(Seq(
            (5L, "000000106674797069736F6D00000200000001406D6F6F760000006C6D7668640000000000000000000000000000025800000BB80000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000CC7472616B000000306564747300000028656C737400000000000000020000012CFFFFFFFF00010000000002BC000000FA00010000000000946D646961000000206D646864000000000000000000000000000003E800001388000000000000006C6D696E66000000647374626C0000001873747473000000000000000100000005000000640000001C737473630000000000000001000000010000000500000001000000147374737A000000000000001400000005000000147374636F0000000000000001000000C8"),
            (6L, "000000106674797069736F6D000002000000013C6D6F6F760000006C6D7668640000000000000000000000000000025800000BB80000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000C87472616B0000002C6564747300000024656C7374010000000000000100000000000002BC00000000000001F400010000000000946D646961000000206D646864000000000000000000000000000003E800001388000000000000006C6D696E66000000647374626C0000001873747473000000000000000100000005000000640000001C737473630000000000000001000000010000000500000001000000147374737A000000000000001400000005000000147374636F0000000000000001000000C8"),
            (7L, "000000106674797069736F6D00000200000001346D6F6F760000006C6D7668640000000000000000000000000000025800000BB80000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000C07472616B00000024656474730000001C656C73740000000000000002000002BC000000FA00010000000000946D646961000000206D646864000000000000000000000000000003E800001388000000000000006C6D696E66000000647374626C0000001873747473000000000000000100000005000000640000001C737473630000000000000001000000010000000500000001000000147374737A000000000000001400000005000000147374636F0000000000000001000000C8"))).toDF("doc_id", "hx")
          .select(col("doc_id"), lit("video").as("kind"), unhex(col("hx")).as("content"))
          .as[Multimodal.MediaRow]
        Multimodal.mp4SampleRows(media, applyEdits = true).toDF()
          .select(col("doc_id"), col("idx").cast("long").as("idx"),
            col("offset"), col("size"), col("dts_ms"), col("pts_ms"), col("is_sync"))
      },
      Some("""WITH r(doc_id, hx) AS (VALUES
             |  (5, '000000106674797069736F6D00000200000001406D6F6F760000006C6D7668640000000000000000000000000000025800000BB80000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000CC7472616B000000306564747300000028656C737400000000000000020000012CFFFFFFFF00010000000002BC000000FA00010000000000946D646961000000206D646864000000000000000000000000000003E800001388000000000000006C6D696E66000000647374626C0000001873747473000000000000000100000005000000640000001C737473630000000000000001000000010000000500000001000000147374737A000000000000001400000005000000147374636F0000000000000001000000C8'),
             |  (6, '000000106674797069736F6D000002000000013C6D6F6F760000006C6D7668640000000000000000000000000000025800000BB80000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000000C87472616B0000002C6564747300000024656C7374010000000000000100000000000002BC00000000000001F400010000000000946D646961000000206D646864000000000000000000000000000003E800001388000000000000006C6D696E66000000647374626C0000001873747473000000000000000100000005000000640000001C737473630000000000000001000000010000000500000001000000147374737A000000000000001400000005000000147374636F0000000000000001000000C8')),
             |bt AS (SELECT doc_id,
             |  list_transform(range(0, octet_length(unhex(hx))), k ->
             |    (strpos('0123456789ABCDEF', upper(substr(hx, 1 + 2*k, 1))) - 1) * 16
             |    + (strpos('0123456789ABCDEF', upper(substr(hx, 2 + 2*k, 1))) - 1)) AS bb
             |  FROM r),
             |-- doc 5 layout: mvhd ts@44, elst dur0@164 mt1@180,
             |-- mdhd ts@216, stts delta@264, stsz sz@308, stco co@332
             |d1 AS (SELECT doc_id,
             |  bb[45]*16777216 + bb[46]*65536 + bb[47]*256 + bb[48] AS mts,
             |  bb[165]*16777216 + bb[166]*65536 + bb[167]*256 + bb[168] AS dur0,
             |  bb[181]*16777216 + bb[182]*65536 + bb[183]*256 + bb[184] AS mt,
             |  bb[217]*16777216 + bb[218]*65536 + bb[219]*256 + bb[220] AS ts,
             |  bb[265]*16777216 + bb[266]*65536 + bb[267]*256 + bb[268] AS d,
             |  bb[309]*16777216 + bb[310]*65536 + bb[311]*256 + bb[312] AS sz,
             |  bb[333]*16777216 + bb[334]*65536 + bb[335]*256 + bb[336] AS co
             |  FROM bt WHERE doc_id = 5),
             |d1rows AS (SELECT doc_id, k AS idx, co + sz*k AS "offset", sz AS size,
             |  k*d*1000 // ts AS dts_ms,
             |  ((k*d - mt) * 1000) // ts + (dur0 * 1000) // mts AS pts_ms
             |  FROM d1, range(0, 5) t(k)),
             |-- doc 6 layout: v1 elst media_time low word@176, mdhd
             |-- ts@212, stts delta@260, stsz sz@304, stco co@328
             |d2 AS (SELECT doc_id,
             |  bb[177]*16777216 + bb[178]*65536 + bb[179]*256 + bb[180] AS mt,
             |  bb[213]*16777216 + bb[214]*65536 + bb[215]*256 + bb[216] AS ts,
             |  bb[261]*16777216 + bb[262]*65536 + bb[263]*256 + bb[264] AS d,
             |  bb[305]*16777216 + bb[306]*65536 + bb[307]*256 + bb[308] AS sz,
             |  bb[329]*16777216 + bb[330]*65536 + bb[331]*256 + bb[332] AS co
             |  FROM bt WHERE doc_id = 6),
             |d2rows AS (SELECT doc_id, k AS idx, co + sz*k AS "offset", sz AS size,
             |  k*d*1000 // ts AS dts_ms,
             |  ((k*d - mt) * 1000) // ts AS pts_ms
             |  FROM d2, range(0, 5) t(k))
             |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(idx AS BIGINT) AS idx,
             |  CAST("offset" AS BIGINT) AS "offset", CAST(size AS BIGINT) AS size,
             |  CAST(dts_ms AS BIGINT) AS dts_ms, CAST(pts_ms AS BIGINT) AS pts_ms,
             |  TRUE AS is_sync FROM d1rows
             |UNION ALL
             |SELECT CAST(doc_id AS BIGINT), CAST(idx AS BIGINT),
             |  CAST("offset" AS BIGINT), CAST(size AS BIGINT),
             |  CAST(dts_ms AS BIGINT), CAST(pts_ms AS BIGINT),
             |  TRUE FROM d2rows""".stripMargin)),

    // ---- frame SELECTION over the sample map: the first sample (by
    //      decode time) in each 300 ms bucket — "one frame every N
    //      ms" as pure aggregation (one partial-combined shuffle on
    //      (doc, bucket), no window); the output byte ranges are what
    //      a downstream decoder slices ----
    "mm_frame_select" -> Q(
      (s, dir) =>
        Multimodal.selectFramesEvery(
            Multimodal.mp4SampleRows(mp4FixtureRows(s)).toDF(), 300L)
          .select(col("doc_id"), col("bucket"), col("idx").cast("long").as("idx"),
            col("offset"), col("size"), col("dts_ms")),
      Some(s"""WITH $mp4SamplesCtes,
              |allsmp AS ($mp4SamplesSelect)
              |SELECT doc_id, bucket, idx, "offset", size, dts_ms FROM (
              |  SELECT doc_id, CAST(dts_ms // 300 AS BIGINT) AS bucket,
              |    idx, "offset", size, dts_ms,
              |    -- deterministic tiebreak on (dts_ms, idx), exactly the
              |    -- operator's min(struct(dts_ms, idx, ...)) ordering
              |    row_number() OVER (PARTITION BY doc_id, dts_ms // 300
              |                       ORDER BY dts_ms, idx) AS rn
              |  FROM allsmp)
              |WHERE rn = 1""".stripMargin)),

    // ---- the ctts/stss fixtures' FULL sample maps, oracled per
    //      sample (the keyframe query below only sees each bucket's
    //      aggregated winner; this pins every pts_ms and is_sync the
    //      tables produce — run-length ctts expansion, v1 signed
    //      offsets, stss membership — row by row) ----
    "mm_mp4_samples_key" -> Q(
      (s, dir) => {
        Multimodal.mp4SampleRows(mp4KeyFixtureRows(s)).toDF()
          .filter(col("doc_id") >= 4L) // fixtures C and D
          .select(col("doc_id"), col("idx").cast("long").as("idx"),
            col("offset"), col("size"), col("dts_ms"), col("pts_ms"), col("is_sync"))
      },
      Some(s"""WITH $mp4KeyCtes
              |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(idx AS BIGINT) AS idx,
              |  "offset", size, dts_ms, pts_ms, is_sync FROM crows
              |UNION ALL
              |SELECT CAST(doc_id AS BIGINT), CAST(idx AS BIGINT),
              |  "offset", size, dts_ms, pts_ms, is_sync FROM drows""".stripMargin)),

    // ---- KEYFRAME selection: the first SYNC sample in PRESENTATION
    //      order per 300 ms bucket of pts — the byte ranges a
    //      downstream decoder can use STANDALONE. Exercises the two
    //      optional stbl tables end to end: ctts v0 (run-length
    //      composition offsets reorder pts across buckets) and v1
    //      (signed offsets — a negative run misread unsigned explodes
    //      pts by 2^32), stss membership (a bucket with samples but
    //      no keyframe yields NO row — fixture C's bucket 1), and
    //      both absence defaults (fixture A: no ctts → pts = dts, no
    //      stss → all sync). Same shape as mm_frame_select: filter +
    //      one partial-combined shuffle, no window. ----
    "mm_frame_select_key" -> Q(
      (s, dir) =>
        Multimodal.selectKeyframesEvery(
            Multimodal.mp4SampleRows(mp4KeyFixtureRows(s)).toDF(), 300L)
          .select(col("doc_id"), col("bucket"), col("idx").cast("long").as("idx"),
            col("offset"), col("size"), col("dts_ms"), col("pts_ms")),
      Some(s"""WITH $mp4SamplesCtes,
              |$mp4KeyCtes,
              |kall AS (
              |  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(idx AS BIGINT) AS idx,
              |    "offset", size, dts_ms, dts_ms AS pts_ms, TRUE AS is_sync FROM arows
              |  UNION ALL
              |  SELECT CAST(doc_id AS BIGINT), CAST(idx AS BIGINT),
              |    "offset", size, dts_ms, pts_ms, is_sync FROM crows
              |  UNION ALL
              |  SELECT CAST(doc_id AS BIGINT), CAST(idx AS BIGINT),
              |    "offset", size, dts_ms, pts_ms, is_sync FROM drows)
              |SELECT doc_id, bucket, idx, "offset", size, dts_ms, pts_ms FROM (
              |  SELECT doc_id, CAST(pts_ms // 300 AS BIGINT) AS bucket,
              |    idx, "offset", size, dts_ms, pts_ms,
              |    row_number() OVER (PARTITION BY doc_id, pts_ms // 300
              |                       ORDER BY pts_ms, idx) AS rn
              |  FROM kall WHERE is_sync)
              |WHERE rn = 1""".stripMargin)),


    // ---- multimodal: resize planning (aspect-preserving fit into a
    //      224×224 box, pure integer arithmetic) ----
    "mm_resize" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            encode(col("text"), "UTF-8").as("content"))
          .select(col("doc_id"),
            Multimodal.decodeMeta(col("content"), Multimodal.kindOf(col("source"))).as("meta"))
        d.select(col("doc_id"),
            col("meta.width").as("width"), col("meta.height").as("height"),
            Multimodal.resizeFit(col("meta.width"), col("meta.height"), 224, 224).as("r"))
          .select(col("doc_id"), col("width"), col("height"),
            col("r.out_w").as("out_w"), col("r.out_h").as("out_h"))
      },
      Some("""WITH k AS (SELECT doc_id, n_chars,
             |  CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 3 = 0
             |       THEN (n_chars % 64 + 1) * 16 ELSE 0 END AS width,
             |  CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 3 = 0
             |       THEN (n_chars % 48 + 1) * 16 ELSE 0 END AS height
             |  FROM documents)
             |SELECT doc_id, width, height,
             |  CAST(CASE WHEN width <= 0 OR height <= 0 THEN 0
             |       WHEN width * 224 >= height * 224 THEN 224
             |       ELSE greatest((width * 224) // height, 1) END AS BIGINT) AS out_w,
             |  CAST(CASE WHEN width <= 0 OR height <= 0 THEN 0
             |       WHEN width * 224 >= height * 224 THEN greatest((height * 224) // width, 1)
             |       ELSE 224 END AS BIGINT) AS out_h
             |FROM k""".stripMargin)),

    // ---- multimodal: stub feature extraction (hash-derived vector —
    //      the encoder seam's schema and determinism contract; output
    //      digested to scalars so the hash gate sees exact values) ----
    "mm_features" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
        d.select(col("doc_id"),
            Multimodal.fakeFeatures(col("content"), 8).as("f"))
          .select(col("doc_id"),
            element_at(col("f"), 1).cast("double").as("f0"),
            element_at(col("f"), 8).cast("double").as("f7"))
      },
      // byte fold over the UTF-8 bytes (mirrors Kernels.byteFoldHash /
      // StubCodec — identical to the char fold for ASCII text, and the
      // form that stays right for bytes >= 0x80)
      Some(s"""WITH bt AS (SELECT doc_id, upper(hex(encode(text))) AS hx, octet_length(encode(text)) AS n FROM documents),
              |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(7 AS BIGINT),
              |  list_transform(range(0, n), k ->
              |    CAST((strpos('0123456789ABCDEF', substr(hx, 1 + 2*k, 1)) - 1) * 16
              |      + (strpos('0123456789ABCDEF', substr(hx, 2 + 2*k, 1)) - 1) AS BIGINT))),
              |  (a, b) -> (a*31 + b) % 1000000007) AS h FROM bt)
              |SELECT doc_id,
              |  CAST(CAST(CAST((h * 1) % 1000 - 500 AS DOUBLE) / 1000.0 AS REAL) AS DOUBLE) AS f0,
              |  CAST(CAST(CAST((h * 8) % 1000 - 500 AS DOUBLE) / 1000.0 AS REAL) AS DOUBLE) AS f7
              |FROM h""".stripMargin)),

    // ---- multimodal: frame sampling (1 row per sampled frame) ----
    "mm_frame_sample" -> Q(
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), encode(col("text"), "UTF-8").as("content"))
          .select(col("doc_id"),
            Multimodal.decodeMeta(col("content"), Multimodal.kindOf(col("source"))).as("meta"))
        Multimodal.sampleFrames(d, "meta", everyMs = 5000L)
          .select(col("doc_id"), col("frame_idx"))
      },
      Some("""WITH k AS (SELECT doc_id,
             |  CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) % 3 = 0
             |       THEN 0 ELSE n_chars * 40 END AS duration_ms
             |  FROM documents)
             |SELECT doc_id, unnest(
             |  CASE WHEN duration_ms > 0 THEN range(0, (duration_ms - 1) // 5000 + 1)
             |       ELSE [CAST(0 AS BIGINT)] END) AS frame_idx
             |FROM k""".stripMargin))
  )
}
