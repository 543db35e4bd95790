package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines,
  * all pure column expressions (whole-stage codegen; no UDFs) with
  * engine-independent semantics: hashes are explicit polynomial
  * arithmetic (reproducible in any SQL engine for oracles/audits) and
  * ratios are emitted as scaled integers via integer division so no
  * floating-point rounding can diverge across engines.
  */
object TextFunctions {

  /** modulus for all polynomial hashes (fits 64-bit intermediate math:
    * h < P ≈ 2^30, h*131 + x < 2^38). */
  val P = 1000000007L

  def words(text: Column): Column = split(text, " ")

  /** word n-gram shingles ("a b c" for n=3), via the codegen kernel
    * [[Kernels.shingles]]. */
  def shingles(text: Column, n: Int): Column = Kernels.shingles(text, n)

  /** strict-UTF-8 invalid-byte count over a binary column (codegen
    * kernel [[Kernels.utf8Invalid]]): bytes that start no valid
    * RFC 3629 sequence — overlongs, surrogates, > U+10FFFF and
    * truncations all count, one per rejected sequence start.
    */
  def utf8InvalidBytes(bin: Column): Column = Kernels.utf8Invalid(bin)

  /** bytes with the top bit set ([[Kernels.highBytes]]). */
  def highByteCount(bin: Column): Column = Kernels.highBytes(bin)

  /** 0x00 bytes ([[Kernels.nulBytes]]) — the binary-content signal. */
  def nulByteCount(bin: Column): Column = Kernels.nulBytes(bin)

  /** charset detection over raw bytes, the ingest-time routing
    * decision a web-scale corpus needs before any text op: BOM sniff
    * first (UTF-8 / UTF-32 before UTF-16 — FF FE is a UTF-32LE prefix
    * too; the UTF-16/32 BOM families legitimately CONTAIN NULs, so
    * they must outrank the NUL test), then any NUL byte → `binary`
    * BEFORE UTF-8 validation: NULs are ubiquitous in real binary
    * payloads (JPEG headers, zip local-file records, ELF, NUL-padded
    * blobs, BOM-less UTF-16 of ASCII text) and never legitimate in
    * text of ANY single- or multi-byte encoding — a blob whose bytes
    * happen to pass the strict scanner is still not text (r13,
    * closing the r12 ADVICE reachability item). Then strict-UTF-8
    * validation (multibyte content → utf-8, 7-bit clean → ascii),
    * and the scanner-rejected remainder is `latin-1`: the TERMINAL
    * permissive single-byte fallback every browser applies. Pure byte
    * logic end to end, so the DuckDB oracle re-derives the same label
    * from the same bytes.
    */
  def detectEncoding(bin: Column): Column = {
    val inv = utf8InvalidBytes(bin)
    val nul = nulByteCount(bin)
    when(hex(substring(bin, 1, 3)) === "EFBBBF", "utf-8-bom")
      .when(hex(substring(bin, 1, 4)) === "FFFE0000", "utf-32le")
      .when(hex(substring(bin, 1, 4)) === "0000FEFF", "utf-32be")
      .when(hex(substring(bin, 1, 2)) === "FFFE", "utf-16le")
      .when(hex(substring(bin, 1, 2)) === "FEFF", "utf-16be")
      .when(nul > 0, "binary")
      .when(inv === 0 && highByteCount(bin) > 0, "utf-8")
      .when(inv === 0, "ascii")
      .otherwise("latin-1")
  }

  /** deterministic polynomial char hash:
    * fold(chars, 7, (h,c) => (h*31 + ascii(c)) mod P). */
  def charHash(s: Column): Column =
    aggregate(
      transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long")),
      lit(7L),
      (acc, x) => pmod(acc * 31 + x, lit(P)))

  /** base-37, seed-11, mod-P2 char fold — the second component of
    * [[Kernels.shingleHashes]]' packed key, as a standalone column. */
  def charHash37(s: Column): Column =
    aggregate(
      transform(filter(split(s, ""), c => c =!= ""), c => ascii(c).cast("long")),
      lit(11L),
      (acc, x) => pmod(acc * 37 + x, lit(Kernels.P2)))

  /** UNIFORM hash of one string into [0, P·P2) — the KMV-sketch hash.
    *
    * The raw polynomial folds are NOT uniform for short strings
    * (charHash of a ≤6-char string never wraps mod P, so all values
    * crowd the bottom of the range and any order statistic over them
    * is meaningless). Here the two independent folds are each pushed
    * through an affine map modulo its prime — multiplication by a
    * >2³⁰ constant wraps the modulus ~10⁷ times across even a
    * short-string input range, spreading images over the full field —
    * and recombined as u1·P2 + u2, uniform on [0, P·P2 ≈ 1.000016e18).
    * Every intermediate stays < 4·10¹⁸ (exact int64 on any engine).
    */
  def kmvHash(s: Column): Column = {
    val ch = charHash(s)
    val f37 = charHash37(s)
    pmod(ch * 1103515245L + f37 * 2654435761L + 12345L, lit(P)) * lit(Kernels.P2) +
      pmod(ch * 1000003L + f37 * 999999937L + 67867967L, lit(Kernels.P2))
  }

  /** document fingerprint: rolling hash over word hashes —
    * fold(words, 7, (h,w) => (h*131 + charHash(w)) mod P), computed by
    * the codegen kernel [[Kernels.fingerprint]] (one JVM pass instead
    * of an interpreted lambda per character; bit-identical, parity-
    * pinned in GraftFunctionsSpec against the HOF form, `FingerprintExpr`). */
  def fingerprint(text: Column): Column = Kernels.fingerprint(text)

  // ---- token counting ----

  /** whitespace tokens. */
  def wsTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0))).cast("long")

  /** BPE-ish pre-tokenizer: letter runs / digit runs / single symbols. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** the classic chars/4 LLM token estimate. */
  def approxTokenCount(text: Column): Column =
    ceil(length(text) / 4.0).cast("long")

  // ---- quality scoring ----

  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "or", "is")

  def stopwordCount(text: Column): Column =
    size(filter(words(text), w => w.isInCollection(Stopwords))).cast("long")

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0))).cast("long")

  // ---- per-rule inputs for [[graft.operators.QualityRules]] ----

  /** total non-whitespace characters (mean-word-length numerator). */
  def nonWsCharCount(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("long")

  /** DISTINCT stopwords present — Gopher's "contains at least 2 of the
    * stop set" rule counts distinct hits, not occurrences. */
  def distinctStopwordCount(text: Column): Column =
    // \S+ tokens like every sibling rule input (wsTokenCount,
    // distinctWordCount, alphaWordCount) — the single-space split
    // fused newline/tab-separated words ("of\nthe") into tokens that
    // never matched a stopword, failing ok_stop on normal multi-line
    // documents
    size(array_distinct(filter(regexp_extract_all(text, lit("\\S+"), lit(0)),
      w => w.isInCollection(Stopwords)))).cast("long")

  /** distinct whitespace tokens (unique-word-ratio numerator). */
  def distinctWordCount(text: Column): Column =
    size(array_distinct(regexp_extract_all(text, lit("\\S+"), lit(0)))).cast("long")

  /** words containing at least one ASCII letter. */
  def alphaWordCount(text: Column): Column =
    size(filter(regexp_extract_all(text, lit("\\S+"), lit(0)),
      w => w.rlike("[A-Za-z]"))).cast("long")

  /** Gopher symbol count: '#' marks and '...' ellipses. */
  def symbolCount(text: Column): Column =
    size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))).cast("long")

  /** quality score in parts-per-million:
    * ppm = floor(least(words,100) * (words - stop) * 1e6 / (100 * words))
    * (= lengthFactor * (1 - stopwordRatio), scaled). Numerator < 2^53 so
    * the double division is exact enough that floor == integer DIV in
    * any engine (closest a non-integer ratio can sit to an integer is
    * 1/denominator ≫ one ulp).
    */
  def qualityScorePpm(text: Column): Column = {
    val w = wsTokenCount(text)
    val s = stopwordCount(text)
    floor((least(w, lit(100L)) * (w - s) * 1000000L) / (w * 100L)).cast("long")
  }

  /** intra-document repetition in ppm: the fraction of n-gram
    * occurrences that are repeats of an earlier n-gram (the
    * boilerplate/spam signal used alongside [[qualityScorePpm]] in
    * quality filtering). Integer arithmetic — engine-exact.
    */
  def repetitionPpm(text: Column, n: Int = 3): Column = {
    val s = shingles(text, n)
    val cnt = size(s).cast("long")
    val uniq = size(array_distinct(s)).cast("long")
    when(cnt === 0, lit(0L))
      .otherwise(floor(((cnt - uniq) * 1000000L) / cnt).cast("long"))
  }

  // ---- dedup-normalization (the C4/near-dup preprocessing step) ----

  /** Canonical text for duplicate detection: lower-cased, punctuation
    * stripped to spaces, whitespace runs collapsed, trimmed — so
    * "Hello,  World!" and "hello world" hash identically. Feed THIS to
    * [[charHash]]/[[fingerprint]]/the shingle family when case or
    * punctuation variants must count as duplicates (the C4 dedup
    * convention); raw text keeps them distinct. Pure codegen column
    * expressions (lower + two regexp passes), exactly reproducible in
    * any engine.
    */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  // ---- PII redaction (training-data scrubbing) ----

  /** conservative patterns; order matters (emails before bare digit
    * runs so the local part isn't half-eaten). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?\\d{3}[- .]\\d{3}[- .]\\d{4}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** scrub emails/phones/IPv4s to typed placeholder tokens — a narrow
    * projection (codegen regexp_replace), shuffles nothing. */
  def redact(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val p = regexp_replace(e, PhoneRe, "<PHONE>")
    regexp_replace(p, Ipv4Re, "<IP>")
  }

  // ---- language ID (marker-word heuristic) ----

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les"),
    "es" -> Seq("el", "los", "y", "las"),
    "de" -> Seq("der", "und", "die", "das"))

  /** n-gram-free language ID: argmax of marker-word hits with fixed
    * precedence (en > fr > es > de), 'unknown' when no marker hits.
    */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(words(text), w => w.isInCollection(markers))).cast("long")
    }
    val allCounts = counts.map(_._2)
    counts.foldRight(lit("unknown")) { case ((lang, c), els) =>
      when(c > 0 && allCounts.map(o => c >= o).reduce(_ && _), lit(lang)).otherwise(els)
    }
  }
}
