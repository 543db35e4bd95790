package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract /
  * frame-sample operators.
  *
  * The Spark-side mechanics (schema, partition-sized batching, explode
  * shape) are real and tested. Decode is layered by what a pure JVM
  * can honestly do: header metadata (dimensions, durations) is REAL
  * for PNG/GIF/JPEG/WebP/BMP/WAV/FLAC/MP3/MP4 ([[MediaHeaders]]);
  * pixel/sample CONTENT decode is REAL for PNG (zlib via
  * `java.util.zip`), baseline JPEG ([[JpegDecode]]: Huffman + IDCT +
  * chroma upsample, pure JVM), uncompressed 24 bpp BMP and PCM16 WAV
  * ([[MediaDecode]], feeding real channel-mean/luma and RMS/peak
  * features through [[HeaderCodec]]); only formats that genuinely
  * need a native codec library (lossy audio sample decode, video
  * frames) remain STUBBED — `decodeMeta`/`StubCodec` derive
  * deterministic fake values there. A production deployment swaps
  * the stub branch for the native codec behind the same contract (and should
  * then run it in `mapPartitions` with per-partition codec init,
  * batching partitions to ~128 MB via
  * spark.sql.files.maxPartitionBytes).
  */
object Multimodal {

  /** media kind from a source tag: stable 3-way split. */
  def kindOf(sourceTag: Column): Column = {
    val n = regexp_extract(sourceTag, "(\\d+)", 1).cast("long")
    when(pmod(n, lit(3)) === 0, "image")
      .when(pmod(n, lit(3)) === 1, "audio")
      .otherwise("video")
  }

  /** STUB decode — deterministic fake metadata derived only from byte
    * length, so any engine can recompute it. Real codecs replace this
    * expression (or a mapPartitions equivalent) without touching the
    * schema contract.
    */
  def decodeMeta(content: Column, kind: Column): Column = {
    val n = length(content).cast("long") // byte length
    struct(
      kind.as("kind"),
      n.as("n_bytes"),
      when(kind === "image", (pmod(n, lit(64)) + 1) * 16).otherwise(0L).as("width"),
      when(kind === "image", (pmod(n, lit(48)) + 1) * 16).otherwise(0L).as("height"),
      when(kind =!= "image", n * 40).otherwise(0L).as("duration_ms"))
  }

  /** frame/sample indices for time-based media: one row per sampled
    * frame (`every_ms` sampling interval). Images yield frame 0 only.
    */
  def sampleFrames(df: DataFrame, metaCol: String, everyMs: Long): DataFrame = {
    // everyMs = 0 would NULL the division and silently explode away
    // every duration-bearing row; negative would emit descending
    // negative frame indices
    require(everyMs > 0, s"sampleFrames: everyMs must be positive, got $everyMs")
    df.withColumn("frame_idx",
      explode(
        when(col(s"$metaCol.duration_ms") > 0,
          sequence(lit(0L), floor((col(s"$metaCol.duration_ms") - 1) / everyMs).cast("long")))
          .otherwise(array(lit(0L)))))
  }

  /** Aspect-preserving fit of (width, height) into a target box —
    * thumbnail/resize planning as pure integer arithmetic (the actual
    * pixel resample belongs to the codec seam; THIS decides the target
    * dims, which is what the pipeline schema carries). The binding
    * dimension is chosen by integer cross-multiplication, output dims
    * floor toward zero with a 1-pixel floor; non-images (0×0) stay 0×0.
    */
  def resizeFit(width: Column, height: Column, maxW: Int, maxH: Int): Column = {
    val wideBound = width * maxH >= height * maxW // width is the binding side
    val outW = when(wideBound, lit(maxW.toLong))
      .otherwise(greatest(floor((width * maxH) / height).cast("long"), lit(1L)))
    val outH = when(wideBound, greatest(floor((height * maxW) / width).cast("long"), lit(1L)))
      .otherwise(lit(maxH.toLong))
    when(width <= 0 || height <= 0,
      struct(lit(0L).as("out_w"), lit(0L).as("out_h")))
      .otherwise(struct(outW.as("out_w"), outH.as("out_h")))
  }

  /** STUB feature extraction: dim-length float vector from a rolling
    * hash of the RAW BYTES — stands in for a real encoder; keeps the
    * array<float> schema and per-row cost profile. Byte fold, not a
    * string fold: a UTF-8 decode would substitute U+FFFD for the
    * high bytes every real media binary contains, silently diverging
    * from [[StubCodec]]'s per-byte fold (the two paths are pinned
    * mirror-equal by spec and by the mm_pixel_stats stub-tail oracle).
    */
  def fakeFeatures(content: Column, dim: Int): Column = {
    val h = graft.functions.Kernels.byteFoldHash(content.cast("binary"))
    transform(sequence(lit(1), lit(dim)), i =>
      ((pmod(h * i, lit(1000L)) - 500L) / 1000.0).cast("float"))
  }

  // ---- partition-batched decode (the mapInPandas-shaped path) ------

  final case class MediaRow(doc_id: Long, kind: String, content: Array[Byte])
  final case class DecodedRow(
      doc_id: Long, kind: String, n_bytes: Long,
      width: Long, height: Long, duration_ms: Long, features: Array[Float])

  /** Per-partition codec: constructed ONCE per task (real codecs hold
    * native handles / model weights that must not be serialized or
    * re-initialized per row), fed row batches. The deterministic stub
    * mirrors [[decodeMeta]]/[[fakeFeatures]].
    */
  trait MediaCodec {
    def decode(rows: Iterator[MediaRow]): Iterator[DecodedRow]
    def close(): Unit = ()
  }

  final class StubCodec(featureDim: Int) extends MediaCodec {
    def decode(rows: Iterator[MediaRow]): Iterator[DecodedRow] = rows.map { r =>
      val n = r.content.length.toLong
      val isImage = r.kind == "image"
      val h = {
        var acc = 7L
        var i = 0
        while (i < r.content.length) {
          acc = (acc * 31 + (r.content(i) & 0xff)) % graft.functions.TextFunctions.P
          i += 1
        }
        acc
      }
      DecodedRow(
        r.doc_id, r.kind, n,
        if (isImage) (n % 64 + 1) * 16 else 0L,
        if (isImage) (n % 48 + 1) * 16 else 0L,
        if (isImage) 0L else n * 40,
        Array.tabulate(featureDim)(i => ((h * (i + 1)) % 1000L - 500L).toFloat / 1000f))
    }
  }

  /** REAL metadata codec: PNG/GIF/JPEG/WebP/BMP dimensions,
    * WAV/FLAC/MP3 audio duration and MP4/MOV video duration parsed
    * from the actual bytes ([[MediaHeaders]], pure JVM — no imaging
    * library), with the deterministic stub as the fallback for formats
    * the header parsers don't cover — a truncated or foreign file
    * degrades to stub metadata instead of killing the stage.
    *
    * Features are REAL where pure-JVM decode exists
    * ([[MediaDecode]]): PNG (zlib via `java.util.zip`), baseline
    * JPEG ([[JpegDecode]]), GIF and uncompressed 24 bpp BMP yield
    * per-channel means + luma; PCM16 WAV, IMA-ADPCM WAV, G.711
    * μ-law/A-law WAV and FLAC ([[FlacDecode]]) yield RMS/peak
    * amplitude — the rest of the feature vector keeps the
    * deterministic stub layout so the schema and per-row cost profile
    * are unchanged. Perceptual-audio sample decode (MP3/AAC) is the
    * one content family that still genuinely needs a native codec and
    * stays stubbed.
    */
  final class HeaderCodec(featureDim: Int) extends MediaCodec {
    private val stub = new StubCodec(featureDim)
    private def withReal(base: Array[Float], real: Array[Double]): Array[Float] = {
      val out = base.clone()
      var i = 0
      while (i < real.length && i < out.length) { out(i) = real(i).toFloat; i += 1 }
      out
    }
    // One corrupt file must degrade to the stub row, never kill the task:
    // the decoders promise None-on-malformed, but this is the corpus-scale
    // backstop if any slips through.
    private def safely[A](body: => Option[A]): Option[A] =
      try body catch { case scala.util.control.NonFatal(_) => None }
    def decode(rows: Iterator[MediaRow]): Iterator[DecodedRow] = rows.map { r =>
      val s = stub.decode(Iterator.single(r)).next()
      if (r.kind == "image") {
        val dims = MediaHeaders.imageDims(r.content)
          .map { case (w, h) => s.copy(width = w, height = h) }.getOrElse(s)
        safely(MediaDecode.imagePixels(r.content)) match {
          case Some(px) =>
            // color-slot mapping: <3 channels replicate the GRAY plane
            // into the G/B slots — the min-clamp form would feed the
            // ALPHA plane (channel 1 of a gray+alpha image) into them
            val (gi, bi) = if (px.channels >= 3) (1, 2) else (0, 0)
            dims.copy(features = withReal(dims.features, Array(
              px.meanLuma / 255.0,
              px.meanChannel(0) / 255.0,
              px.meanChannel(gi) / 255.0,
              px.meanChannel(bi) / 255.0)))
          case None => dims
        }
      } else if (r.kind == "audio") {
        val dur = MediaHeaders.audioDurationMs(r.content)
          .map(ms => s.copy(duration_ms = ms)).getOrElse(s)
        safely(MediaDecode.audioSamples(r.content)) match {
          case Some(pcm) => dur.copy(features = withReal(dur.features,
            Array(MediaDecode.rms(pcm), MediaDecode.peak(pcm))))
          case None => dur
        }
      } else
        MediaHeaders.videoDurationMs(r.content) match {
          case Some(ms) => s.copy(duration_ms = ms)
          case None => s
        }
    }
  }

  /** Distributed decode: one codec per partition, streamed batches —
    * the Scala analog of `mapInPandas` (same batch shape, same
    * executor-side init contract). Partition sizing comes from the
    * upstream scan (`spark.sql.files.maxPartitionBytes`), so a 100 TB
    * binary corpus decodes in bounded-memory chunks.
    */
  def decodePartitions(
      media: org.apache.spark.sql.Dataset[MediaRow],
      codecFactory: () => MediaCodec = () => new StubCodec(8)): org.apache.spark.sql.Dataset[DecodedRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[DecodedRow] =
      org.apache.spark.sql.Encoders.product[DecodedRow]
    media.mapPartitions { rows =>
      val codec = codecFactory()
      // close exactly once, and ALSO when the task ends without
      // draining the iterator (limit(), downstream failure) — a native
      // codec handle would otherwise leak per task; the exhaustion
      // hook alone also re-fired close() on post-exhaustion hasNext
      var closed = false
      def closeOnce(): Unit = if (!closed) { closed = true; codec.close() }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
      val out = codec.decode(rows)
      new Iterator[DecodedRow] {
        def hasNext: Boolean = { val h = out.hasNext; if (!h) closeOnce(); h }
        def next(): DecodedRow = out.next()
      }
    }
  }

  /** One image-tile-feature row: integer features straight from
    * [[MediaDecode.tileFeatures]] (floats derive downstream). */
  final case class ImageTileRow(doc_id: Long, tile_x: Int, tile_y: Int,
                                n_px: Int, sum_r: Long, sum_g: Long, sum_b: Long,
                                sum_sq_g: Long, min_g: Int, max_g: Int)

  /** Per-tile image statistics over DECODED pixels (whatever
    * [[MediaDecode.imagePixels]] handles); undecodable content yields
    * no rows. Narrow map-only plan — the blur/blank-region curation
    * signal at the cost of the scan itself. */
  def imageTiles(media: org.apache.spark.sql.Dataset[MediaRow],
                 tile: Int): org.apache.spark.sql.Dataset[ImageTileRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[ImageTileRow] =
      org.apache.spark.sql.Encoders.product[ImageTileRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (try MediaDecode.imagePixels(r.content)
         catch { case scala.util.control.NonFatal(_) => None }) match {
          case Some(px) => MediaDecode.tileFeatures(px, tile).iterator.map(t =>
            ImageTileRow(r.doc_id, t.tileX, t.tileY, t.nPx,
              t.sumR, t.sumG, t.sumB, t.sumSqG, t.minG, t.maxG))
          case None => Iterator.empty
        }
      }
    }
  }

  /** One image-fingerprint row ([[MediaDecode.aHash63]]). */
  final case class ImageHashRow(doc_id: Long, ahash: Long)

  /** 63-bit average-hash per decodable image (≥ 8×8) — feed into
    * [[graft.operators.Dedup.hammingPairs63]] for image near-dup
    * detection. Narrow map-only plan. */
  def imageHashes(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[ImageHashRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[ImageHashRow] =
      org.apache.spark.sql.Encoders.product[ImageHashRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (try MediaDecode.imagePixels(r.content).flatMap(MediaDecode.aHash63)
         catch { case scala.util.control.NonFatal(_) => None })
          .map(h => ImageHashRow(r.doc_id, h)).iterator
      }
    }
  }

  /** One MP4 sample-placement row ([[MediaHeaders.mp4Samples]]):
    * byte range, decode + presentation timestamps, and sync-sample
    * (keyframe) membership. */
  final case class Mp4SampleRow(doc_id: Long, idx: Int, offset: Long,
                                size: Long, dts_ms: Long, pts_ms: Long,
                                is_sync: Boolean)

  /** Sample byte-range maps for video content — the frame-sampling
    * primitive at 100 TB: select samples by timestamp, slice their
    * byte ranges, decode elsewhere. Undecodable or table-less content
    * yields no rows. Narrow map-only plan. */
  def mp4SampleRows(media: org.apache.spark.sql.Dataset[MediaRow],
                    applyEdits: Boolean = false):
      org.apache.spark.sql.Dataset[Mp4SampleRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[Mp4SampleRow] =
      org.apache.spark.sql.Encoders.product[Mp4SampleRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (try MediaHeaders.mp4Samples(r.content, applyEdits = applyEdits)
          .getOrElse(Vector.empty)
         catch { case scala.util.control.NonFatal(_) => Vector.empty })
          .iterator.map(s => Mp4SampleRow(r.doc_id, s.idx, s.offset, s.size,
            s.dtsMs, s.ptsMs, s.isSync))
      }
    }
  }

  /** Frame SELECTION over a sample map ([[mp4SampleRows]] output):
    * the first sample (by decode time, ties by index) in each
    * `everyMs` bucket — "one frame every N ms" as pure aggregation,
    * one partial-combined shuffle on (doc, bucket), no window. The
    * result is the byte-range list a downstream decoder slices. */
  def selectFramesEvery(samples: org.apache.spark.sql.DataFrame,
                        everyMs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(everyMs > 0, "everyMs must be positive")
    samples
      .groupBy(col("doc_id"),
        // integer division (not a double divide + cast): exact at any
        // timestamp magnitude, matching an offline engine's // op
        expr(s"dts_ms div $everyMs").as("bucket"))
      .agg(min(struct(col("dts_ms"), col("idx"), col("offset"), col("size"))).as("s"))
      .select(col("doc_id"), col("bucket"),
        col("s.idx").as("idx"), col("s.offset").as("offset"),
        col("s.size").as("size"), col("s.dts_ms").as("dts_ms"))
  }

  /** KEYFRAME selection over a sample map ([[mp4SampleRows]] output):
    * the first SYNC sample, in PRESENTATION order, of each `everyMs`
    * bucket of pts — the variant whose byte ranges a downstream
    * decoder can actually use standalone. [[selectFramesEvery]] hands
    * out raw sample cadence (decode order, any frame type);
    * this one filters to `is_sync` (a non-keyframe byte range is
    * undecodable without its reference chain) and buckets by `pts_ms`
    * (ctts reorder means decode order ≠ display order — "one frame
    * every N ms" is a statement about what the viewer sees). A bucket
    * whose span holds no keyframe yields no row: selecting its
    * nearest P-frame would hand downstream an unusable range, and
    * seeking backward to a previous keyframe would double-select it.
    * Same 100 TB shape as the plain variant: filter + one
    * partial-combined shuffle on (doc, bucket), no window. */
  def selectKeyframesEvery(samples: org.apache.spark.sql.DataFrame,
                           everyMs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(everyMs > 0, "everyMs must be positive")
    samples
      .filter(col("is_sync"))
      .groupBy(col("doc_id"), expr(s"pts_ms div $everyMs").as("bucket"))
      .agg(min(struct(col("pts_ms"), col("idx"), col("offset"),
        col("size"), col("dts_ms"))).as("s"))
      .select(col("doc_id"), col("bucket"),
        col("s.idx").as("idx"), col("s.offset").as("offset"),
        col("s.size").as("size"), col("s.dts_ms").as("dts_ms"),
        col("s.pts_ms").as("pts_ms"))
  }

  /** One audio-fingerprint row ([[MediaDecode.audioHash63]]). */
  final case class AudioHashRow(doc_id: Long, ahash: Long)

  /** 63-bit energy-delta hash per decodable clip (≥ 64 samples) —
    * feed into [[graft.operators.Dedup.hammingPairs63]] for audio
    * near-dup detection. Narrow map-only plan. */
  def audioHashes(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[AudioHashRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[AudioHashRow] =
      org.apache.spark.sql.Encoders.product[AudioHashRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (try MediaDecode.audioSamples(r.content).flatMap(MediaDecode.audioHash63)
         catch { case scala.util.control.NonFatal(_) => None })
          .map(h => AudioHashRow(r.doc_id, h)).iterator
      }
    }
  }

  /** One windowed-audio-feature row: integer features straight from
    * [[MediaDecode.windowFeatures]] (floats derive downstream). */
  final case class AudioWindowRow(doc_id: Long, win_idx: Int, n_samples: Int,
                                  zcr: Int, sum_sq: Long, peak_abs: Int)

  /** Windowed audio features over DECODED samples (WAV PCM/ADPCM/
    * G.711, FLAC — whatever [[MediaDecode.audioSamples]] handles);
    * undecodable content yields no rows. Narrow map-only plan: one
    * pass per partition, no shuffle, output fan-out bounded by
    * samples/`win` — at 100 TB the cost profile is the scan itself.
    */
  def audioWindows(media: org.apache.spark.sql.Dataset[MediaRow],
                   win: Int): org.apache.spark.sql.Dataset[AudioWindowRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[AudioWindowRow] =
      org.apache.spark.sql.Encoders.product[AudioWindowRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (try MediaDecode.audioSamples(r.content)
         catch { case scala.util.control.NonFatal(_) => None }) match {
          case Some(pcm) => MediaDecode.windowFeatures(pcm, win).iterator.map(w =>
            AudioWindowRow(r.doc_id, w.winIdx, w.nSamples, w.zcr, w.sumSq, w.peakAbs))
          case None => Iterator.empty
        }
      }
    }
  }

  /** One EXIF metadata row ([[Exif.exifMeta]]). */
  final case class ExifRow(doc_id: Long, make: String, model: String,
                           orientation: Int, date_time: String, has_gps: Boolean)

  /** EXIF metadata for JPEG/TIFF content — provenance (camera,
    * capture time), decode-side orientation, and the GPS-presence
    * PII flag a privacy pass filters on. Non-EXIF content yields no
    * rows. Narrow map-only plan. */
  def exifMeta(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[ExifRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[ExifRow] =
      org.apache.spark.sql.Encoders.product[ExifRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (try Exif.exifMeta(r.content)
         catch { case scala.util.control.NonFatal(_) => None })
          .map(m => ExifRow(r.doc_id, m.make, m.model, m.orientation,
            m.dateTime, m.hasGps)).iterator
      }
    }
  }

  /** One record of the single-pass WARC facet walk ([[warcFacets]]):
    * record identity + byte ranges (the record-map facet), HTTP facts
    * (mime/status/location — the CDX and redirect facets), content
    * identity (`payload_digest` — the revisit facet), and, when the
    * walk runs `withText`, the decoded response text (the extraction
    * facet: `has_text` marks rows whose payload decoded; non-response
    * records and binary payloads carry `has_text = false`). */
  final case class WarcFacetRow(
      doc_id: Long, idx: Int, warc_type: String, target_uri: String,
      content_length: Long, http_status: Int,
      header_offset: Long, body_offset: Long, body_length: Long,
      mime: String, payload_digest: String, location: String, rec_length: Long,
      has_text: Boolean, charset: String, body: String, coding_residual: String)

  /** ONE parse of the archive bytes, every facet emitted — the
    * composed-ingest shape at 100 TB: a curation run that wants the
    * CDX index AND the redirect edges AND the revisits AND the page
    * text used to re-run [[WebArchive.warcRecordsAny]] once per facet
    * operator (4-5 parses of the same record stream); this walk
    * parses once and each facet operator below is a narrow projection
    * of it (their signatures and row types unchanged). Still one
    * map-only pass, zero shuffle.
    *
    * @param withText decode response payloads to text in the same
    *                 pass ([[WebArchive.decodeHttpPayload]] + charset
    *                 routing — the [[warcResponses]] contract). The
    *                 metadata-only facets pass `false` so a
    *                 CDX/redirect/revisit-only query never pays the
    *                 body decode it would not read.
    */
  def warcFacets(media: org.apache.spark.sql.Dataset[MediaRow],
                 withText: Boolean = true):
      org.apache.spark.sql.Dataset[WarcFacetRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[WarcFacetRow] =
      org.apache.spark.sql.Encoders.product[WarcFacetRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        (try WebArchive.warcRecordsAny(r.content)
         catch { case scala.util.control.NonFatal(_) => None }) match {
          case Some((raw, recs)) => recs.iterator.map { w =>
            var hasText = false
            var cs = ""
            var text = ""
            var residual = ""
            if (withText && w.warcType.equalsIgnoreCase("response")) {
              // the decode layers degrade internally; the outer guard
              // keeps ANY surprise from killing the task — the record
              // degrades to has_text=false, like binary payloads
              try {
                val (payload, res) = WebArchive.decodeHttpPayload(raw, w)
                val c = graft.functions.Kernels.detectCharsetEval(payload)
                graft.functions.Kernels.decodeTextEval(payload, c).foreach { t =>
                  hasText = true; cs = c; text = t; residual = res
                }
              } catch { case scala.util.control.NonFatal(_) => () }
            }
            WarcFacetRow(r.doc_id, w.idx, w.warcType, w.targetUri,
              w.contentLength, w.httpStatus, w.headerOffset, w.bodyOffset,
              w.bodyLength, w.contentType, w.payloadDigest, w.location,
              w.bodyOffset + w.bodyLength - w.headerOffset,
              hasText, cs, text, residual)
          }
          case None => Iterator.empty
        }
      }
    }
  }

  /** One WARC record-map row ([[WebArchive.warcRecords]]): record
    * type, target URI, and the block/HTTP-body byte ranges. */
  final case class WarcRecordRow(doc_id: Long, idx: Int, warc_type: String,
                                 target_uri: String, content_length: Long,
                                 http_status: Int, header_offset: Long,
                                 body_offset: Long, body_length: Long)

  /** Record byte-range maps for WARC content, plain or `.warc.gz`
    * (per-member gzip decoded and trailer-verified in the same pass;
    * offsets refer to the decompressed stream) — the crawl-ingest
    * analog of [[mp4SampleRows]]: rebuild each file's record map,
    * slice byte ranges downstream, never hold the whole archive as
    * rows. Unparseable content yields no rows. Narrow map-only plan.
    */
  def warcRecords(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[WarcRecordRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[WarcRecordRow] =
      org.apache.spark.sql.Encoders.product[WarcRecordRow]
    warcFacets(media, withText = false).map(f =>
      WarcRecordRow(f.doc_id, f.idx, f.warc_type, f.target_uri,
        f.content_length, f.http_status, f.header_offset, f.body_offset,
        f.body_length))
  }

  /** One extracted, fully-decoded HTTP response: URI, status, the
    * charset label the body decoded under, the body TEXT, and the
    * residual coding list NOT undone ("" when fully decoded — a
    * brotli/zstd or mislabeled body carries its still-wrapped codings
    * here so the curation gate can FILTER the mojibake instead of
    * silently ingesting it). */
  final case class WarcResponseRow(doc_id: Long, idx: Int, target_uri: String,
                                   http_status: Int, charset: String, body: String,
                                   coding_residual: String, payload_digest: String)

  /** Response payloads sliced in the same pass as the record walk —
    * for pipelines that extract immediately (WARC → HTML → text);
    * non-response records and unparseable files yield no rows.
    *
    * Bodies are REAL-ARCHIVE decoded, not assumed identity/UTF-8:
    * the HTTP codings are undone first ([[WebArchive.decodeHttpBody]]
    * — `Transfer-Encoding: chunked` reassembled, then
    * `Content-Encoding: gzip`/`deflate` inflated, each layer
    * degrading to its input on malformation), then the payload is
    * charset-routed ([[graft.functions.Kernels.decodeTextEval]]:
    * BOM families consumed, latin-1 fallback) — the header charset
    * is deliberately NOT trusted (crawled `Content-Type` charsets
    * are wrong often enough that browsers sniff too). Binary
    * payloads (images, octet streams) yield NO row — this operator
    * is the text-extraction feed, not a byte mover.
    *
    * Still one map-only pass: parse + decode over bytes the scan
    * already read. */
  def warcResponses(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[WarcResponseRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[WarcResponseRow] =
      org.apache.spark.sql.Encoders.product[WarcResponseRow]
    // has_text is only ever set on response records whose payload
    // decoded as text, so the filter IS the old response+decodable gate
    warcFacets(media, withText = true).filter(_.has_text).map(f =>
      WarcResponseRow(f.doc_id, f.idx, f.target_uri, f.http_status,
        f.charset, f.body, f.coding_residual, f.payload_digest))
  }

  /** One CDX-style archive-index row: the record's identity (URL,
    * WARC type), HTTP facts (mime, status), content identity
    * (payload digest) and byte location (offset + whole-record
    * length). */
  final case class WarcCdxRow(doc_id: Long, idx: Int, url: String, warc_type: String,
                              mime: String, http_status: Int, payload_digest: String,
                              offset: Long, rec_length: Long)

  /** CDX-style index rows for a WARC corpus — the standard
    * archive-lookup surface (what wayback/pywb-class tooling keys
    * replay and dedup on). Pair with
    * [[graft.functions.WebFunctions.surtKey]] over `url` for the
    * canonical CDX `urlkey` (host labels reversed, so a domain
    * family's captures sort contiguously). Offsets refer to the
    * decompressed stream (the [[warcRecords]] contract); `rec_length`
    * spans the record header through its block end. Same narrow
    * map-only plan as the record walk — building the index of a
    * 100 TB archive is one pass over the scan, no shuffle. */
  def warcCdx(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[WarcCdxRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[WarcCdxRow] =
      org.apache.spark.sql.Encoders.product[WarcCdxRow]
    warcFacets(media, withText = false).map(f =>
      WarcCdxRow(f.doc_id, f.idx, f.target_uri, f.warc_type, f.mime,
        f.http_status, f.payload_digest, f.header_offset, f.rec_length))
  }

  /** A [[WarcCdxRow]] extended with the record's COMPRESSED member
    * range: `member_idx` is the record's 0-based data-member ordinal
    * in the file, `member_offset`/`member_length` its byte range in
    * the compressed file (-1/-1 when the input is uncompressed).
    * With the per-record-member layouts (`.warc.gz`, `.warc.zst`)
    * this is what real CDX files store: replay range-reads
    * `member_length` bytes at `member_offset` and decompresses ONE
    * record — at 100 TB nothing else in the archive file is read. */
  final case class WarcCdxMemberRow(doc_id: Long, idx: Int, url: String,
                                    warc_type: String, mime: String,
                                    http_status: Int, payload_digest: String,
                                    offset: Long, rec_length: Long,
                                    member_idx: Int, member_offset: Long,
                                    member_length: Long)

  /** [[warcCdx]] with serving-grade byte locations: each record is
    * mapped to the compressed member whose output contains its header
    * offset ([[WebArchive.memberRanges]] — the gzip-member or
    * zstd-frame walk the decompression already does). One map-only
    * pass like every facet walk; plain uncompressed input degrades to
    * member -1 (its decompressed offsets already ARE file offsets). */
  def warcCdxMembers(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[WarcCdxMemberRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[WarcCdxMemberRow] =
      org.apache.spark.sql.Encoders.product[WarcCdxMemberRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        // decompress ONCE: the member walk already yields the raw
        // stream; plain input parses directly with no member map
        (try {
          WebArchive.memberRanges(r.content) match {
            case Some((raw, members)) =>
              WebArchive.warcRecords(raw).map(recs => (recs, members))
            case None =>
              WebArchive.warcRecords(r.content).map(recs => (recs, Vector.empty[WebArchive.MemberRange]))
          }
        } catch { case scala.util.control.NonFatal(_) => None }) match {
          case Some((recs, members)) =>
            recs.iterator.map { w =>
              // the member whose output range contains the record's
              // header offset — members are emitted in file order, so
              // binary search over their output starts
              var lo = 0
              var hi = members.length - 1
              var m = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                val mr = members(mid)
                if (w.headerOffset < mr.outOff) hi = mid - 1
                else if (w.headerOffset >= mr.outOff + mr.outLen) lo = mid + 1
                else { m = mid; lo = hi + 1 }
              }
              val (mo, ml) =
                if (m < 0) (-1L, -1L)
                else (members(m).compOff, members(m).compLen)
              WarcCdxMemberRow(r.doc_id, w.idx, w.targetUri, w.warcType,
                w.contentType, w.httpStatus, w.payloadDigest,
                w.headerOffset, w.bodyOffset + w.bodyLength - w.headerOffset,
                m, mo, ml)
            }
          case None => Iterator.empty
        }
      }
    }
  }

  /** One redirect capture: a response record whose HTTP status is
    * 3xx and whose `Location` header names the target. */
  final case class WarcRedirectRow(doc_id: Long, idx: Int, from_uri: String,
                                   http_status: Int, to_uri: String)

  /** Redirect edges of a WARC corpus — 3xx response records with a
    * `Location` header, the input to [[Redirects.resolve]] (a crawl
    * must key `/old` → … → `/final` pages under the FINAL URL before
    * URL dedup, or one page counts once per historical spelling).
    * Same narrow map-only record walk as [[warcResponses]]. */
  def warcRedirects(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[WarcRedirectRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[WarcRedirectRow] =
      org.apache.spark.sql.Encoders.product[WarcRedirectRow]
    warcFacets(media, withText = false)
      .filter(f => f.http_status >= 300 && f.http_status <= 399 && f.location.nonEmpty)
      .map(f => WarcRedirectRow(f.doc_id, f.idx, f.target_uri, f.http_status,
        f.location))
  }

  /** One WARC `revisit` record: a URL that was re-fetched and whose
    * payload matched an earlier capture — the body is headers-only,
    * the content identity rides `WARC-Payload-Digest`. */
  final case class WarcRevisitRow(doc_id: Long, idx: Int, target_uri: String,
                                  payload_digest: String)

  /** `revisit` records of a WARC corpus ([[WebArchive.warcRecords]]
    * walk, same narrow map-only plan as [[warcResponses]]) — ~1/3 of
    * real CommonCrawl response-class records are revisits, so a
    * curation stack that drops them loses a third of its page views
    * (and the dedup signal they carry). Revisits without a digest
    * yield no row (nothing to resolve against). */
  def warcRevisits(media: org.apache.spark.sql.Dataset[MediaRow]):
      org.apache.spark.sql.Dataset[WarcRevisitRow] = {
    implicit val enc: org.apache.spark.sql.Encoder[WarcRevisitRow] =
      org.apache.spark.sql.Encoders.product[WarcRevisitRow]
    warcFacets(media, withText = false)
      .filter(f => f.warc_type.equalsIgnoreCase("revisit") && f.payload_digest.nonEmpty)
      .map(f => WarcRevisitRow(f.doc_id, f.idx, f.target_uri, f.payload_digest))
  }

  /** Resolve revisits to their original payloads by
    * `WARC-Payload-Digest` — the exact-dedup APPLY shape: originals
    * collapse to ONE deterministic keeper per digest (a single
    * partial-agg'd hash shuffle with row-bounded state — `min` over
    * a (doc_id, idx, …) struct keeps the first capture), then one
    * digest-keyed equi-join attaches the keeper's decoded body to
    * every revisit. No window, no cartesian; at 100 TB both sides
    * hash-partition on the digest (AQE may broadcast a dim-sized
    * keeper set). Revisits whose digest has no original drop —
    * there is nothing to resolve them against.
    *
    * @param responses [[warcResponses]] rows (doc_id, idx,
    *                  http_status, charset, body, payload_digest …)
    * @param revisits  [[warcRevisits]] rows
    * @return one row per resolvable revisit: its own identity
    *         (doc_id, idx, target_uri, payload_digest) plus the
    *         original's doc_id/status/charset/body
    */
  def resolveRevisits(responses: DataFrame, revisits: DataFrame): DataFrame = {
    val keeper = responses
      .where(col("payload_digest") =!= "")
      .groupBy(col("payload_digest"))
      .agg(min(struct(col("doc_id"), col("idx"), col("http_status"),
        col("charset"), col("body"))).as("o"))
      .select(col("payload_digest"), col("o.doc_id").as("orig_doc_id"),
        col("o.http_status").as("http_status"), col("o.charset").as("charset"),
        col("o.body").as("body"))
    revisits.join(keeper, "payload_digest")
      .select(col("doc_id"), col("idx"), col("target_uri"), col("payload_digest"),
        col("orig_doc_id"), col("http_status"), col("charset"), col("body"))
  }
}
