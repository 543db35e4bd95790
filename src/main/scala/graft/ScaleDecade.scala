package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import ScaleCorpus.{best, time}

/** Scale-curvature probe: each axis runs one operator family on 1×→8×
  * or 1×→64× synthetic growth and prints its warm cost and output size,
  * so the SCALING.md claims ("bucketed, never quadratic"; "the cap binds
  * and holds the curve") rest on measured curves, not only plan shape.
  * The 64× axes (320k docs, ~sf1 territory, and 1M vectors) are where an
  * uncapped quadratic would take minutes to hours.
  *
  * Corpora come from [[ScaleCorpus]], seeded and deterministic (no
  * rand()): `curves` reads organic replicas of the documents, the capped
  * text axes the mass-duplicate corpus, the vector axes the synthetic
  * embedding family.
  *
  * `runMain graft.ScaleDecade <sfDir> [axisPrefix]` runs every axis
  * whose name starts with the prefix (all of them by default, a long
  * sweep). Measurement only: no query or test depends on it.
  */
object ScaleDecade {
  def main(args: Array[String]): Unit = {
    val only: Option[String] = args.drop(1).headOption
    def axis(name: String)(body: => Unit): Unit =
      if (only.forall(name.startsWith)) body
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect()

    val base = spark.read.parquet(s"${args(0)}/documents.parquet")
      .select("doc_id", "text")
    def corpus(mult: Int): DataFrame = ScaleCorpus.massDup(base, mult)
    def syntheticEmb(n: Long): DataFrame = ScaleCorpus.embeddings(spark, n)

    // fixed probe set: one per 1000 base docs, never grows with mult
    val queries = base.filter(pmod(col("doc_id"), lit(1000L)) === 0)
      .localCheckpoint(true)

    axis("text") {
      for (m <- Seq(1, 8, 64)) {
        val d = corpus(m)
        val nDocs = d.count()
        val (lsh, lshN) = best(operators.Dedup.minhashLshCandidates(
          d, "doc_id", "text", n = 3, k = 8, bands = 2, maxBandOccupancy = 1000L).count())
        val (spans, spansN) = best(operators.Dedup.repeatedSpans(
          d, "doc_id", "text", n = 5, minDocs = 2L).count())
        // fixed df cap: on this corpus's 31-word vocabulary every term
        // outgrows 1000 docs past ~8x, so the cap drops ALL postings —
        // cost must stay near-flat (the cap binding completely); the
        // corpus-scaled cap (the honest sizing rule: df cap ∝ corpus)
        // keeps output flowing and must stay linear
        val (bm25, bm25N) = best(operators.TextSim.bm25TopK(
          d, "doc_id", "text", queries, "doc_id", "text",
          k = 10, maxTermDocs = 1000L).count())
        val (bm25S, bm25SN) = best(operators.TextSim.bm25TopK(
          d, "doc_id", "text", queries, "doc_id", "text",
          k = 10, maxTermDocs = 1000L * m).count())
        println(f"[decade] text ${m}%2dx docs=$nDocs%7d " +
          f"lsh_capped=$lsh%7.2f s ($lshN%9d pairs) " +
          f"spans=$spans%7.2f s ($spansN%9d rows) " +
          f"bm25_cap1k=$bm25%7.2f s ($bm25N%7d rows) " +
          f"bm25_capScaled=$bm25S%7.2f s ($bm25SN%7d rows)")
        d.unpersist()
      }
    }

    axis("semdedup") {
      for (n <- Seq(2000L, 16000L, 128000L)) {
        val e = syntheticEmb(n)
        // fixed nList=16: past ~16k vectors EVERY list outgrows the
        // occupancy cap and is excluded (0 pairs, flat cost — the guard
        // binding completely); the paper's sizing rule nList ∝ corpus
        // keeps list occupancy constant, so pair work grows linearly
        val (sem, semN) = best(operators.Dedup.semanticPairs(
          e, "vec_id", "embedding", eps = 0.8, nList = 16, maxListOccupancy = 1000L).count())
        val nlScaled = (16L * n / 2000L).toInt
        val (semS, semSN) = best(operators.Dedup.semanticPairs(
          e, "vec_id", "embedding", eps = 0.8, nList = nlScaled,
          maxListOccupancy = 1000L).count())
        // uncapped, the boilerplate list's pair stage is quadratic: 128k
        // would be the blow-up the guard exists to stop
        val unc = if (n > 16000L) "uncapped=skipped(quadratic)" else {
          val (t, c) = best(operators.Dedup.semanticPairs(
            e, "vec_id", "embedding", eps = 0.8, nList = 16, maxListOccupancy = Long.MaxValue).count())
          f"uncapped/nList16=$t%7.2f s ($c%9d pairs)"
        }
        println(f"[decade] semdedup n=$n%7d capped@1000/nList16=$sem%7.2f s ($semN%9d pairs) " +
          f"nList=$nlScaled%5d=$semS%7.2f s ($semSN%9d pairs) $unc")
        e.unpersist()
      }
    }

    // r13: the multimodal fingerprint pairing (image/audio 63-bit
    // hashes through the shared hammingPairs63 machinery) at 64×.
    // Corpus shape matches the dd_image_neardup oracle density: 10%
    // share ONE boilerplate fingerprint (the mass-dup case the
    // identical-fingerprint collapse must absorb — without it this is
    // quadratic in the dup count), 1 in 7 docs has a 1–3-bit
    // perturbed twin (the blocked ≤3-bit join must FIND those, so
    // output grows linearly, never quadratically)
    def syntheticHashes(n: Long): DataFrame = spark.range(n).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) === 0, lit(0x1234_5678_9ABCL))
          .otherwise(
            when(pmod(col("id"), lit(7)) === 1,
              // twin of the previous doc's organic hash, 1 bit flipped
              expr("((id - 1) * 2654435761 % 4611686018427387904 + 4611686018427387904) % 4611686018427387904").bitwiseXOR(lit(4L)))
              .otherwise(expr("(id * 2654435761 % 4611686018427387904 + 4611686018427387904) % 4611686018427387904")))
          .as("ahash"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    axis("mmhash") {
      for (m <- Seq(1, 8, 64)) {
        val n = 5000L * m
        val h = syntheticHashes(n)
        val (pair, pairN) = best(operators.Dedup.hammingPairs63(h, "doc_id", "ahash").count())
        val (app, appN) = best(operators.Dedup.dedupByFingerprint63(h, "doc_id", "ahash").count())
        println(f"[decade] mmhash ${m}%2dx n=$n%7d pairs=$pair%7.2f s ($pairN%9d) " +
          f"dedup_apply=$app%7.2f s ($appN%9d kept)")
        h.unpersist()
      }
    }

    // r13: MP4 sample maps + frame selection at 64×. The sample map is
    // the mp4SampleRows OUTPUT shape (the decode itself is map-only
    // and measured by the bench); what must stay linear at corpus
    // scale is the (doc, bucket) aggregation — both cadence and
    // keyframe variants, no window in either plan
    def syntheticSamples(docs: Long): DataFrame = spark.range(docs * 100).select(
        (col("id") / 100).cast("long").as("doc_id"),
        pmod(col("id"), lit(100)).cast("int").as("idx"),
        (pmod(col("id"), lit(100)) * 1200L).as("offset"), lit(1200L).as("size"),
        (pmod(col("id"), lit(100)) * 33L).as("dts_ms"),
        // ctts-ish reorder: ±33ms swing by position parity
        (pmod(col("id"), lit(100)) * 33L + when(pmod(col("id"), lit(2)) === 0, 33L).otherwise(0L)).as("pts_ms"),
        (pmod(col("id"), lit(10)) === 0).as("is_sync"))
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    axis("mp4map") {
      for (m <- Seq(1, 8, 64)) {
        val docs = 1000L * m
        val sm = syntheticSamples(docs)
        val (sel, selN) = best(operators.Multimodal.selectFramesEvery(sm, 300L).count())
        val (key, keyN) = best(operators.Multimodal.selectKeyframesEvery(sm, 300L).count())
        println(f"[decade] mp4map ${m}%2dx docs=$docs%6d samples=${docs * 100}%8d " +
          f"select=$sel%7.2f s ($selN%8d) keyframes=$key%7.2f s ($keyN%8d)")
        sm.unpersist()
      }
    }

    // r14: web ingest at 64× — record-count, body-size, and
    // ADVERSARIAL axes. The WARC walk is per-file linear by
    // construction; what must show here is (a) linear scaling on
    // both record count and body size (plain and .warc.gz), (b) the
    // 64 KiB lineEnd cap pricing a hostile no-CRLF file by the CAP,
    // not the file size, and (c) the gzip bomb cap pricing a
    // decompression bomb by the 256 MiB cap, not its claimed size.
    {
      import org.apache.spark.sql.{Dataset, Encoders}
      implicit val encM: org.apache.spark.sql.Encoder[operators.Multimodal.MediaRow] =
        Encoders.product[operators.Multimodal.MediaRow]
      def gzipOf(b: Array[Byte]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream(b.length / 4 + 64)
        val g = new java.util.zip.GZIPOutputStream(bos); g.write(b); g.close()
        bos.toByteArray
      }
      def warcs(files: Long, recs: Int, bodyWords: Int,
                gz: Boolean): Dataset[operators.Multimodal.MediaRow] =
        spark.range(files).as(Encoders.scalaLong).mapPartitions(_.map { id =>
          val bos = new java.io.ByteArrayOutputStream(recs * (bodyWords * 2 + 256))
          for (r <- 0 until recs) {
            val html = s"<html><body><p>doc $id rec $r ${"w " * bodyWords}</p>" +
              s"""<a href="http://h${id % 97}.com/p">x</a></body></html>"""
            val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
            bos.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://h${id % 97}.com/p/$r\r\n" +
              s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n")
              .getBytes("US-ASCII"))
          }
          val raw = bos.toByteArray
          operators.Multimodal.MediaRow(id, "warc", if (gz) gzipOf(raw) else raw)
        }).repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      // extraction aggregates the RESULT length (a bare count would
      // prune the htmlToText projection; the warcResponses decode
      // itself is mapPartitions and always runs)
      def extractChars(w: Dataset[operators.Multimodal.MediaRow]): Long =
        operators.Multimodal.warcResponses(w).toDF()
          .agg(sum(length(graft.functions.WebFunctions.htmlToText(col("body")))))
          .first().getLong(0)
      axis("warcrecords") {
        for (m <- Seq(1, 8, 64)) {
          val w = warcs(200L * m, recs = 10, bodyWords = 60, gz = false)
          val (rec, recN) = best(operators.Multimodal.warcRecords(w).count())
          val (ext, extN) = best(extractChars(w))
          val wg = warcs(200L * m, recs = 10, bodyWords = 60, gz = true)
          val (recG, _) = best(operators.Multimodal.warcRecords(wg).count())
          println(f"[decade] warc ${m}%2dx files=${200 * m}%6d records=$rec%7.2f s ($recN%8d) " +
            f"extract=$ext%7.2f s ($extN%10d chars) gz_records=$recG%7.2f s")
          w.unpersist(); wg.unpersist()
        }
      }
      axis("warcbody") {
        for (m <- Seq(1, 8, 64)) {
          val w = warcs(400L, recs = 10, bodyWords = 60 * m, gz = false)
          val (ext, extN) = best(extractChars(w))
          println(f"[decade] warcbody ${m}%2dx words=${60 * m}%6d extract=$ext%7.2f s ($extN%10d chars)")
          w.unpersist()
        }
      }
      // r16: the COMPOSED 4-facet ingest at the 8x probe scale —
      // separate operator calls re-parse the archive bytes once per
      // facet; the shared warcFacets walk parses ONCE and each facet
      // is a projection of the persisted facet frame. Measured on the
      // REAL archive wire shape — .warc.gz with substantive bodies —
      // where each extra pass pays the gunzip + record walk again
      // (tiny plain-text archives underprice re-parsing: the walk is
      // then cheaper than the persist round-trip). The single-pass
      // path must come in ≥ ~2x cheaper on the composed job.
      axis("warcfacets") {
        // varied-token bodies: constant-word filler gzips to almost
        // nothing, making the re-parse cost invisible under job
        // overhead — real page text does not
        val w = spark.range(3200L).as(Encoders.scalaLong).mapPartitions(_.map { id =>
          val bos = new java.io.ByteArrayOutputStream(1 << 20)
          for (r <- 0 until 50) {
            val words = (0 until 200).map(j => s"w${(id * 977 + r * 131 + j) % 9973}")
              .mkString(" ")
            val html = s"<html><body><p>doc $id rec $r $words</p>" +
              s"""<a href="http://h${id % 97}.com/p">x</a></body></html>"""
            val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
            bos.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://h${id % 97}.com/p/$r\r\n" +
              s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n")
              .getBytes("US-ASCII"))
          }
          operators.Multimodal.MediaRow(id, "warc", gzipOf(bos.toByteArray))
        }).repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
        def consume(cdx: DataFrame, red: DataFrame, rev: DataFrame,
                    resp: DataFrame): Long =
          cdx.count() + red.count() + rev.count() +
            resp.agg(sum(length(col("body")))).first().getLong(0)
        val (separate, _) = best(consume(
          operators.Multimodal.warcCdx(w).toDF(),
          operators.Multimodal.warcRedirects(w).toDF(),
          operators.Multimodal.warcRevisits(w).toDF(),
          operators.Multimodal.warcResponses(w).toDF()))
        // the shared-walk job: ONE scan, every facet consumed in the
        // same pass (the multi-output production shape persists or
        // writes the facet frame instead; a persist of the wide
        // body-bearing rows costs about what the saved re-parses
        // save at memory speed — at 100 TB the saved SOURCE READS
        // are the win, 4 scans → 1)
        val (shared, _) = best {
          val f = operators.Multimodal.warcFacets(w).toDF()
          val r = f.agg(
            count(lit(1)),
            sum(when(col("http_status").between(300, 399) &&
              col("location") =!= "", 1L).otherwise(0L)),
            sum(when(lower(col("warc_type")) === "revisit" &&
              col("payload_digest") =!= "", 1L).otherwise(0L)),
            sum(when(col("has_text"), length(col("body"))).otherwise(0L))).first()
          r.getLong(0) + r.getLong(1) + r.getLong(2) + r.getLong(3)
        }
        println(f"[decade] warcfacets composed-4-facet separate=$separate%7.2f s " +
          f"shared-walk=$shared%7.2f s (${separate / shared}%4.1fx)")
        w.unpersist()
      }
      // r16: `.warc.zst` ingest — the modern archive compression must
      // parse at .warc.gz-class cost (the zstd core is faster than
      // DEFLATE; the walk adds only the dictionary scan), and the
      // serving-grade member walk (warcCdxMembers) must stay within a
      // small constant of the plain index pass. Both codecs over the
      // SAME record stream, 1× and 8×.
      axis("warczstd") {
        def records(id: Long): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream(1 << 18)
          for (r <- 0 until 50) {
            val words = (0 until 120).map(j => s"w${(id * 977 + r * 131 + j) % 9973}")
              .mkString(" ")
            val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
              s"<html><body><p>doc $id rec $r $words</p></body></html>"
            bos.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://h${id % 97}.com/p/$r\r\n" +
              s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n")
              .getBytes("US-ASCII"))
          }
          bos.toByteArray
        }
        val dict = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><body><p>doc")
          .getBytes("US-ASCII")
        def zstOf(b: Array[Byte]): Array[Byte] = {
          // one frame per record against the shared dict (the
          // warc-zstd layout): re-walk the plain records to split
          val recs = operators.WebArchive.warcRecords(b).get
          val bos = new java.io.ByteArrayOutputStream(b.length / 3 + 64)
          def le32(v: Int): Unit = {
            bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
            bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff)
          }
          le32(0x184D2A5D); le32(dict.length); bos.write(dict)
          val ctx = new com.github.luben.zstd.ZstdCompressCtx()
          try {
            ctx.setLevel(3); ctx.loadDict(dict)
            recs.indices.foreach { i =>
              val from = recs(i).headerOffset.toInt
              val until = if (i + 1 < recs.length) recs(i + 1).headerOffset.toInt else b.length
              bos.write(ctx.compress(java.util.Arrays.copyOfRange(b, from, until)))
            }
          } finally ctx.close()
          bos.toByteArray
        }
        for (m <- Seq(1, 8)) {
          def mk(f: Array[Byte] => Array[Byte]) =
            spark.range(400L * m).as(Encoders.scalaLong)
              .mapPartitions(_.map(id =>
                operators.Multimodal.MediaRow(id, "warc", f(records(id)))))
              .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
          val gz = mk(gzipOf)
          val zst = mk(zstOf)
          val (tGz, nGz) = best(operators.Multimodal.warcCdx(gz).toDF().count())
          val (tZst, nZst) = best(operators.Multimodal.warcCdx(zst).toDF().count())
          val (tMem, nMem) = best(
            operators.Multimodal.warcCdxMembers(zst).toDF()
              .where(col("member_idx") >= 0).count())
          println(f"[decade] warczstd ${m}%2dx files=${400 * m}%6d " +
            f"cdx-gz=$tGz%6.2f s cdx-zst=$tZst%6.2f s members-zst=$tMem%6.2f s " +
            f"(rows $nGz%8d/$nZst%8d/$nMem%8d)")
          gz.unpersist(); zst.unpersist()
        }
      }
      // r15: revisit-heavy archives (the real CommonCrawl mix is ~1/3
      // revisits, and popular pages concentrate MANY revisits on ONE
      // digest): resolution must stay linear in records — one keeper
      // agg + one digest-keyed join; dangling revisits (digest never
      // captured) must drop, never error. Per file: 3 originals + 6
      // revisits, digests shared across files (keeper collapse binds)
      // with ~1/7 of revisit digests dangling.
      def revisitWarcs(files: Long): Dataset[operators.Multimodal.MediaRow] =
        spark.range(files).as(Encoders.scalaLong).mapPartitions(_.map { id =>
          val bos = new java.io.ByteArrayOutputStream(9 * 512)
          def rec(tpe: String, uri: String, digest: String, body: String): Unit = {
            val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
            bos.write((s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: $uri\r\n" +
              s"WARC-Payload-Digest: $digest\r\n" +
              s"Content-Length: ${http.length}\r\n\r\n$http\r\n\r\n").getBytes("US-ASCII"))
          }
          for (r <- 0 until 9) {
            if (r % 3 == 0)
              rec("response", s"http://h${id % 97}.com/p/$r",
                s"sha1:D${(id * 3 + r) % 997}", s"<p>original $id $r body text here</p>")
            else
              rec("revisit", s"http://h${id % 97}.com/r/$r",
                s"sha1:D${((id * 9 + r) * 7) % 1150}", "")
          }
          operators.Multimodal.MediaRow(id, "warc", bos.toByteArray)
        }).repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      axis("warcrevisit") {
        for (m <- Seq(1, 8, 64)) {
          val w = revisitWarcs(200L * m)
          val (t, n) = best {
            operators.Multimodal.resolveRevisits(
              operators.Multimodal.warcResponses(w).toDF(),
              operators.Multimodal.warcRevisits(w).toDF()).count()
          }
          println(f"[decade] warcrevisit ${m}%2dx files=${200 * m}%6d " +
            f"resolve=$t%7.2f s ($n%8d resolved of ${1200 * m}%8d revisits)")
          w.unpersist()
        }
      }
      // r15: redirect-chain resolution at 64× edge volume — pointer
      // jumping is `rounds` dim-keyed self-joins, so the curve must
      // be linear in edges with a flat round count; the mix includes
      // chains of length 1-7 AND a 2-cycle per 50 sources (cycles
      // must surface as terminal=false, never spin).
      axis("redirects") {
        for (m <- Seq(1, 8, 64)) {
          val nSrc = 20000L * m
          val groups = nSrc / 8
          // each 8-id group is one FULL 8-hop chain u_g_8→…→u_g_1→t_g
          // (rounds=4 reaches 16); every 50th group adds a 2-cycle
          val ed = spark.range(nSrc).selectExpr(
            "concat('u', id div 8, '_', id % 8 + 1) AS src",
            "CASE WHEN id % 8 = 0 THEN concat('t', id div 8) " +
              "ELSE concat('u', id div 8, '_', id % 8) END AS dst")
            .unionByName(spark.range(groups / 50).selectExpr(
              "concat('c', id, '_x') AS src", "concat('c', id, '_y') AS dst"))
            .unionByName(spark.range(groups / 50).selectExpr(
              "concat('c', id, '_y') AS src", "concat('c', id, '_x') AS dst"))
            .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
          val (t, n) = best(operators.Redirects.resolve(ed, rounds = 4)
            .where(col("terminal")).count())
          println(f"[decade] redirects ${m}%2dx edges=${nSrc + 2 * (groups / 50)}%8d " +
            f"resolve=$t%7.2f s ($n%8d terminal of ${nSrc + 2 * (groups / 50)}%8d)")
          ed.unpersist()
        }
      }
      // r16: redirect-resolution APPLY at 64× page volume — the
      // resolution map stays DIM-sized (100k sources, resolved once
      // outside the loop) and broadcasts; re-keying the corpus must be
      // linear in pages (one map-side join + the dedup agg, the page
      // side never shuffles on its raw key).
      axis("redirectapply") {
        val applyEd = spark.range(100000L).selectExpr(
          "concat('http://h', id % 997, '.com/old/', id) AS src",
          "concat('http://h', id % 997, '.com/p/', id % 20000) AS dst")
          .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
        val resolved = operators.Redirects.resolve(applyEd, rounds = 3)
          .localCheckpoint(true)
        for (m <- Seq(1, 8, 64)) {
          val nPages = 20000L * m
          // 1/4 of pages sit on a historical spelling that must re-key
          val pages = spark.range(nPages).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 4 = 0 THEN concat('http://h', (id * 5) % 997, '.com/old/', (id * 5) % 100000) " +
              "ELSE concat('http://h', id % 997, '.com/p/', id % 20000) END AS url_canon")
            .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
          val (t, n) = best(operators.Redirects.applyResolution(pages, resolved)
            .groupBy(col("url_final"))
            .agg(count(lit(1)).as("n"), sum(col("redirect_hops")).as("h")).count())
          println(f"[decade] redirectapply ${m}%2dx pages=$nPages%8d " +
            f"rekey+dedup=$t%7.2f s ($n%8d keys)")
          pages.unpersist()
        }
        applyEd.unpersist(); resolved.unpersist()
      }
      // hostile no-CRLF files: cost per file must track the 64 KiB
      // line cap, NOT the file size (8× bigger junk ≈ same wall)
      def junk(files: Long, mib: Int): Dataset[operators.Multimodal.MediaRow] =
        spark.range(files).as(Encoders.scalaLong).mapPartitions(_.map { id =>
          val b = new Array[Byte](mib << 20)
          java.util.Arrays.fill(b, 'A'.toByte)
          System.arraycopy("WARC/1.0\r\n".getBytes("US-ASCII"), 0, b, 0, 10)
          operators.Multimodal.MediaRow(id, "warc", b)
        }).repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
      axis("warcjunk") {
        for (mib <- Seq(1, 8)) {
          val j = junk(256, mib)
          val (t, n) = best(operators.Multimodal.warcRecords(j).count())
          println(f"[decade] warcjunk ${mib}%2d MiB x256 parse=$t%7.2f s ($n rows — cap binds, file size must not price it)")
          j.unpersist()
        }
      }
      // decompression bombs: claimed sizes 512 MiB and 1 GiB both
      // price at the 256 MiB inflation cap (few files — each bail
      // transiently holds up to the cap in memory)
      axis("warcbomb") {
        for (mib <- Seq(512, 1024)) {
          val bombs = spark.range(8).as(Encoders.scalaLong).mapPartitions(_.map { id =>
            val bos = new java.io.ByteArrayOutputStream(1 << 20)
            val g = new java.util.zip.GZIPOutputStream(bos)
            val zero = new Array[Byte](1 << 20)
            for (_ <- 0 until mib) g.write(zero)
            g.close()
            operators.Multimodal.MediaRow(id, "warc", bos.toByteArray)
          }).repartition(8).localCheckpoint(true)
          val (t, n) = best(operators.Multimodal.warcRecords(bombs).count())
          println(f"[decade] warcbomb claimed=${mib}%5d MiB x8 parse=$t%7.2f s ($n rows — 256 MiB cap prices it)")
          bombs.unpersist()
        }
      }
      // robots compliance at 64× URL volume: broadcast dim + per-task
      // parse memo ⇒ linear in URLs, flat in body size
      val robotsDim = spark.range(97).select(
        concat(lit("h"), col("id"), lit(".com")).as("host"),
        concat(lit("User-agent: *\n"),
          concat_ws("\n", sequence(lit(0), lit(99)).cast("array<string>")),
          lit("\nDisallow: /private/\nAllow: /private/ok")).as("robots"))
        .localCheckpoint(true)
      axis("robots") {
        for (m <- Seq(1, 8, 64)) {
          val urls = spark.range(20000L * m).select(
            concat(lit("h"), pmod(col("id"), lit(97)), lit(".com")).as("host"),
            when(pmod(col("id"), lit(3)) === 0, concat(lit("/private/"), col("id")))
              .otherwise(concat(lit("/p/"), col("id"))).as("path"))
            .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
          val (t, n) = best(urls.join(broadcast(robotsDim), "host")
            .where(functions.Kernels.robotsAllowed(col("robots"), lit("bot"), col("path")))
            .count())
          println(f"[decade] robots ${m}%2dx urls=${20000 * m}%8d check=$t%7.2f s ($n%8d allowed)")
          urls.unpersist()
        }
      }
      // mainContent boilerplate scoring over the salted corpus pages
      // (aggregate over the RESULT length — a bare count() would let
      // the optimizer prune the whole scoring projection away)
      axis("maincontent") {
        for (m <- Seq(1, 8, 64)) {
          val c = corpus(m)
          val pages = c.select(
            concat(lit("<html><body><div class=\"nav\"><a href=\"/a\">one</a> " +
              "<a href=\"/b\">two</a></div><p>"), col("text"),
              lit("</p><div>short</div></body></html>")).as("html"))
          val (t, n) = best(pages.agg(
            sum(length(graft.functions.WebFunctions.mainContent(col("html")))))
            .first().getLong(0))
          println(f"[decade] maincontent ${m}%2dx chars=$n%10d score=$t%7.2f s")
          c.unpersist()
        }
      }
    }

    // r14: host-graph PageRank at 10⁴ → 10⁵ → 10⁶ hosts (×8 organic
    // out-edges, plus ONE supernode with n/10 out-links that the
    // k-bounded heap cap must absorb without blowing an aggregation
    // buffer). The per-iteration work is two host-keyed hash
    // shuffles; past the fixed stage latency the curve must go
    // linear in |edges|.
    axis("linkrank") {
      for (n <- Seq(10000L, 100000L, 1000000L)) {
        val organic = spark.range(n * 8).selectExpr(
          s"concat('h', id div 8) AS src",
          s"concat('h', (id * 2654435761) % $n) AS dst")
        val hub = spark.range(n / 10).selectExpr(
          "'hub.example' AS src", s"concat('h', id % $n) AS dst")
        val e = organic.unionByName(hub)
          .repartition(spark.sparkContext.defaultParallelism).localCheckpoint(true)
        val t0 = System.nanoTime()
        val ranks = operators.LinkRank.hostRank(e, iterations = 3, maxOutDegree = 16)
        val built = (System.nanoTime() - t0) / 1e9
        val rows = ranks.count()
        val hubDeg = ranks.where(col("host") === "hub.example")
          .select("outdeg").collect()(0).getLong(0)
        println(f"[decade] linkrank hosts=$n%8d rank3iters=$built%7.2f s ($rows%8d hosts, hub outdeg=$hubDeg — cap binds)")
        ranks.unpersist(); e.unpersist()
      }
    }

    // IVF build + self-serve at 16k → 128k → 1M vectors: the bounded
    // 100k training sample must hold the BUILD near-flat past 128k
    // while assignment/serving stays linear
    axis("ivf") {
      for (n <- Seq(16000L, 128000L, 1000000L)) {
        val e = syntheticEmb(n)
        val probes = e.filter(pmod(col("vec_id"), lit(100L)) === 0).limit(1000)
          .localCheckpoint(true)
        val tBuild = {
          val t0 = System.nanoTime()
          operators.Similarity.ivfCentroids(e, "vec_id", "embedding", nList = 64, iters = 2)
          (System.nanoTime() - t0) / 1e9
        }
        val (serve, served) = best(operators.Similarity.ivfJoin(
          probes, e, "vec_id", "embedding", k = 10, nList = 64, nProbe = 8).count())
        println(f"[decade] ivf n=$n%8d build=$tBuild%7.2f s serve(1k probes)=$serve%7.2f s ($served%7d rows)")
        e.unpersist(); probes.unpersist()
      }
    }

    // The heavy dedup/ANN operators on 1×/2×/8× ORGANIC replicas: every
    // curve must grow ~linearly (bucketed, never quadratic). Several of
    // these operators are uncapped, so they read organicDocs, never the
    // mass-duplicate corpus.
    axis("curves") {
      import operators.{Chunking, Dedup, Packing, Profile, QualityRules, TextSim}
      val src = spark.read.parquet(s"${args(0)}/documents.parquet")
      for (m <- Seq(1, 2, 8)) {
        val d = ScaleCorpus.organicDocs(src, m)
        // probe count held constant: one per 1000 docs of replica 0
        val probes = d.filter(pmod(col("doc_id"), lit(1000L)) === 0 && col("doc_id") < ScaleCorpus.Stride)
        val ops = Seq[(String, () => Long)](
          "ngram_jaccard" -> (() => Dedup.ngramJaccardPairs(
            d, "doc_id", "text", n = 3, num = 1, den = 10, maxShingleFreq = 1000L).count()),
          "minhash_lsh" -> (() => Dedup.minhashLshCandidates(d, "doc_id", "text", n = 3, k = 8, bands = 2).count()),
          "simhash32" -> (() => Dedup.simhashPairs(d, "doc_id", "text", n = 3, maxHamming = 3).count()),
          "simhash63" -> (() => Dedup.simhashPairs63(d, "doc_id", "text", n = 3, maxHamming = 3).count()),
          "components" -> (() => Dedup.connectedComponents(
            Dedup.minhashLshCandidates(d, "doc_id", "text", n = 3, k = 8, bands = 2), "da", "db").count()),
          "tfidf" -> (() => TextSim.tfidfCosinePairs(
            d, "doc_id", "text", tNum = 9, tDen = 10, maxTermDocs = 1000L).count()),
          "pack" -> (() => Packing.packOffsets(spark, Chunking.chunk(d, "doc_id", "text", 64, 16),
            "doc_id", "chunk_idx", "n_tokens", budget = 2048L, buckets = 32).count()),
          "spans" -> (() => Dedup.repeatedSpans(d, "doc_id", "text", n = 5, minDocs = 2L).count()),
          // round 8: CDC chunking is a pure map; BM25 is posting-bound;
          // KMV and sample quantiles are k-bounded aggregations
          "cdc" -> (() => Chunking.cdcChunks(d, "doc_id", "text", avgWords = 16).count()),
          "bm25" -> (() => TextSim.bm25TopK(
            d, "doc_id", "text", probes, "doc_id", "text", k = 10, maxTermDocs = 1000L).count()),
          "kmv" -> (() => Profile.distinctKmv(d, Seq("source"), "text", k = 64).count()),
          "squant" -> (() => Profile.sampleQuantiles(d, Seq("source"), "doc_id", "n_chars", k = 256).count()),
          // round 9: bigram-LM scoring (count shuffles + join back), and
          // the stateful LSH batch drive whose maxBucket guard must hold
          "lm" -> (() => QualityRules.bigramLmScore(d, "doc_id", "text").count()),
          "neardup_stateful" -> (() => streaming.StatefulOps.streamingNearDupCandidates(
            d, "doc_id", "text", n = 3, k = 8, bands = 2, maxBucket = 1000).toDF().count()))
        println(f"[decade] curves ${m}x docs=${d.count()}%7d " +
          ops.map { case (k, f) => f"$k=${best(f())._1}%6.2f" }.mkString(" "))
        d.unpersist()
      }
    }

    // 10% of docs share ONE boilerplate text, so the shared band bucket
    // grows linearly and UNCAPPED candidate volume quadratically: the
    // band-occupancy cap (star-pairing to the bucket min) must hold
    // output linear; on simhash the identical-fingerprint cluster makes
    // the plain blocked join quadratic and the collapsed variant must
    // star-pair it
    axis("massdup") {
      import operators.Dedup
      for (m <- Seq(1, 2, 8)) {
        val d = corpus(m)
        def lsh(cap: Long) = best(Dedup.minhashLshCandidates(
          d, "doc_id", "text", n = 3, k = 8, bands = 2, maxBandOccupancy = cap).count())
        val (tU, nU) = lsh(Long.MaxValue)
        val (tC, nC) = lsh(1000L)
        val (tP, nP) = best(Dedup.simhashPairs63(d, "doc_id", "text", n = 3, maxHamming = 3).count())
        val (tS, nS) = best(Dedup.simhashPairs63Collapsed(d, "doc_id", "text", n = 3, maxHamming = 3).count())
        println(f"[decade] massdup ${m}x uncapped=$tU%6.2f s ($nU%9d pairs) capped@1000=$tC%6.2f s ($nC%9d pairs) " +
          f"simhash63=$tP%6.2f s ($nP%9d pairs) collapsed=$tS%6.2f s ($nS%9d pairs)")
        d.unpersist()
      }
    }

    // common spans on the mass-dup corpus: each boilerplate shingle
    // occurs in 0.1·n docs, so UNCAPPED pair volume is quadratic
    // (measured at 1×/2× only); maxDocsPerShingle=50 must hold output
    // and runtime near-linear
    axis("cspans") {
      for (m <- Seq(1, 2, 8)) {
        val d = corpus(m)
        def spans(cap: Long) = best(operators.Dedup.commonSpans(
          d, "doc_id", "text", n = 5, minSpan = 8, maxDocsPerShingle = cap).count())
        val (tC, nC) = spans(50L)
        val unc = if (m > 2) "uncapped=skipped(quadratic)"
          else { val (tU, nU) = spans(Long.MaxValue); f"uncapped=$tU%6.2f s ($nU%9d spans)" }
        println(f"[decade] cspans ${m}x capped@50=$tC%6.2f s ($nC%9d spans) $unc")
        d.unpersist()
      }
    }

    // pathological-chain components: a 20k-vertex path graph has
    // diameter 20k, so pure min-label propagation would need 20k rounds;
    // the auto-switch hands it to star contraction after `switchAfter`
    // rounds. prop-only stops at maxIters unconverged: its time is the
    // per-round cost the switch avoids.
    axis("chain") {
      val chain = spark.range(0L, 20000L).select(col("id").as("da"), (col("id") + 1).as("db"))
        .localCheckpoint(true)
      for ((switchAfter, label) <- Seq(5 -> "auto-switch", 60 -> "prop-only")) {
        var st: operators.Dedup.CcStats = null
        val t = time {
          val (out, s) = operators.Dedup.connectedComponentsWithStats(
            chain, "da", "db", maxIters = 60, switchAfter = switchAfter)
          st = s
          out.count()
        }
        println(f"[decade] chain $label%-12s $t%6.2f s " +
          s"(propRounds=${st.propRounds} switched=${st.switchedToStar})")
      }
    }

    // ANN serving shape: (a) ONE hot probe over a growing corpus, the
    // SAME materialized candidate frame selected by the k-bounded
    // graft_topk aggregate vs a row_number() window (the window funnels
    // the probe's whole candidate list through one task's sort, the
    // aggregate partial-combines to k rows per partition); (b) the
    // shipped ivfJoin at 1/32/1024 probes on a fixed corpus: the index
    // build is the constant term, probe cost must grow ~linearly
    axis("annsel") {
      import org.apache.spark.sql.expressions.Window
      import operators.Similarity
      import functions.{Kernels, TopK}
      for (m <- Seq(1, 2, 8)) {
        val corpus = ScaleCorpus.embeddings(spark, 32000L * m, boilerplate = false)
        val unit = Similarity.unitNorm(
          Similarity.ivfCentroids(corpus, "vec_id", "embedding", nList = 16, iters = 2))
        val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
          .withColumn("list", Kernels.ivfAssign(col("nvec"), unit))
        val pLists = corpus.filter(col("vec_id") === 3L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            posexplode(Kernels.ivfScores(col("embedding"), unit)).as(Seq("c", "s")))
          .orderBy(col("s").desc, col("c").asc).limit(4)
          .select(col("qid"), col("qvec"), col("c").as("list"))
        val cand = pLists.join(c, Seq("list")).filter(col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"), Kernels.vecDot(col("qvec"), col("nvec")).as("cos"))
          .localCheckpoint(true)
        val nCand = cand.count()
        val (tAgg, _) = best(cand.groupBy("qid").agg(TopK.topkPairsDouble(col("cos"), col("nid"), 10).as("tk"))
          .select(explode(col("tk"))).count())
        val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
        val (tWin, _) = best(cand.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10).count())
        println(f"[decade] annsel ${m}x cand=$nCand%8d agg=$tAgg%6.2f s window=$tWin%6.2f s")
        corpus.unpersist()
      }
      val corpus = ScaleCorpus.embeddings(spark, 256000L, boilerplate = false)
      for (p <- Seq(1, 32, 1024)) {
        val probes = corpus.filter(pmod(col("vec_id"), lit(256000L / p)) === 3L).localCheckpoint(true)
        val (t, _) = best(Similarity.ivfJoin(probes, corpus, "vec_id", "embedding",
          k = 10, nList = 16, nProbe = 4).count())
        println(f"[decade] annserve probes=${probes.count()}%5d ivfJoin=$t%6.2f s")
      }
    }

    // k-bounded top-k vs window rank on ONE hot key: both scan n rows,
    // but the window funnels the hot key through a single task's sort
    // while the aggregate partial-combines to k rows per partition
    axis("topk") {
      import org.apache.spark.sql.expressions.Window
      for (m <- Seq(1, 2, 8)) {
        val n = 1000000L * m
        val d = spark.range(n).select(
          when(pmod(col("id"), lit(100)) === 0, concat(lit("src"), pmod(col("id"), lit(7))))
            .otherwise(lit("hot")).as("source"),
          col("id"), pmod(col("id") * 2654435761L, lit(1000000L)).as("score"))
          .localCheckpoint(true)
        val (tAgg, _) = best(operators.Sampling.capPerGroup(d, "source", col("score"), "id", k = 100).count())
        val w = Window.partitionBy("source").orderBy(col("score").desc, col("id").asc)
        val (tWin, _) = best(d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 100).count())
        println(f"[decade] topk ${m}x rows=$n%9d agg=$tAgg%6.2f s window=$tWin%6.2f s")
      }
    }

    // vector-LSH bucket cap on the duplicated embedding family (10% of
    // 16k vectors share one direction): capped holds candidate volume
    // flat where uncapped goes quadratic; candidate volume must drop
    // geometrically as signature planes grow (2^(planes/tables) bucket
    // values per table); the shipped lshTopK must carry the cap; IVF
    // assign/score kernels must hold as nList grows
    axis("embcap") {
      import operators.Similarity
      val emb = syntheticEmb(16000L)
      def line(label: String)(f: => Long): Unit = {
        val (t, n) = best(f)
        println(f"[decade] embcap $label%-28s $n%10d rows in $t%6.2f s")
      }
      for ((label, cap) <- Seq("lsh uncapped" -> Long.MaxValue, "lsh capped@1000" -> 1000L))
        line(label)(Similarity.lshCandidates(emb, "vec_id", "embedding", maxBucket = cap).count())
      for (p <- Seq(16, 32, 60))
        line(s"lsh planes=$p tables=4")(Similarity.lshCandidates(
          emb, "vec_id", "embedding", planes = p, tables = 4).count())
      for ((label, cap) <- Seq("lshTopK capped@1000" -> 1000L, "lshTopK uncapped" -> Long.MaxValue))
        line(label)(Similarity.lshTopK(emb, "vec_id", "embedding", k = 10, maxBucket = cap).count())
      for (nl <- Seq(16, 64, 256))
        line(s"ivfTopK nList=$nl nProbe=${nl / 4}")(Similarity.ivfTopK(
          emb, "vec_id", "embedding", k = 10, nList = nl, nProbe = nl / 4).count())
      emb.unpersist()
    }
    spark.stop()
  }
}
