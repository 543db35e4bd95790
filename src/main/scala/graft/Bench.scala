package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Per-query timing protocol: one untimed warmup rep (absorbs codegen,
    * parquet footer reads, shuffle-service spin-up), then `REPS` timed
    * warm reps, reporting the MEDIAN — so a single GC pause or host
    * hiccup can't masquerade as a plan regression (this made r3/r4
    * cross-round comparisons unadjudicable). Entries whose first pass
    * is small (median under `SUBSEC_THRESH` seconds, default 1.75) OR
    * unstable (min under the threshold, or a >1.5× max/min spread —
    * the cold-JIT-spike signature) extend to `SUBSEC_REPS` (default 7)
    * total reps: under ~2 s the measured 20–30 % run-to-run noise band
    * exceeds the 1.5× regression threshold's headroom, and median-of-3
    * let the same small queries get re-adjudicated as noise three
    * rounds running (r8–r10 `dd_snapshot_diff`; the r11 shakedown
    * caught `ta_cdc_chunk` flipping 0.96↔1.51 s and a cold-storm
    * `ta_doc_rules_apply` median of 3.26 s against a 0.75 s steady
    * state). Cost: ~50 s per full run, paid a handful of times per
    * round.
    *
    * r12 hardening, after the r11 warm-state artifact (official total
    * inflated 1.41x by 9 entries measuring warm reps at cold cost —
    * judge-isolated to suite-level JVM state, not plans): the JVM now
    * runs with ReservedCodeCacheSize=1g (build.sbt) so JIT'd generated
    * code survives 164-query x 7-rep class variety; Spark's Janino
    * class cache is raised from its 100-entry default; cached plans are
    * cleared and a GC is nudged between entries; and bench_out.json
    * records per-query min + raw samples so a median≫min gap (the
    * artifact's signature) is visible in the output itself.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val subsecReps = sys.env.getOrElse("SPARK_GRAFT_SUBSEC_REPS", "7").toInt.max(reps)
    val subsecThresh = sys.env.getOrElse("SPARK_GRAFT_SUBSEC_THRESH", "1.75").toDouble
    val spark = GraftSession.local()
    // warm the JVM (codegen, parquet reader, shuffle paths) so the first
    // query's warmup rep doesn't also pay session startup; touch every
    // table so no query pays the first footer read for its input
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect())
    val errors = scala.collection.mutable.ListBuffer[String]()
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) } catch {
        case t: Throwable =>
          // a failing query must be loud, not a suspiciously fast entry
          System.err.println(s"[bench] $name FAILED: ${t.getMessage}")
          None
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    // a query that fails its warmup is OMITTED from the queries map
    // (never recorded as 0.0 — a zero reads as "suspiciously fast" in
    // cross-round diffs and silently skews totals low); it is only
    // listed in errors.
    // All reps of an entry (warmup + timed + escalation) run as ONE
    // contiguous block — nothing else executes between them, so a warm
    // rep measuring at cold cost can only be a JVM-level artifact
    // (r11: JIT code-cache flushing), never interleaving.
    // Per-entry we keep the full sample vector: the official number is
    // the warm MEDIAN, but bench_out.json also records min and the raw
    // samples, making the cold-vs-warm gap (the r11 artifact's
    // signature) self-diagnosing in every future run.
    case class Entry(med: Double, min: Double, samples: Seq[Double])
    val results: Map[String, Option[Entry]] = SparkEntry.queries.map { case (name, fn) =>
      val r = timeOnce(name, fn) match { // untimed-for-reporting warmup rep
        case None =>
          errors += name
          name -> (None: Option[Entry])
        case Some(cold) =>
          val first = (1 to reps).flatMap(_ => timeOnce(name, fn))
          // if warm reps start failing after a green warmup, stay loud
          if (first.length < reps) errors += name
          // extend to subsecReps total when the first pass is either
          // small (median under the threshold) or UNSTABLE — min under
          // the threshold with a median above it, or a >1.5x spread,
          // is the cold-JIT-spike signature (r11: ta_doc_rules_apply
          // measured 3.26 s median-of-3 in one run and 0.36 s in the
          // next; its warm steady state is ~0.75 s) — the extra reps
          // let the median converge to the warm value
          val unstable = first.nonEmpty &&
            (first.min < subsecThresh || first.max / math.max(first.min, 1e-9) > 1.5)
          val warm =
            if (first.nonEmpty && unstable && subsecReps > reps)
              first ++ (1 to (subsecReps - reps)).flatMap(_ => timeOnce(name, fn))
            else first
          val timed = if (warm.nonEmpty) warm else Seq(cold)
          name -> Some(Entry(median(timed), timed.min, cold +: warm))
      }
      // Inter-entry hygiene: drop any cached plans a query leaked and
      // nudge the collector so ContextCleaner reclaims accumulated
      // broadcasts/shuffle state before the next entry — suite position
      // must not change what an entry measures.
      try spark.sharedState.cacheManager.clearCache()
      catch { case _: Throwable => () }
      System.gc()
      r
    }
    // The driver captures a bounded stdout TAIL: r8 lost 92/153 per-query
    // timings because the (single, last) JSON line was longer than the
    // captured tail and its head was cut. Two defenses: (a) the stdout
    // line rounds seconds to 0.1 ms so the whole 153-query map fits well
    // inside any plausible tail buffer; (b) the full-precision JSON is
    // also written to bench_out.json next to the process cwd, which a
    // reader can always parse whole.
    // Locale.ROOT: the f-interpolator honors the default locale, and a
    // comma-decimal locale (de_DE, fr_FR) would render 1,2345 — breaking
    // the JSON line this very function exists to keep parseable
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
        .reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
    val qs = results.collect { case (k, Some(v)) => s"\"" + k + "\":" + fmt(v.med) }
      .mkString("{", ",", "}")
    val qsFull = results.collect { case (k, Some(v)) => s"\"" + k + "\":" + v.med }
      .mkString("{", ",", "}")
    // self-diagnosis payloads (file only — stdout stays tail-sized):
    // per-query min, and the raw sample vectors (warmup first). A
    // median far above its min is the warm-state artifact's signature.
    val qsMin = results.collect { case (k, Some(v)) => s"\"" + k + "\":" + v.min }
      .mkString("{", ",", "}")
    val qsSamples = results.collect { case (k, Some(v)) =>
      s"\"" + k + "\":" + v.samples.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.flatten.map(_.med).sum
    val totalMin = results.values.flatten.map(_.min).sum
    val protocol = s"median-of-$reps-warm;lt${subsecThresh}s-median-of-$subsecReps"
    // ONE self-contained JSON line with EVERYTHING (metric, value,
    // total_min, n_queries, queries, errors, sf, protocol), printed
    // LAST. The r15/r16 two-line format (big queries line first, small
    // summary line second) left the driver's bounded stdout tail
    // holding only the summary line — which has no "queries" key — so
    // per-query comparison and scaling were blind for two rounds
    // (PERF_r16 per_query:{}, VERDICT r16 item #1). The queries map
    // sits before the trailing errors/sf/protocol fields so that even
    // a head-truncating tail capture retains a parseable suffix of
    // per-query entries plus the full metadata; bench_out.json next to
    // the cwd always holds the complete full-precision record
    // (medians + mins + raw sample vectors).
    def line(q: String, t: String): String =
      s"""{"metric":"total","value":$t,"unit":"sec","total_min":${fmt(totalMin)},"n_queries":${results.values.flatten.size},"queries":$q,"errors":$errJson,"sf":"$sfDir","protocol":"$protocol"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"),
      line(qsFull, total.toString).dropRight(1) +
        s""","mins":$qsMin,"samples":$qsSamples}""" + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}") }
    // stop BEFORE printing so no Spark shutdown log lands after the
    // JSON and eats the driver's bounded stdout-tail budget; a stop()
    // failure must not swallow the result line itself
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    println(line(qs, fmt(total)))
    System.out.flush()
  }
}
