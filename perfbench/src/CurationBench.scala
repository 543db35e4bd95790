package graftbench

import scala.collection.mutable

import org.apache.spark.BenchDrain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.SparkEntry

/** One warm pass over a fixed list of SparkEntry queries, each timed as
  * `fn(spark, dir).count()` (the action graft.Bench times). */
object CurationBench {

  /** A query, the table it reads (for the input-rows rate) and the scale
    * factor directory under the data directory that it reads from. */
  final case class Query(name: String, table: String, scale: String)

  val Queries: Seq[Query] = Seq(
    // job-bound: many small Spark jobs; driver time exceeds job time at either scale
    Query("dd_semdedup", "embeddings", "sf0.01"),
    // data-bound: at sf0.1 most of the wall time is inside Spark jobs
    Query("dd_ngram_jaccard", "documents", "sf0.1"), Query("ann_lsh_bucketed", "embeddings", "sf0.1"),
    // the firebolt batch path
    Query("fb_pipeline_tree", "events", "sf0.01"), Query("fb_syslog_parse", "events", "sf0.01"))

  val names: Seq[String] = Queries.map(_.name)
  /** nominal seconds of query time per pass on 4 cores */
  private val NominalPassS = 4.0
  private val byName = Queries.map(q => q.name -> q).toMap

  /** float columns rounded so the hash does not see last-bit summation order */
  private def canonical(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      val c: Column = f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(col(f.name), x => round(x.cast("double"), 6))
        case _ => col(f.name)
      }
      c.as(f.name)
    }: _*)

  def hash(df: DataFrame): (Long, String) = StreamBench.contentHash(canonical(df))

  def order(seed: Long): Seq[String] = {
    val a = names.toArray
    for (i <- a.indices.reverse) {
      val j = Gen.draw(seed, i.toLong, 99, i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean, dataDir: String,
      expectedPath: String, writeExpected: Boolean, sessionMs: Double, out: Report): StreamBench.Outcome = {
    val fns = SparkEntry.queries
    def dir(q: String) = s"$dataDir/${byName(q).scale}"
    val tables = Queries.map(q => s"$dataDir/${q.scale}/${q.table}.parquet").distinct
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"SparkEntry.queries lacks ${missing.mkString(", ")}")
    val seq = order(seed)
    out.line(s"query order: ${seq.mkString(" ")}")
    // set-up, several times: open every input table (footer and schema read)
    val setupNs = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => spark.read.parquet(t).schema)
      System.nanoTime() - t0
    }
    val setupS = sessionMs / 1000.0 + Stats.median(setupNs.map(_ / 1e9))
    out.phase(s"setup (reps ${setupNs.map(n => f"${n / 1e9}%.3f").mkString(", ")} s)")

    val counted = mutable.Map[String, Long]()
    // heap after a collection forced right after each query, while its
    // cached data is still held. A pass causes only about 3 collections of
    // its own, at points that vary from run to run; their peak is printed.
    val heap = new HeapProbe().install()
    val heapAfterQuery = mutable.ArrayBuffer[Double]()
    def timeOne(q: String): (Long, Long) = {
      val t0 = Clock.nowNs
      val rows = fns(q)(spark, dir(q)).count()
      val t1 = Clock.nowNs
      counted(q) = rows
      heapAfterQuery += heap.collect()
      // as graft.Bench does after every query: drop caches, let the
      // ContextCleaner release what a collection made unreachable
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      Thread.sleep(100)
      (t0, t1)
    }
    /** a fixed number of passes sized to `seconds`, so a faster or slower
      * host does the same work */
    def passes(afterEach: (String, Long, Long) => Unit): Seq[Map[String, Double]] =
      (0 until math.max(2, math.ceil(seconds / NominalPassS).toInt)).map { _ =>
        seq.map { q => val (a, b) = timeOne(q); afterEach(q, a, b); q -> (b - a) / 1e9 }.toMap
      }

    seq.foreach(timeOne) // warm-up pass: codegen and the JIT
    out.phase("warm-up pass")
    heap.reset()
    heapAfterQuery.clear()
    val plain = passes((_, _, _) => ())
    out.phase("measure")
    val heapPeak = heapAfterQuery.max
    val (anyPeak, gcs) = heap.peakMb

    // correctness gate, after the timed passes: each result's row count and
    // content hash against the expected file (checked against the DuckDB
    // oracle SQL, see README), and each timed count() against its row count
    val got = seq.map { q => val h = hash(fns(q)(spark, dir(q))); spark.sharedState.cacheManager.clearCache(); q -> h }.toMap
    if (writeExpected) {
      val body = names.map(q => s"""  "$q": {"rows": ${got(q)._1}, "hash": "${got(q)._2}"}""").mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(expectedPath), body)
      out.line(s"wrote $expectedPath")
    }
    val expected = ExpectedFile.read(expectedPath)
    var failed = 0L
    val notes = mutable.ArrayBuffer[String]()
    def check(q: String, what: String, ok: Boolean, detail: String): Unit = if (!ok) {
      failed += 1
      notes += s"$q: $what $detail"
      out.line(s"MISMATCH $q: $what $detail")
    }
    names.foreach { q =>
      check(q, "(rows, hash)", expected.get(q).contains(got(q)), s"${got(q)}, expected ${expected.get(q).getOrElse("no entry")}")
      check(q, "timed count()", expected.get(q).exists(_._1 == counted(q)), s"${counted(q)} rows")
    }
    out.line(s"gate: ${names.count(q => !notes.exists(_.startsWith(s"$q:")))}/${names.length} query results match ${expectedPath.split('/').last}")
    val tableRows = tables.map(t => t -> spark.read.parquet(t).count()).toMap
    val passRows = Queries.map(q => tableRows(s"$dataDir/${q.scale}/${q.table}.parquet")).sum.toDouble
    val totals = plain.map(_.values.sum)
    val perQuery = names.map(q => q -> Stats.median(plain.map(_(q)))).toMap
    val batchTotal = Stats.median(totals)
    out.line(f"batch_total_s ${batchTotal}%.4f s (median of ${totals.length} warm passes: ${totals.map(t => f"$t%.3f").mkString(", ")})")
    names.foreach(q => out.line(f"  $q%-26s ${perQuery(q)}%.4f s"))
    out.line(f"latency_p50_ms and latency_p99_ms: geometric mean and slowest of the ${names.length} per-query medians; " +
      f"heap after the GC forced after each query: peak $heapPeak%.1f MiB; after any of $gcs collections: $anyPeak%.1f MiB")

    val e2e = Map(
      "setup_s" -> setupS,
      "events_per_s" -> passRows / batchTotal,
      // the typical query time: the geometric mean of the per-query times, as
      // in TPC-H's power metric; a median of 5 would be one query's time
      "latency_p50_ms" -> math.exp(perQuery.values.map(math.log).sum / perQuery.size) * 1000,
      "latency_p99_ms" -> perQuery.values.max * 1000,
      "heap_live_peak_mb" -> heapPeak)
    if (!traced) { heap.uninstall(); return new StreamBench.Outcome(e2e, names.length, failed, notes.toSeq) }

    val sp = new SparkProbe
    val qe = new QeProbe
    spark.sparkContext.addSparkListener(sp)
    spark.listenerManager.register(qe)
    val tracer = new Tracer
    val perQ = mutable.Map[String, mutable.ArrayBuffer[(Double, SparkTotals, Double)]]()
    val cg0 = Probes.codegenNs
    val before = sp.totals
    var prev = before
    val tr = passes { (q, a, b) =>
      BenchDrain(spark.sparkContext)
      val s = tracer.add(s"queries.$q", q, a, b)
      sp.jobsIn(a / 1000000L, b / 1000000L + 1).foreach { case (x, y) =>
        tracer.add("spark.job", q, math.max(Clock.msToNs(x), a), math.min(Clock.msToNs(y), b), s)
      }
      val busy = sp.busyMs(a / 1000000L, b / 1000000L + 1).toDouble
      val t = sp.totals
      perQ.getOrElseUpdate(q, mutable.ArrayBuffer()) += (((b - a) / 1e6, t - prev, busy))
      prev = t
    }
    BenchDrain(spark.sparkContext)
    val codegenMs = (Probes.codegenNs - cg0) / 1e6
    spark.sparkContext.removeSparkListener(sp)
    spark.listenerManager.unregister(qe)
    heap.uninstall()
    out.writeSpans(tracer)
    val np = tr.length.toDouble
    val st = sp.totals - before
    val busyPass = perQ.values.flatten.map(_._3).sum / np
    val wallPass = tr.map(_.values.sum).sum / np * 1000
    val overhead = Stats.median(tr.map(_.values.sum)) / batchTotal - 1.0
    val layers = Report.emptyLayers ++ Map(
      "spark.jobs" -> st.jobs / np, "spark.stages" -> st.stages / np, "spark.tasks" -> st.tasks / np,
      "spark.task_run_ms" -> st.taskRunMs / np, "spark.task_cpu_ms" -> st.taskCpuMs / np,
      "spark.gc_ms" -> st.gcMs / np, "spark.shuffle_read_bytes" -> st.shuffleRead / np,
      "spark.shuffle_write_bytes" -> st.shuffleWrite / np, "spark.spill_bytes" -> st.spill / np,
      "spark.job_busy_ms" -> busyPass, "spark.driver_gap_ms" -> (wallPass - busyPass),
      "spark.analysis_ms" -> qe.analysisMs / np, "spark.optimization_ms" -> qe.optimizationMs / np,
      "spark.planning_ms" -> qe.planningMs / np, "spark.codegen_ms" -> codegenMs / np,
      "pipeline.compute_ms" -> qe.computeMs / np,
      "setup.session_ms" -> sessionMs,
      "trace.overhead_frac" -> overhead
    ) ++ names.flatMap { q =>
      val xs = perQ(q)
      val d = xs.map(_._2)
      Seq(s"queries.$q.s" -> Stats.median(xs.map(_._1 / 1000).toSeq),
        s"queries.$q.jobs" -> Stats.median(d.map(_.jobs.toDouble).toSeq),
        s"queries.$q.task_run_ms" -> Stats.median(d.map(_.taskRunMs.toDouble).toSeq),
        s"queries.$q.driver_gap_ms" -> Stats.median(xs.map(x => x._1 - x._3).toSeq))
    }
    out.line(f"traced: ${tr.length} passes, median ${Stats.median(tr.map(_.values.sum))}%.4f s, overhead $overhead%.4f")
    names.foreach(q => out.line(f"  $q%-26s jobs ${layers(s"queries.$q.jobs")}%.0f  task ${layers(s"queries.$q.task_run_ms")}%.0f ms  driver gap ${layers(s"queries.$q.driver_gap_ms")}%.0f ms"))
    new StreamBench.Outcome(e2e ++ layers, names.length * 2, failed, notes.toSeq)
  }
}

/** The expected-result file: `{"<query>": {"rows": n, "hash": "h"}, ...}`. */
object ExpectedFile {
  def read(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).properties().asScala
        .map(e => e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)).toMap
    }
  }
}
