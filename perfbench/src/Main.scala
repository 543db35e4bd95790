package graftbench

import org.apache.spark.sql.SparkSession

/** Human-readable result lines, the span file, and the per-layer metric
  * names every traced run reports (0 where a workload does not run that
  * layer, e.g. `queries.*` on a streaming workload). */
final class Report(workload: String, seed: Long, traceDir: String, spawnNs: Long) {
  def line(s: String): Unit = println(s"[$workload] $s")
  /** run phase boundary, as seconds since the JVM was spawned */
  def phase(name: String): Unit = line(f"phase $name done at ${(Clock.nowNs - spawnNs) / 1e9}%.2f s")
  def writeSpans(t: Tracer): Unit = {
    val path = s"$traceDir/$workload-seed$seed.spans.json"
    t.write(path)
    line(s"spans: ${t.spans.length} written to $path")
  }
}

object Report {
  val layerNames: Seq[String] =
    Seq("streaming.batches", "streaming.batch_rows_p50", "streaming.trigger_ms_p50", "streaming.trigger_ms_p99",
      "streaming.add_batch_ms_p50", "streaming.bookkeeping_ms_p50", "streaming.backlog_max_events",
      "streaming.syslog_events_per_s", "streaming.async_events_per_s",
      "pipeline.self_ms_p50", "pipeline.cached_bytes_peak", "pipeline.dead_letter_frac", "pipeline.async_calls",
      "pipeline.async_concurrency", "pipeline.compute_ms") ++
      Seq(StreamBench.SyslogTree, StreamBench.AsyncTree).flatMap(t => t.leaves.map(l => s"sinks.${t.name}.$l.write_ms_p50")) ++
      Seq("sinks.calls", "sinks.rows", "sinks.bytes", "sinks.replays_skipped",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.job_busy_ms",
        "spark.driver_gap_ms", "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms", "spark.codegen_ms") ++
      CurationBench.names.flatMap(q => Seq(s"queries.$q.s", s"queries.$q.jobs", s"queries.$q.task_run_ms", s"queries.$q.driver_gap_ms")) ++
      Seq("config.parse_ms", "setup.session_ms", "generator.late_p99_ms", "generator.events_offered",
        "layer.trigger_ms", "layer.streaming_self_ms", "layer.pipeline_self_ms", "layer.sinks_self_ms",
        "layer.spark_self_ms", "layer.remainder_ms", "trace.overhead_frac")
  val emptyLayers: Map[String, Double] = layerNames.map(_ -> 0.0).toMap
}

/** One benchmark run in a fresh JVM. Arguments (all required):
  * --workload W --seed N --seconds S --trace 0|1 --cores C --tmp DIR
  * --trace-dir DIR --data DIR --expected FILE --spawn-ns T [--write-expected] [--corrupt-sink].
  * The last stdout line is `GRAFTBENCH_RESULT {json}`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val tmp = opt("tmp")
    val spawnNs = opt("spawn-ns").toLong
    val out = new Report(workload, seed, opt("trace-dir"), spawnNs)
    require(workload == "batch_curation" || StreamBench.workloads.contains(workload), s"unknown workload $workload")

    val spark = SparkSession.builder()
      .master(s"local[${opt("cores")}]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", opt("cores"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$tmp/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = (Clock.nowNs - spawnNs) / 1e6
    out.line(f"session ready ${sessionMs / 1000}%.3f s after spawn, local[${opt("cores")}], seed $seed, ${seconds}s measured")

    val res =
      try {
        if (workload == "batch_curation")
          CurationBench.run(spark, seed, seconds, traced, opt("data"), opt("expected"),
            args.contains("--write-expected"), sessionMs, out)
        else StreamBench.run(spark, StreamBench.workloads(workload), seed, seconds, traced, tmp, sessionMs, out,
          corruptSink = args.contains("--corrupt-sink"))
      } finally spark.stop()
    out.phase("stop")

    val metrics = res.metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${jsonNum(v)}""" }.mkString(",")
    val notes = res.notes.take(5).map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(",")
    println(s"""GRAFTBENCH_RESULT {"correct":${res.failed == 0},"attempted":${res.attempted},"failed":${res.failed},"metrics":{$metrics},"notes":[$notes]}""")
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v).replace("E", "e")
}
