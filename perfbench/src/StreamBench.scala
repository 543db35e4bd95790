package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchDrain
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.config.{AppConfig, TypeTags}
import graft.pipeline.{Pipeline, Registry, SourceFactory}
import graft.sinks.{IdempotentParquetSink, Sink}
import graft.streaming.{PipelineMetrics, StreamingPipeline}

/** The streaming workloads: YAML node trees, each fed by its own
  * 4-partition MemoryStream through StreamingPipeline.run. */
object StreamBench {

  /** One node tree with its event generator and what the generator implies. */
  final case class Tree(
      name: String, yaml: String, binary: Boolean,
      /** sink keys of StreamingPipeline.run: leaf ids and `<node>.errors` */
      leaves: Seq[String],
      deadLetterLeaves: Seq[String],
      /** event payload for (seed, index) */
      event: (Long, Long) => String,
      /** expected rows per leaf and expected (received, emitted) per node for events [0, n) */
      expect: (Long, Long) => (Map[String, Long], Map[String, (Long, Long)]),
      /** events per append in the closed loop */
      chunk: Int,
      /** asyncrpcnode's simulated call latency; 0 when the tree has none */
      asyncLatencyMs: Int = 0)

  /** `pacedRate`: open loop at that many events/s (one tree); None: closed loop */
  final case class Workload(name: String, trees: Seq[Tree], pacedRate: Option[Int])

  val SyslogYaml: String =
    """application: graftbench-syslog
      |source:
      |  name: benchsource
      |nodes:
      |  - name: syslogparser
      |    error_handler:
      |      name: errorkafkaproducer
      |      params:
      |        topic: syslog-errors
      |    children:
      |      - name: jsonbuilder
      |        params:
      |          topic: logs-json
      |        children:
      |          - name: kafkaproducer
      |      - name: docbuilder
      |        params:
      |          index: logs
      |        children:
      |          - name: elasticsearch
      |""".stripMargin

  val AsyncYaml: String =
    """application: graftbench-async
      |source:
      |  name: benchsource
      |nodes:
      |  - name: filternode
      |    params:
      |      prefix: filterme
      |    children:
      |      - name: errornode
      |        params:
      |          prefix: error
      |        error_handler:
      |          name: errorkafkaproducer
      |          params:
      |            topic: kit-errors
      |        children:
      |          - name: asyncrpcnode
      |            params:
      |              error_prefix: rpcfail
      |              filter_prefix: skip
      |              max_in_flight: "16"
      |              latency_ms: "1"
      |            error_handler:
      |              name: errorkafkaproducer
      |              params:
      |                topic: rpc-errors
      |            children:
      |              - name: fanoutnode
      |                params:
      |                  copies: "3"
      |                children:
      |                  - name: stringtoproducerequestnode
      |                    params:
      |                      topic: kit-out
      |                    children:
      |                      - name: kafkaproducer
      |                        id: kitproducer
      |""".stripMargin

  private def syslogExpect(seed: Long, n: Long) = {
    var poison = 0L
    var i = 0L
    while (i < n) { if (Gen.syslogPoison(seed, i)) poison += 1; i += 1 }
    val ok = n - poison
    (Map("kafkaproducer" -> ok, "elasticsearch" -> ok, "syslogparser.errors" -> poison),
      Map("syslogparser" -> (n, ok), "jsonbuilder" -> (ok, ok), "kafkaproducer" -> (ok, ok),
        "docbuilder" -> (ok, ok), "elasticsearch" -> (ok, ok)))
  }

  private def asyncExpect(seed: Long, n: Long) = {
    val k = new Array[Long](5)
    var i = 0L
    while (i < n) { k(Gen.kitKind(seed, i)) += 1; i += 1 }
    import Gen.Kind._
    val afterFilter = n - k(Filtered)
    val ok = k(Ok)
    (Map("kitproducer" -> 3 * ok, "errornode.errors" -> k(Errored), "asyncrpcnode.errors" -> k(RpcFailed)),
      // The async node's exactly-once localCheckpoint truncates the plan, so
      // errornode.emitted, which sits above it on the success lineage, never
      // reaches a listener (Pipeline.buildNode); asyncrpcnode.received, 1:1
      // with that output, is reported instead.
      Map("filternode" -> (n, afterFilter), "errornode" -> (afterFilter, 0L),
        "asyncrpcnode" -> (afterFilter - k(Errored), ok), "fanoutnode" -> (ok, 3 * ok),
        "stringtoproducerequestnode" -> (3 * ok, 3 * ok), "kitproducer" -> (3 * ok, 3 * ok)))
  }

  val SyslogTree = Tree("syslog", SyslogYaml, binary = true,
    Seq("kafkaproducer", "elasticsearch", "syslogparser.errors"), Seq("syslogparser.errors"),
    Gen.syslog, syslogExpect, chunk = 60000)
  val AsyncTree = Tree("async", AsyncYaml, binary = false,
    Seq("kitproducer", "errornode.errors", "asyncrpcnode.errors"), Seq("errornode.errors", "asyncrpcnode.errors"),
    Gen.kit, asyncExpect, chunk = 6000, asyncLatencyMs = 1)

  val workloads: Map[String, Workload] = Seq(
    Workload("syslog_paced", Seq(SyslogTree), Some(5000)),
    Workload("backlog_mix", Seq(SyslogTree, AsyncTree), None)
  ).map(w => w.name -> w).toMap

  /** Events appended to one stream: due times (epoch micros, stamped into
    * `created`) and MemoryStream blocks (offset, first index, count, append time). */
  final class Feed(ms: MemoryStream[(String, Long)], seed: Long, event: (Long, Long) => String) {
    @volatile var count = 0L
    private var dues = new Array[Long](1 << 16)
    val blocks = mutable.ArrayBuffer[(Long, Long, Int, Long)]()
    val lateMs = mutable.ArrayBuffer[Double]()

    def due(i: Long): Long = dues(i.toInt)
    def duesUpTo(n: Long): Array[Long] = java.util.Arrays.copyOf(dues, n.toInt)

    /** payloads for the next `n` events, generated before any due stamp */
    def payloads(n: Int): Array[String] = Array.tabulate(n)(k => event(seed, count + k))

    /** append `lines` as one block, the k-th due at dueOf(k) */
    def append(lines: Array[String], dueOf: Int => Long): Unit = synchronized {
      val first = count
      val need = (first + lines.length).toInt
      if (need > dues.length) dues = java.util.Arrays.copyOf(dues, math.max(need, dues.length * 2))
      val rows = Array.tabulate(lines.length) { k => val d = dueOf(k); dues(first.toInt + k) = d; (lines(k), d) }
      val off = ms.addData(rows.toSeq).json().toLong
      val at = Clock.nowNs
      blocks += ((off, first, lines.length, at))
      lateMs += (at / 1000L - rows(0)._2) / 1000.0
      count = first + lines.length
    }

    /** append the next `n` events, all due now */
    def appendChunk(n: Int): Unit = {
      val lines = payloads(n)
      val now = Clock.nowNs / 1000L
      append(lines, _ => now)
    }
  }

  final case class Progress(batchId: Long, startMs: Long, triggerMs: Long, endOffset: Long,
      rows: Long, durations: Map[String, Long]) {
    def endNs: Long = Clock.msToNs(startMs + triggerMs)
    def dur(k: String): Long = durations.getOrElse(k, 0L)
  }

  final class ProgressLog(queryName: String) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name == queryName && p.durationMs.containsKey("addBatch") && p.sources.nonEmpty)
        batches.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.get("triggerExecution").longValue, p.sources.head.endOffset.toLong,
          p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    def sorted: IndexedSeq[Progress] = batches.asScala.toIndexedSeq.sortBy(_.batchId)
  }

  /** One running stream of one tree. */
  final class Live(val tree: Tree, val dir: String, val feed: Feed,
      val running: StreamingPipeline.Running, val progress: ProgressLog, val metrics: PipelineMetrics,
      val calls: ConcurrentLinkedQueue[SinkCall], val replays: AtomicLong) {
    def stop(spark: SparkSession): Unit = {
      running.shutdown()
      BenchDrain(spark.sparkContext)
      spark.streams.removeListener(progress)
      metrics.uninstall()
    }
  }

  def registry(binary: Boolean, events: () => DataFrame): Registry = {
    val r = Registry.builtins()
    r.registerSourceType("benchsource", new SourceFactory {
      val produces = if (binary) TypeTags.Bytes else Registry.StringT
      def read(s: SparkSession, params: Map[String, String]): DataFrame = events()
    })
    r
  }

  /** (line, due micros) rows → the Event{payload, created, recovery} shape */
  def envelope(df: DataFrame, binary: Boolean): DataFrame =
    df.select(
      (if (binary) col("_1").cast("binary") else col("_1")).as("payload"),
      timestamp_micros(col("_2")).as("created"),
      lit(false).as("recovery"))

  final class Outcome(val metrics: Map[String, Double], val attempted: Long, val failed: Long,
      val notes: Seq[String])

  private val WarmupChunk = 2000
  /** Open loop: seconds of paced load on the measured stream before its
    * window. Micro-batch times keep falling for dozens of batches after a
    * stream starts, and the open loop's p99 is set by its slowest batches. */
  private val PacedLeadInS = 14L
  /** Closed loop: nominal seconds per round (one chunk per stream) on
    * 4 cores; a run does `seconds` / this many rounds, rounded up. */
  private val ClosedLoopRoundS = 3.0

  /** `corruptSink`: delete one committed sink file before the gate, to
    * show that the gate fails loud (self-test only). */
  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Int, traced: Boolean,
      tmp: String, sessionMs: Double, out: Report, corruptSink: Boolean): Outcome = {
    val parseMs = mutable.ArrayBuffer[Double]()

    def startTree(t: Tree, rep: Int, withTrace: Boolean): Live = {
      val dir = s"$tmp/${t.name}$rep"
      val p0 = System.nanoTime()
      val reg = registry(t.binary, () => sys.error("streaming runs take their source from the MemoryStream"))
      val cfg = AppConfig.parse(t.yaml, reg).fold(e => sys.error(s"config rejected: $e"), identity)
      parseMs += (System.nanoTime() - p0) / 1e6
      val ms = MemoryStream[(String, Long)](spark, 4)(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      val calls = new ConcurrentLinkedQueue[SinkCall]()
      val replays = new AtomicLong()
      val sinks: Map[String, Sink] = t.leaves.map { l =>
        val path = s"$dir/out/$l"
        l -> (if (withTrace) new TimedSink(l, path, spark, calls, replays) else new IdempotentParquetSink(path))
      }.toMap
      val name = s"graftbench_${t.name}_$rep"
      val progress = new ProgressLog(name)
      spark.streams.addListener(progress)
      val metrics = new PipelineMetrics(spark).install()
      val running = StreamingPipeline.run(envelope(ms.toDF(), t.binary), cfg, reg, sinks,
        checkpoint = Some(s"$dir/checkpoint"), queryName = name)
      val feed = new Feed(ms, seed, t.event)
      feed.appendChunk(WarmupChunk)
      running.query.processAllAvailable()
      new Live(t, dir, feed, running, progress, metrics, calls, replays)
    }
    def start(rep: Int, withTrace: Boolean): Seq[Live] = w.trees.map(startTree(_, rep, withTrace))

    // set-up, several times: config parse → streams started → first chunk
    // committed; the last set-up's streams carry the measurement
    val reps = (0 until 3).map { rep =>
      val t0 = System.nanoTime()
      val lives = start(rep, withTrace = false)
      (lives, System.nanoTime() - t0)
    }
    reps.init.flatMap(_._1).foreach { l => l.stop(spark); deleteRecursively(new java.io.File(l.dir)) }
    val setupNs = reps.map(_._2)
    out.phase(s"setup (reps ${setupNs.map(n => f"${n / 1e9}%.2f").mkString(", ")} s)")
    val setupS = sessionMs / 1000.0 + Stats.median(setupNs.map(_ / 1e9))

    val lives = reps.last._1
    val plain = measure(spark, w, lives, seconds, out)
    out.phase("measure")
    if (corruptSink) {
      val victim = new java.io.File(s"${lives.head.dir}/out/${lives.head.tree.leaves.head}")
        .listFiles().filter(_.isDirectory).sorted.last.listFiles().filter(_.getName.endsWith(".parquet")).head
      out.line(s"self-test: deleting $victim before the gate")
      victim.delete()
    }
    val gates = lives.map(gate(spark, seed, _, out))
    lives.foreach(l => deleteRecursively(new java.io.File(l.dir)))
    out.phase("gate")

    val e2e = Map(
      "setup_s" -> setupS,
      "events_per_s" -> plain.eventsPerS,
      "latency_p50_ms" -> Stats.median(plain.latMs),
      "latency_p99_ms" -> plain.latP99Ms,
      "heap_live_peak_mb" -> plain.heapPeakMb)
    val attempted = lives.map(_.feed.count).sum
    val failed = gates.map(_.failed).sum + (if (plain.invalid.nonEmpty) attempted else 0L)
    val notes = gates.flatMap(_.notes) ++ plain.invalid
    if (!traced) return new Outcome(e2e, attempted, failed, notes)

    // traced run: the same workload on fresh streams, with the sink timers
    // and the spark and query-execution listeners added
    val sp = new SparkProbe
    val qe = new QeProbe
    spark.sparkContext.addSparkListener(sp)
    spark.listenerManager.register(qe)
    val tLives = start(4, withTrace = true)
    qe.reset()
    val before = sp.totals
    val codegen0 = Probes.codegenNs
    val tm = measure(spark, w, tLives, seconds, out)
    val codegenMs = (Probes.codegenNs - codegen0) / 1e6
    val st = sp.totals - before
    spark.sparkContext.removeSparkListener(sp)
    spark.listenerManager.unregister(qe)
    val tGates = tLives.map(gate(spark, seed, _, out))
    val tracer = new Tracer
    val layers = traceLayers(tm, tLives, sp, st, qe, tracer, codegenMs, tGates, out)
    tLives.foreach(l => deleteRecursively(new java.io.File(l.dir)))
    out.writeSpans(tracer)

    // a paced run offers a fixed rate, so tracing cost shows in its latency, not its events/s
    val overhead =
      if (w.pacedRate.isDefined) Stats.median(tm.latMs) / Stats.median(plain.latMs) - 1.0
      else plain.eventsPerS / tm.eventsPerS - 1.0
    out.line(f"trace overhead (traced ÷ untraced cost − 1): $overhead%.4f")
    val perLayer = layers ++ Map(
      "config.parse_ms" -> Stats.median(parseMs.toSeq),
      "setup.session_ms" -> sessionMs,
      "generator.late_p99_ms" -> plain.lateP99Ms,
      "generator.events_offered" -> attempted.toDouble,
      "trace.overhead_frac" -> overhead)
    new Outcome(e2e ++ perLayer, attempted + tLives.map(_.feed.count).sum,
      failed + tGates.map(_.failed).sum, notes ++ tGates.flatMap(_.notes))
  }

  /** What one measured window produced. `batches` holds, per stream, the
    * micro-batches that ended inside the window. */
  final class Measured(val eventsPerS: Double, val latMs: Seq[Double], val latP99Ms: Double, val lateP99Ms: Double,
      val invalid: Seq[String], val batches: Seq[IndexedSeq[Progress]], val backlogMax: Double,
      val treeEventsPerS: Map[String, Double], val heapPeakMb: Double)

  /** Drive the workload's loop for `seconds` and derive latency, throughput
    * and open-loop validity from the streams' progress. */
  private def measure(spark: SparkSession, w: Workload, lives: Seq[Live], seconds: Int, out: Report): Measured = {
    // heap after every collection in the window, plus one forced at its quiet end
    val heap = new HeapProbe().install()
    // measured events of stream i are those from first(i) on, due inside [wStart, wEnd]
    val first = mutable.ArrayBuffer.fill(lives.length)(0L)
    var wStart = 0L; var wEnd = 0L
    w.pacedRate match {
      case Some(rate) =>
        val feed = lives.head.feed
        val warmEvents = PacedLeadInS * rate
        val total = warmEvents + seconds.toLong * rate
        val t0 = Clock.nowNs + 20000000L
        val dueNs = (k: Long) => t0 + k * 1000000000L / rate
        val base = feed.count
        val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        // the generator runs on its own schedule, never waiting for the stream
        val gen = new Thread(() => {
          try {
            var k = 0L
            while (k < total) {
              val due = math.min(total, (Clock.nowNs - t0) * rate / 1000000000L + 1)
              if (due > k) {
                val from = k
                feed.append(feed.payloads((due - k).toInt), j => dueNs(from + j) / 1000L)
                k = due
              }
              val sleepNs = math.min(dueNs(k) - Clock.nowNs, 5000000L)
              if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
            }
          } catch { case t: Throwable => err.set(t) }
        }, "graftbench-generator")
        gen.setDaemon(true)
        gen.start()
        wStart = dueNs(warmEvents); wEnd = dueNs(total)
        val toWindow = (wStart - Clock.nowNs) / 1000000L
        if (toWindow > 0) Thread.sleep(toWindow)
        heap.reset()
        gen.join()
        if (err.get != null) throw err.get
        lives.head.running.query.processAllAvailable()
        first(0) = base + warmEvents
      case None =>
        // one untimed round (one chunk per stream), then a fixed number of
        // rounds sized to `seconds`, so a faster or slower host does the same work
        lives.foreach { l => l.feed.appendChunk(l.tree.chunk); l.running.query.processAllAvailable() }
        heap.reset()
        heap.collect()
        lives.indices.foreach(i => first(i) = lives(i).feed.count)
        wStart = Clock.nowNs
        val rounds = math.max(2, math.ceil(seconds / ClosedLoopRoundS).toInt)
        (0 until rounds).foreach { _ =>
          lives.foreach { l => l.feed.appendChunk(l.tree.chunk); l.running.query.processAllAvailable() }
        }
        wEnd = Clock.nowNs
    }
    heap.collect()
    heap.uninstall()
    val (heapPeakMb, gcs) = heap.peakMb
    lives.foreach(_.stop(spark))

    // open loop: one latency sample per event; closed loop: one per round,
    // the round trips of that round's chunks summed over the streams
    val lat = mutable.ArrayBuffer[Double]()
    val roundMs = mutable.ArrayBuffer[Double]()
    val treeChunkMs = mutable.Map[String, Seq[Double]]()
    var measured = 0L
    var busyNs = 0L
    val treeRate = mutable.Map[String, Double]()
    val windows = mutable.ArrayBuffer[IndexedSeq[Progress]]()
    val backlogs = mutable.ArrayBuffer[(Long, Double)]()
    var lastCommit = wEnd
    lives.zipWithIndex.foreach { case (l, i) =>
      val batches = l.progress.sorted
      val endOffsets = batches.map(_.endOffset).toArray
      def batchOf(off: Long): Progress = {
        val j = java.util.Arrays.binarySearch(endOffsets, off)
        val b = if (j >= 0) j else -j - 1
        require(b < batches.length, s"${l.tree.name}: block at offset $off has no committed micro-batch")
        batches(b)
      }
      val blocks = l.feed.blocks.toIndexedSeq
      val end = l.feed.count
      var treeBusy = 0L
      val chunkMs = mutable.ArrayBuffer[Double]()
      blocks.foreach { case (off, from, n, at) =>
        if (from + n > first(i)) {
          val b = batchOf(off).endNs
          lastCommit = math.max(lastCommit, b)
          if (w.pacedRate.isDefined) {
            var k = math.max(from, first(i))
            while (k < from + n) { lat += (b / 1000L - l.feed.due(k)) / 1000.0; k += 1 }
          }
          chunkMs += (b - at) / 1e6
          treeBusy += b - at
        }
      }
      if (w.pacedRate.isEmpty) {
        treeChunkMs(l.tree.name) = chunkMs.toSeq
        chunkMs.indices.foreach(r => if (r < roundMs.length) roundMs(r) += chunkMs(r) else roundMs += chunkMs(r))
      }
      measured += end - first(i)
      busyNs += treeBusy
      if (w.pacedRate.isEmpty) treeRate(l.tree.name) = (end - first(i)) / (treeBusy / 1e9)
      // backlog after each batch: events appended by its end minus events it committed through
      val appendAt = blocks.map(_._4).toArray
      val blockEnd = blocks.map(b => b._2 + b._3).toArray
      val inWindow = batches.filter(b => b.endNs >= wStart)
      // the open loop's backlog trend covers the schedule only, not the drain after it
      inWindow.filter(b => w.pacedRate.isEmpty || b.endNs <= wEnd).foreach { b =>
        val j = java.util.Arrays.binarySearch(appendAt, b.endNs)
        val n = if (j >= 0) j + 1 else -j - 1
        val offered = if (n == 0) 0L else blockEnd(n - 1)
        val c = blocks.lastIndexWhere(_._1 <= b.endOffset)
        backlogs += ((b.endNs, (offered - (if (c < 0) 0L else blockEnd(c))).toDouble))
      }
      windows += inWindow
    }
    val eventsPerS = w.pacedRate match {
      case Some(_) => measured / ((lastCommit - wStart) / 1e9)
      case None => measured / (busyNs / 1e9) // time the system had work: append → commit of each chunk
    }
    if (w.pacedRate.isDefined) treeRate(lives.head.tree.name) = eventsPerS
    val late = lives.head.feed.lateMs.toIndexedSeq.zip(lives.head.feed.blocks).collect {
      case (ms, b) if b._2 >= first(0) => ms
    }
    val lateP99 = Stats.pct(late, 99)
    val invalid = mutable.ArrayBuffer[String]()
    val bl = backlogs.sortBy(_._1).map(_._2)
    lives.zip(windows).foreach { case (l, ws) =>
      out.line(s"${l.tree.name} trigger ms in the window: ${ws.map(_.triggerMs).mkString(" ")}")
    }
    if (w.pacedRate.isDefined)
      out.line(f"latency samples ${lat.length}%d (one per event), beyond p99 ${Stats.beyond(lat.toSeq, 99)}%d")
    else {
      treeChunkMs.foreach { case (t, ms) => out.line(s"$t chunk round trips ms: ${ms.map(x => f"$x%.0f").mkString(" ")}") }
      out.line(s"latency samples ${roundMs.length} (one per round, chunk round trips summed over the streams); " +
        "latency_p99_ms is the slowest round")
    }
    out.line(f"heap after GC: peak $heapPeakMb%.1f MiB over $gcs collections; " +
      treeRate.map { case (t, r) => f"$t $r%.0f events/s" }.mkString(", "))
    w.pacedRate.foreach { rate =>
      val third = math.max(1, bl.length / 3)
      val bFirst = bl.take(third).sum / third
      val bLast = bl.takeRight(third).sum / third
      out.line(f"generator late p99 $lateP99%.2f ms; backlog mean first third $bFirst%.0f, last third $bLast%.0f events over ${bl.length} batches")
      if (lateP99 > 50.0) invalid += f"generator fell behind schedule (late p99 $lateP99%.1f ms > 50 ms)"
      if (bl.length < 6) invalid += s"only ${bl.length} micro-batches in the window"
      else if (bLast > bFirst * 1.5 + rate * 0.25)
        invalid += f"backlog grew across the run ($bFirst%.0f → $bLast%.0f events): offered rate above capacity"
      invalid.foreach(m => out.line(s"INVALID open-loop run: $m"))
    }
    val samples = if (w.pacedRate.isDefined) lat.toSeq else roundMs.toSeq
    new Measured(eventsPerS, samples, if (w.pacedRate.isDefined) Stats.pct(samples, 99) else samples.max,
      lateP99, invalid.toSeq, windows.toSeq, if (bl.isEmpty) 0.0 else bl.max, treeRate.toMap, heapPeakMb)
  }

  final class Gate(val failed: Long, val notes: Seq[String], val rows: Map[String, Long])

  /** order-insensitive content hash: row count and the sum of per-row hashes */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.get(1)).map(_.toString).getOrElse("0"))
  }

  /** Outside the timed region: read back every sink, compare row counts and
    * node counters with what the generator implies, and each sink's content
    * hash with batch-mode Pipeline.build over the same events. */
  private def gate(spark: SparkSession, seed: Long, live: Live, out: Report): Gate = {
    import spark.implicits._
    val t = live.tree
    val n = live.feed.count
    val (rows, nodes) = t.expect(seed, n)
    val dues = spark.sparkContext.broadcast(live.feed.duesUpTo(n))
    val ev = t.event
    val events = () => envelope(spark.range(n).map(i => (ev(seed, i), dues.value(i.toInt))).toDF(), t.binary)
    val reg = registry(t.binary, events)
    val cfg = AppConfig.parse(t.yaml, reg).fold(e => sys.error(e), identity)
    val built = Pipeline.build(spark, cfg, reg)
    var failed = 0L
    val notes = mutable.ArrayBuffer[String]()
    val got = mutable.Map[String, Long]()
    try {
      val batchLeaves = built.leaves.toMap
      t.leaves.foreach { leaf =>
        val (cnt, h) = contentHash(spark.read.parquet(s"${live.dir}/out/$leaf").drop("batch"))
        got(leaf) = cnt
        val (bcnt, bh) = contentHash(batchLeaves(leaf))
        if (cnt != rows(leaf)) {
          failed += math.abs(cnt - rows(leaf)).max(1L)
          notes += s"${t.name} $leaf: $cnt rows in the sink, the generator implies ${rows(leaf)}"
        }
        if (cnt != bcnt || h != bh) {
          failed += 1
          notes += s"${t.name} $leaf: sink content ($cnt, $h) differs from batch-mode Pipeline.build ($bcnt, $bh)"
        }
      }
    } finally { built.unpersistAll(); dues.destroy() }
    val snap = live.metrics.snapshot
    nodes.foreach { case (id, (rec, emi)) =>
      val r = snap.getOrElse(s"$id.received", 0L); val e = snap.getOrElse(s"$id.emitted", 0L)
      if (r != rec || e != emi) {
        failed += 1
        notes += s"${t.name} PipelineMetrics $id: received/emitted $r/$e, the generator implies $rec/$emi"
      }
    }
    out.line(s"gate ${t.name}: $n events, sink rows ${t.leaves.map(l => s"$l=${got(l)}").mkString(", ")}: " +
      (if (failed == 0) "counts, node counters and batch-parity hashes all match" else s"$failed mismatches"))
    notes.foreach(m => out.line(s"MISMATCH $m"))
    new Gate(math.min(failed, n), notes.toSeq, got.toMap)
  }

  /** Per-layer metrics and spans of the traced window. Spans per micro-batch
    * (trace id = tree and batch id): streaming.trigger ⊃ {bookkeeping steps
    * rebuilt from the progress durations, pipeline.foreachBatch ⊃
    * sinks.<tree>.<leaf> ⊃ spark.job}. Per batch, trigger time = streaming +
    * pipeline self + sinks self + spark + remainder. */
  private def traceLayers(m: Measured, lives: Seq[Live], sp: SparkProbe, st: SparkTotals, qe: QeProbe,
      tracer: Tracer, codegenMs: Double, gates: Seq[Gate], out: Report): Map[String, Double] = {
    final case class B(p: Progress, bookkeeping: Long, pipelineSelf: Double, sinksSelf: Double,
        spark: Double, jobBusy: Double)
    val callsOf = lives.map(l => l.tree.name -> Probes.all(l.calls)).toMap
    val perBatch = lives.zip(m.batches).flatMap { case (l, batches) =>
      val calls = callsOf(l.tree.name)
      batches.map { b =>
        val id = s"${l.tree.name}-${b.batchId}"
        val startNs = Clock.msToNs(b.startMs)
        val trig = tracer.add("streaming.trigger", id, startNs, b.endNs)
        var cursor = startNs
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").foreach { k =>
          tracer.add(s"streaming.$k", id, cursor, cursor + Clock.msToNs(b.dur(k)), trig)
          cursor += Clock.msToNs(b.dur(k))
        }
        val bookkeeping = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "commitOffsets").map(b.dur).sum
        val commitStart = b.endNs - Clock.msToNs(b.dur("commitOffsets"))
        tracer.add("streaming.commitOffsets", id, commitStart, b.endNs, trig)
        val add = tracer.add("pipeline.foreachBatch", id, commitStart - Clock.msToNs(b.dur("addBatch")), commitStart, trig)
        var sinkNs = 0L; var sinkSelf = 0L; var sparkNs = 0L
        calls.filter(_.batchId == b.batchId).foreach { c =>
          val s = tracer.add(s"sinks.${l.tree.name}.${c.leaf}", id, c.start, c.end, add)
          val (fromMs, toMs) = (c.start / 1000000L, c.end / 1000000L + 1)
          sp.jobsIn(fromMs, toMs).foreach { case (a, e) =>
            tracer.add("spark.job", id, math.max(Clock.msToNs(a), c.start), math.min(Clock.msToNs(e), c.end), s)
          }
          val busy = math.min(Clock.msToNs(sp.busyMs(fromMs, toMs)), c.end - c.start)
          sinkNs += c.end - c.start; sinkSelf += c.end - c.start - busy; sparkNs += busy
        }
        B(b, bookkeeping, (Clock.msToNs(b.dur("addBatch")) - sinkNs) / 1e6, sinkSelf / 1e6, sparkNs / 1e6,
          sp.busyMs(b.startMs, b.startMs + b.triggerMs).toDouble)
      }
    }
    val nb = math.max(1, perBatch.length).toDouble
    def mean(f: B => Double) = perBatch.map(f).sum / nb
    val trig = perBatch.map(_.p.triggerMs.toDouble)
    val trigMean = mean(_.p.triggerMs.toDouble)
    val (streamingSelf, pipelineSelf, sinksSelf, sparkSelf) =
      (mean(_.bookkeeping.toDouble), mean(_.pipelineSelf), mean(_.sinksSelf), mean(_.spark))
    val remainder = trigMean - streamingSelf - pipelineSelf - sinksSelf - sparkSelf
    out.line(f"per-batch trigger time $trigMean%.1f ms = streaming $streamingSelf%.1f + pipeline self $pipelineSelf%.1f" +
      f" + sinks self $sinksSelf%.1f + spark jobs $sparkSelf%.1f + remainder $remainder%.1f (means over ${perBatch.length} batches)")
    val allCalls = callsOf.values.flatten.toSeq
    val asyncLive = lives.find(_.tree.asyncLatencyMs > 0)
    val asyncCalls = asyncLive.map(_.metrics.snapshot.getOrElse("asyncrpcnode.received", 0L).toDouble).getOrElse(0.0)
    // the async subtree's first write (its kitproducer leaf) runs the RPC stage
    val asyncWallMs = asyncLive.map(l => callsOf(l.tree.name).filter(_.leaf == "kitproducer")
      .map(c => (c.end - c.start) / 1e6).sum).getOrElse(0.0)
    val events = lives.map(_.feed.count).sum.toDouble
    val deadRows = lives.zip(gates).map { case (l, g) => l.tree.deadLetterLeaves.map(g.rows.getOrElse(_, 0L)).sum }.sum
    val sinkP50 = for {
      t <- Seq(SyslogTree, AsyncTree); leaf <- t.leaves
    } yield s"sinks.${t.name}.$leaf.write_ms_p50" -> Stats.median(callsOf.getOrElse(t.name, Nil)
      .filter(_.leaf == leaf).map(c => (c.end - c.start) / 1e6))
    Report.emptyLayers ++ sinkP50 ++ Map(
      "streaming.batches" -> perBatch.length.toDouble,
      "streaming.batch_rows_p50" -> Stats.median(perBatch.map(_.p.rows.toDouble)),
      "streaming.trigger_ms_p50" -> Stats.median(trig),
      "streaming.trigger_ms_p99" -> Stats.pct(trig, 99),
      "streaming.add_batch_ms_p50" -> Stats.median(perBatch.map(_.p.dur("addBatch").toDouble)),
      "streaming.bookkeeping_ms_p50" -> Stats.median(perBatch.map(_.bookkeeping.toDouble)),
      "streaming.backlog_max_events" -> m.backlogMax,
      "streaming.syslog_events_per_s" -> m.treeEventsPerS.getOrElse("syslog", 0.0),
      "streaming.async_events_per_s" -> m.treeEventsPerS.getOrElse("async", 0.0),
      "pipeline.self_ms_p50" -> Stats.median(perBatch.map(_.pipelineSelf)),
      "pipeline.cached_bytes_peak" -> (if (allCalls.isEmpty) 0.0 else allCalls.map(_.cachedBytes).max.toDouble),
      "pipeline.dead_letter_frac" -> deadRows / events,
      "pipeline.async_calls" -> asyncCalls,
      "pipeline.async_concurrency" ->
        (if (asyncWallMs > 0) asyncCalls * asyncLive.get.tree.asyncLatencyMs / asyncWallMs else 0.0),
      "pipeline.compute_ms" -> qe.computeMs / nb,
      "sinks.calls" -> allCalls.length.toDouble,
      "sinks.rows" -> qe.rows.toDouble,
      "sinks.bytes" -> qe.bytes.toDouble,
      "sinks.replays_skipped" -> lives.map(_.replays.get).sum.toDouble,
      "spark.jobs" -> st.jobs / nb, "spark.stages" -> st.stages / nb, "spark.tasks" -> st.tasks / nb,
      "spark.task_run_ms" -> st.taskRunMs / nb, "spark.task_cpu_ms" -> st.taskCpuMs / nb,
      "spark.gc_ms" -> st.gcMs / nb, "spark.shuffle_read_bytes" -> st.shuffleRead / nb,
      "spark.shuffle_write_bytes" -> st.shuffleWrite / nb, "spark.spill_bytes" -> st.spill / nb,
      "spark.job_busy_ms" -> mean(_.jobBusy), "spark.driver_gap_ms" -> (trigMean - mean(_.jobBusy)),
      "spark.analysis_ms" -> qe.analysisMs / nb, "spark.optimization_ms" -> qe.optimizationMs / nb,
      "spark.planning_ms" -> qe.planningMs / nb, "spark.codegen_ms" -> codegenMs / nb,
      "layer.trigger_ms" -> trigMean, "layer.streaming_self_ms" -> streamingSelf,
      "layer.pipeline_self_ms" -> pipelineSelf, "layer.sinks_self_ms" -> sinksSelf,
      "layer.spark_self_ms" -> sparkSelf, "layer.remainder_ms" -> remainder)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
