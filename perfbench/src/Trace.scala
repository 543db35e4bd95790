package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.{IdempotentParquetSink, Sink}

object Stats {
  /** percentile by linear interpolation between closest ranks, p in [0, 100] */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val r = (s.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  /** samples strictly above the p-th percentile */
  def beyond(xs: Seq[Double], p: Double): Int = { val v = pct(xs, p); xs.count(_ > v) }
}

/** Wall clock in epoch nanoseconds with monotonic resolution, so spans
  * from System.nanoTime and Spark's epoch-millisecond event times share
  * one axis. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
  def msToNs(ms: Long): Long = ms * 1000000L
}

final case class Span(name: String, trace: String, start: Long, end: Long, parent: Int)

/** In-memory span store: name, trace id (batch id or query name), start,
  * end and parent; written out once when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  def add(name: String, trace: String, start: Long, end: Long, parent: Int = -1): Int = synchronized {
    spans += Span(name, trace, start, math.max(start, end), parent); spans.length - 1
  }
  /** span duration minus the part of it covered by its child spans */
  def selfNs: Map[Int, Long] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val ivs = kids.getOrElse(i, Nil).map(spans).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      ivs.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b } else curE = math.max(curE, b)
      }
      covered += curE - curS
      i -> ((s.end - s.start) - covered)
    }.toMap
  }
  def write(path: String): Unit = {
    val self = selfNs
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":$i,"name":"${s.name}","trace":"${s.trace}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"self_ns":${self(i)}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Task, stage and job counters for the `spark` layer. */
final case class SparkTotals(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskRunMs: Long = 0, taskCpuMs: Long = 0,
    gcMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskRunMs - o.taskRunMs, taskCpuMs - o.taskCpuMs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill)
}

final class SparkProbe extends SparkListener {
  @volatile private var t = SparkTotals()
  private val jobStart = mutable.Map[Int, Long]()
  /** finished job intervals, epoch ms */
  val jobs = mutable.ArrayBuffer[(Long, Long)]()
  def totals: SparkTotals = synchronized(t)
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    t = t.copy(jobs = t.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    t = t.copy(stages = t.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) t = t.copy(
      tasks = t.tasks + 1,
      taskRunMs = t.taskRunMs + m.executorRunTime,
      taskCpuMs = t.taskCpuMs + m.executorCpuTime / 1000000L,
      gcMs = t.gcMs + m.jvmGCTime,
      shuffleRead = t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
    else t = t.copy(tasks = t.tasks + 1)
  }
  /** union of finished job intervals clipped to [from, to] (epoch ms) */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val ivs = jobs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.filter(iv => iv._2 > iv._1).sortBy(_._1)
    var covered = 0L; var s = -1L; var e = -1L
    ivs.foreach { case (a, b) => if (a > e) { covered += e - s; s = a; e = b } else e = math.max(e, b) }
    covered + e - s
  }
  def jobsIn(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    jobs.filter { case (a, b) => a >= from && b <= to }.toList
  }
}

/** Planning phases, codegen-stage compute time and sink write volume
  * from every successful query execution. Metrics are keyed by SQLMetric
  * id so a cached plan reached from several actions counts once. */
final class QeProbe extends QueryExecutionListener {
  var analysisMs, optimizationMs, planningMs = 0L
  private val wscg = mutable.Map[Long, Long]()
  private val writeRows = mutable.Map[Long, (String, Long)]()
  private val writeBytes = mutable.Map[Long, Long]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    walk(qe.executedPlan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def walk(p: QueryPlan[_]): Unit = {
    p match {
      case w: WholeStageCodegenExec =>
        w.metrics.get("pipelineTime").foreach(m => wscg(m.id) = m.value)
      case d: DataWritingCommandExec =>
        val path = d.cmd.toString
        d.cmd.metrics.get("numOutputRows").foreach(m => writeRows(m.id) = (path, m.value))
        d.cmd.metrics.get("numOutputBytes").foreach(m => writeBytes(m.id) = m.value)
      case _ =>
    }
    p.children.foreach(c => walk(c.asInstanceOf[QueryPlan[_]]))
    p.innerChildren.foreach(walk)
    p match { case s: SparkPlan => s.subqueries.foreach(walk); case _ => }
  }

  def computeMs: Long = synchronized(wscg.values.sum)
  def rows: Long = synchronized(writeRows.values.map(_._2).sum)
  def bytes: Long = synchronized(writeBytes.values.sum)
  def reset(): Unit = synchronized {
    analysisMs = 0; optimizationMs = 0; planningMs = 0; wscg.clear(); writeRows.clear(); writeBytes.clear()
  }
}

/** One write through a sink, as the benchmark's timing wrapper saw it. */
final case class SinkCall(leaf: String, batchId: Long, start: Long, end: Long, cachedBytes: Long)

/** The benchmark's timing wrapper around a bundled sink: times each
  * writeBatch, counts re-delivered batch ids the inner sink would skip,
  * and samples the bytes the micro-batch's caches hold afterwards. */
final class TimedSink(leaf: String, path: String, spark: SparkSession,
    calls: java.util.concurrent.ConcurrentLinkedQueue[SinkCall],
    replays: java.util.concurrent.atomic.AtomicLong) extends Sink {
  private val inner = new IdempotentParquetSink(path)
  def writeBatch(df: DataFrame): Unit = writeBatch(df, 0L)
  override def writeBatch(df: DataFrame, batchId: Long): Unit = {
    if (new java.io.File(s"$path/batch=$batchId/_SUCCESS").exists()) replays.incrementAndGet()
    val t0 = Clock.nowNs
    inner.writeBatch(df, batchId)
    val t1 = Clock.nowNs
    val cached = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    calls.add(SinkCall(leaf, batchId, t0, t1, cached))
  }
}

object Probes {
  def codegenNs: Long = CodeGenerator.compileTime

  def all[A](xs: java.util.Collection[A]): List[A] = xs.asScala.toList
}

/** Heap in use right after each collection, as the JVM reports it in its
  * GC notifications: young, mixed and full collections alike, so caching
  * or work held in memory inside a micro-batch or query shows up. */
final class HeapProbe extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  private var peak = 0L
  private var seen = 0L
  private var forced = 0L
  private var lastForced = 0L

  def install(): this.type = { emitters.foreach(_.addNotificationListener(this, null, null)); this }
  def uninstall(): Unit = emitters.foreach(_.removeNotificationListener(this))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
      synchronized {
        peak = math.max(peak, used); seen += 1
        if (info.getGcCause == "System.gc()") { forced += 1; lastForced = used }
        notifyAll()
      }
    }

  /** force a collection at a quiet point, wait for its notification and
    * return the heap it left in use, MiB */
  def collect(): Double = synchronized {
    val before = forced
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (forced == before && System.nanoTime() < deadline) wait(50)
    lastForced / 1048576.0
  }

  /** (peak heap used after a collection since the last reset in MiB, collections seen) */
  def peakMb: (Double, Long) = synchronized((peak / 1048576.0, seen))
  def reset(): Unit = synchronized { peak = 0L; seen = 0L }
}
