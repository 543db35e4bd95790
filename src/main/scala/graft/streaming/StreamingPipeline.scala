package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.AppConfig
import graft.pipeline.{Pipeline, Registry}
import graft.sinks.Sink

/** Streaming execution of a config tree: one foreachBatch query over
  * the source stream, triggered as soon as the previous micro-batch
  * ends; inside each micro-batch the SAME Pipeline fold used by batch
  * mode runs against the cached batch, with per-node observe metrics,
  * and every leaf that has a sink writes to it. A stream writes
  * `Built.leaves` and nothing else: leaf ids, and `<id>.errors` for
  * the output of a node's error_handler, the one way a dead letter
  * leaves its node (`node/node.go:277-295`). A caller that wants the
  * raw EventError rows configures `errorhandlernode`, which passes
  * them through unchanged. A sink key that names no leaf fails `run`
  * before the query starts; a leaf without a sink is not written.
  *
  * The tree is planned once, before the query starts; every batch
  * applies that `Pipeline.Plan`, so it writes the keys `run` checked.
  *
  * This is SURVEY §7 hard part (a) handled structurally: the micro
  * batch is persisted ONCE, and it is the only frame cached. Every leaf
  * re-derives its stage chain from it, so success/filtered/error
  * splits never re-read the source, and all sinks observe one
  * consistent batch (a Kafka source runs with failOnDataLoss=false, so
  * a second read could differ).
  *
  * A micro-batch's writes run concurrently, as the reference runs
  * every node in its own goroutines (`executor/executor.go:319-337`):
  * each distinct `Sink` instance gets one daemon thread, created by the
  * batch and ended before it returns, so the sinks' Spark jobs share
  * the task slots instead of queueing one job at a time. Writes to one
  * instance (registered under several keys) run in order on its
  * thread. Two distinct sinks of one run must therefore not write to
  * the same location. Each write's jobs carry the description
  * `graft sink <key> batch <batchId>` (the key is the leaf's) and,
  * inherited from the stream's thread, the query's job group, which
  * `stop()` cancels. The batch waits for every write it started, then
  * rethrows the first failure with the others suppressed; writes that
  * committed before another failed are replayed with the whole batch
  * on restart, as a prefix of sequential writes would be, which is why
  * every bundled sink is idempotent per (sink, query id, batch id).
  *
  * Reference semantics carried over (`executor/executor.go:142-207`):
  * source→roots broadcast and parent→children replication happen by
  * DataFrame reuse over the cached batch, never by caching a node's
  * output; `buffersize` maps to maxOffsetsPerTrigger on the
  * source; graceful shutdown = stop() after the in-flight batch
  * completes (micro-batch boundaries replace channel draining).
  */
object StreamingPipeline {

  final case class Running(query: StreamingQuery) {
    /** stop the stream — the analog of cascade-close draining
      * (`executor.go:368-395`), with Spark's semantics: `stop()`
      * cancels the query's job group and interrupts the execution
      * thread, so an in-flight micro-batch is CANCELLED rather than
      * drained, and not checkpointed — it re-runs whole on restart.
      * The batch interrupts its write threads in turn and waits for
      * them, so when this returns no write of the stream is running
      * and no sink is written to any more; writes that had already
      * committed are replayed with the batch. That is exactly why
      * every bundled sink is idempotent per (sink, query id, batch id)
      * (`IdempotentParquetSink`, EsBulkSink doc-id upserts):
      * replay-safe sinks make cancel+rerun equivalent to a drain.
      * Non-idempotent custom sinks should drain explicitly (await a
      * quiet trigger) before calling this. */
    def shutdown(): Unit = query.stop()
    def awaitTermination(): Unit = query.awaitTermination()
  }

  /** One write of a micro-batch: `key` labels its Spark jobs. */
  private final case class Write(key: String, sink: Sink, df: DataFrame)

  def run(
      source: DataFrame,
      config: AppConfig,
      registry: Registry,
      sinks: Map[String, Sink],
      checkpoint: Option[String] = None,
      queryName: String = "graft-pipeline"): Running = {
    val plan = Pipeline.plan(config.nodes, registry)
    val unknown = sinks.keys.filterNot(plan.leafKeys.contains).toList.sorted
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"sink keys name no leaf of the tree: ${unknown.mkString(", ")}; leaves: ${plan.leafKeys.mkString(", ")}")

    val writer = source.writeStream
      .queryName(queryName)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        // the finally guards the micro-batch cache even when buildOn
        // itself throws (a schema-dependent node expression can fail
        // analysis per batch) — without it every failed batch leaks a
        // persisted frame and a restart-supervised stream bleeds
        // storage memory failure after failure
        try {
          val built = plan.buildOn(cached, observeMetrics = true)
          val writes = built.leaves.flatMap { case (id, df) => sinks.get(id).map(Write(id, _, df)) }
          writeAll(writes, batchId, queryName)
        } finally { cached.unpersist(); () }
      }

    val withCp = checkpoint.fold(writer)(cp => writer.option("checkpointLocation", cp))
    Running(withCp.start())
  }

  /** Run a micro-batch's writes, one thread per distinct sink instance,
    * and return once every one of them has ended. Called on the
    * stream's thread: each new thread starts with a clone of its Spark
    * local properties (job group, SQL execution id), so a per-batch
    * thread never carries a stale group into a later batch or
    * restart, as a long-lived pool would. When `stop()` interrupts
    * the wait, the write threads are interrupted too, and still waited
    * for. */
  private def writeAll(writes: List[Write], batchId: Long, queryName: String): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val instances = writes.foldLeft(List.empty[Sink]) { (seen, w) =>
      if (seen.exists(_ eq w.sink)) seen else w.sink :: seen
    }.reverse
    val threads = instances.map { sink =>
      val own = writes.filter(_.sink eq sink)
      val t = new Thread(() =>
        try own.foreach { w =>
          w.df.sparkSession.sparkContext.setJobDescription(s"graft sink ${w.key} batch $batchId")
          w.sink.writeBatch(w.df, batchId)
        } catch { case e: Throwable => failures.add(e); () },
        s"graft-sink-$queryName-$batchId-${own.map(_.key).mkString("+")}")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch {
      case stop: InterruptedException =>
        threads.foreach(_.interrupt())
        threads.foreach(joinUninterruptibly)
        failures.forEach(e => if (e ne stop) stop.addSuppressed(e))
        throw stop
    }
    Option(failures.poll()).foreach { first =>
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }

  private def joinUninterruptibly(t: Thread): Unit =
    while (t.isAlive) {
      try t.join()
      catch { case _: InterruptedException => () }
    }
}
