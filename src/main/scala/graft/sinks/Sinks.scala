package graft.sinks

import org.apache.spark.sql.DataFrame

/** Micro-batch write target for one leaf of a stream (a leaf id or
  * `<id>.errors`, see `Pipeline.leafKeys`). Streaming execution calls
  * `writeBatch(df, batchId)` once per micro-batch, on a thread of that
  * batch, while the batch's other sink instances write concurrently
  * (one instance's writes never overlap; see StreamingPipeline). Sinks
  * that need exactly-once semantics key idempotence on the batch id
  * (foreachBatch re-delivers a batch after a failed epoch —
  * at-least-once unless the sink dedupes); others ignore it.
  */
trait Sink extends Serializable {
  def writeBatch(df: DataFrame, batchId: Long): Unit
}

/** Append parquet files (the offline stand-in for a real sink);
  * at-least-once: a re-delivered batch is appended again. */
final class ParquetSink(path: String) extends Sink {
  def writeBatch(df: DataFrame, batchId: Long): Unit =
    df.write.mode("append").parquet(path)
}

/** Exactly-once parquet sink: each micro-batch lands in its own
  * `batch=<id>` partition directory, committed atomically by the
  * parquet job's `_SUCCESS` marker. A re-delivered batch id (epoch
  * retry after a sink-side failure) is detected and skipped, so
  * downstream readers of `path` see every record exactly once — the
  * standard foreachBatch idempotence pattern, keyed on Spark's
  * checkpointed batch id.
  */
final class IdempotentParquetSink(path: String) extends Sink {
  def writeBatch(df: DataFrame, batchId: Long): Unit = {
    val dir = new java.io.File(s"$path/batch=$batchId")
    if (new java.io.File(dir, "_SUCCESS").exists()) return // already committed
    df.write.mode("overwrite").parquet(dir.toString)
  }
}
