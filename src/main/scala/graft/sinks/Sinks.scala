package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution

/** Micro-batch write target for one leaf of a stream (a leaf id or
  * `<id>.errors`, see `Pipeline.Plan.leafKeys`). Streaming execution
  * calls `writeBatch(df, batchId)` once per micro-batch, on a thread of
  * that batch, while the batch's other sink instances write concurrently
  * (one instance's writes never overlap; see StreamingPipeline). Sinks
  * that need exactly-once semantics key idempotence on (query id, batch
  * id): foreachBatch re-delivers a batch after a failed epoch, and every
  * query numbers its batches from 0. Others ignore the batch id.
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
  * `batch=<queryId>_<batchId>` partition directory, committed
  * atomically by the parquet job's `_SUCCESS` marker. The query id is
  * kept in the checkpoint, so a re-delivered batch (epoch retry,
  * restart from the same checkpoint) is skipped, while a second query
  * or a new checkpoint lands beside the first. The id is the stream
  * thread's `sql.streaming.queryId` local property, which its write
  * threads inherit; outside a stream writeBatch throws.
  */
final class IdempotentParquetSink(path: String) extends Sink {
  def writeBatch(df: DataFrame, batchId: Long): Unit = {
    val queryId = Option(df.sparkSession.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY)).getOrElse(
      throw new IllegalStateException(s"no ${StreamExecution.QUERY_ID_KEY}: $path is written by a stream only"))
    val dir = new java.io.File(s"$path/batch=${queryId}_$batchId")
    if (new java.io.File(dir, "_SUCCESS").exists()) return // already committed
    df.write.mode("overwrite").parquet(dir.toString)
  }
}
