package graft.sinks

import org.apache.spark.sql.DataFrame

/** Batch-or-micro-batch write target. Streaming execution calls
  * `writeBatch(df, batchId)` once per micro-batch, on a thread of that
  * batch, while the batch's other sink instances write concurrently
  * (one instance's writes never overlap; see StreamingPipeline); batch
  * execution calls `writeBatch(df)` once. Sinks
  * that need exactly-once semantics override the two-arg form and key
  * idempotence on the batch id (foreachBatch re-delivers a batch after
  * a failed epoch — at-least-once unless the sink dedupes).
  */
trait Sink extends Serializable {
  def writeBatch(df: DataFrame): Unit
  def writeBatch(df: DataFrame, batchId: Long): Unit = writeBatch(df)
}

/** Append parquet files (the offline stand-in for a real sink). */
final class ParquetSink(path: String) extends Sink {
  def writeBatch(df: DataFrame): Unit =
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
  def writeBatch(df: DataFrame): Unit = writeBatch(df, 0L)
  override def writeBatch(df: DataFrame, batchId: Long): Unit = {
    val dir = new java.io.File(s"$path/batch=$batchId")
    if (new java.io.File(dir, "_SUCCESS").exists()) return // already committed
    df.write.mode("overwrite").parquet(dir.toString)
  }
}

/** Driver-side collecting sink for tests (small data only). */
final class CollectingSink extends Sink {
  val batches = new java.util.concurrent.CopyOnWriteArrayList[Array[org.apache.spark.sql.Row]]()
  def writeBatch(df: DataFrame): Unit = batches.add(df.collect())
  def rows: Seq[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.flatten
  }
}
