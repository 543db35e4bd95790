package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side collecting sink for specs (small data only). */
final class CollectingSink extends Sink {
  val batches = new java.util.concurrent.CopyOnWriteArrayList[Array[Row]]()
  def writeBatch(df: DataFrame, batchId: Long): Unit = { batches.add(df.collect()); () }
  def rows: Seq[Row] = batches.asScala.toSeq.flatten
}
