package graft.sinks

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.AppConfig
import graft.pipeline.Registry

/** Exactly-once sink semantics: foreachBatch re-delivers a batch after
  * a failed epoch, so the sink keys idempotence on the checkpointed
  * batch id — a re-delivered id is skipped, a half-written directory
  * (no _SUCCESS) is overwritten, and readers of the output path see
  * every record exactly once.
  */
class IdempotentSinkSpec extends SparkSpec {

  test("re-delivered batch ids are skipped; readers see records exactly once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idem-sink").toString
    val sink = new IdempotentParquetSink(dir)
    val b0 = (1 to 5).toDF("v")
    sink.writeBatch(b0, 0L)
    sink.writeBatch(b0, 0L) // epoch retry re-delivers the same id
    sink.writeBatch((6 to 8).toDF("v"), 1L)
    val out = spark.read.parquet(dir)
    assert(out.count() == 8)
    assert(out.select("v").collect().map(_.getInt(0)).sorted.toSeq == (1 to 8))
  }

  test("half-written batch (no _SUCCESS) is overwritten, not skipped") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idem-sink").toString
    // simulate a crashed write: directory exists, no _SUCCESS marker
    val partial = new java.io.File(s"$dir/batch=0")
    partial.mkdirs()
    Files.writeString(partial.toPath.resolve("garbage.tmp"), "partial")
    new IdempotentParquetSink(dir).writeBatch((1 to 3).toDF("v"), 0L)
    val out = spark.read.parquet(dir)
    assert(out.count() == 3)
  }

  test("streaming pipeline with the idempotent sink lands each batch once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idem-sink").toString
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: idem
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: resultsnode
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val input = MemoryStream[String](s)
    val source = input.toDF().select(
      col("value").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
      lit(false).as("recovery"))
    val running = graft.streaming.StreamingPipeline.run(
      source, cfg, reg, sinks = Map("resultsnode" -> new IdempotentParquetSink(dir)))
    try {
      input.addData("a", "b")
      running.query.processAllAvailable()
      input.addData("c")
      running.query.processAllAvailable()
      val out = spark.read.parquet(dir)
      assert(out.select("payload").collect().map(_.getString(0)).sorted.toSeq
        == Seq("a", "b", "c"))
      // distinct batch directories, one per micro-batch
      assert(out.select("batch").distinct().count() >= 2)
    } finally running.shutdown()
  }
}
