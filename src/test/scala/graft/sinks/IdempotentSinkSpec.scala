package graft.sinks

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamExecution}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.AppConfig
import graft.pipeline.Registry

/** Exactly-once sink semantics: foreachBatch re-delivers a batch after
  * a failed epoch, so the sink keys idempotence on (query id, batch id),
  * both kept in the query's checkpoint — a re-delivered batch is
  * skipped, a half-written directory (no _SUCCESS) is overwritten, a
  * second query's batches land beside the first's, and readers of the
  * output path see every record exactly once.
  */
class IdempotentSinkSpec extends SparkSpec {

  /** run `body` with the query id a streaming query's threads carry */
  private def inQuery[A](queryId: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, queryId)
    try body finally sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, null)
  }

  test("re-delivered batch ids are skipped; readers see records exactly once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idem-sink").toString
    val sink = new IdempotentParquetSink(dir)
    val b0 = (1 to 5).toDF("v")
    inQuery("q") {
      sink.writeBatch(b0, 0L)
      sink.writeBatch(b0, 0L) // epoch retry re-delivers the same id
      sink.writeBatch((6 to 8).toDF("v"), 1L)
    }
    val out = spark.read.parquet(dir)
    assert(out.count() == 8)
    assert(out.select("v").collect().map(_.getInt(0)).sorted.toSeq == (1 to 8))
  }

  test("half-written batch (no _SUCCESS) is overwritten, not skipped") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idem-sink").toString
    // simulate a crashed write: directory exists, no _SUCCESS marker
    val partial = new java.io.File(s"$dir/batch=q_0")
    partial.mkdirs()
    Files.writeString(partial.toPath.resolve("garbage.tmp"), "partial")
    inQuery("q")(new IdempotentParquetSink(dir).writeBatch((1 to 3).toDF("v"), 0L))
    val out = spark.read.parquet(dir)
    assert(out.count() == 3)
  }

  test("outside a streaming query there is no commit key: writeBatch throws") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idem-sink").toString
    val ex = intercept[IllegalStateException](new IdempotentParquetSink(dir).writeBatch((1 to 3).toDF("v"), 0L))
    assert(ex.getMessage.contains(StreamExecution.QUERY_ID_KEY), ex.getMessage)
    assert(new java.io.File(dir).list().isEmpty, "nothing may land without a key")
  }

  private val reg = Registry.builtins()
  private val cfg = AppConfig.parse(
    """application: idem
      |source:
      |  name: stringsource
      |  params: {path: unused}
      |nodes:
      |  - name: resultsnode
      |""".stripMargin, reg).fold(e => sys.error(e), identity)

  private def envelope(df: DataFrame): DataFrame = df.select(
    col("value").as("payload"),
    lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
    lit(false).as("recovery"))

  test("streaming pipeline with the idempotent sink lands each batch once") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("idem-sink").toString
    val input = MemoryStream[String](s)
    val running = graft.streaming.StreamingPipeline.run(
      envelope(input.toDF()), cfg, reg, sinks = Map("resultsnode" -> new IdempotentParquetSink(dir)))
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

  test("a second query into the same sink lands all its rows: batch ids restart at 0 in every query") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("idem-sink")
    val sink = new IdempotentParquetSink(s"$root/out")
    // each query writes its rows in 2 micro-batches, numbered 0 and 1
    // under its own checkpoint
    for ((name, rows) <- Seq("live" -> Seq("l1", "l2", "l3"), "replay" -> Seq("r1", "r2", "r3"))) {
      val input = MemoryStream[String](s)
      val running = graft.streaming.StreamingPipeline.run(envelope(input.toDF()), cfg, reg,
        sinks = Map("resultsnode" -> sink), checkpoint = Some(s"$root/checkpoint-$name"), queryName = s"idem-$name")
      try Seq(rows.take(2), rows.drop(2)).foreach { b => input.addData(b); running.query.processAllAvailable() }
      finally running.shutdown()
    }
    val got = spark.read.parquet(s"$root/out").select("payload").as[String].collect().sorted.toSeq
    assert(got == Seq("l1", "l2", "l3", "r1", "r2", "r3"))
  }
}
