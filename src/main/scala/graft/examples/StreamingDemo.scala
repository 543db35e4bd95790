package graft.examples

import org.apache.spark.sql.functions._

import graft.config.AppConfig
import graft.pipeline.Registry
import graft.sinks.ParquetSink
import graft.streaming.{PipelineMetrics, StreamingPipeline}

/** Runnable end-to-end streaming demo: file-streams the events table
  * through the filter→error-route tree and writes results plus dead
  * letters to parquet sinks.
  *
  *   sbt "runMain graft.examples.StreamingDemo /root/testdata/sf0.001 /tmp/graft-demo"
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = graft.GraftSession.local()
    val metrics = new PipelineMetrics(spark).install()

    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: demo
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: filternode
        |    params: {prefix: click}
        |    children:
        |      - name: errornode
        |        params: {prefix: error}
        |        error_handler:
        |          name: errorkafkaproducer
        |          params: {topic: events-dlq}
        |        children:
        |          - name: resultsnode
        |""".stripMargin, reg).fold(e => sys.error(e), identity)

    // file stream over the events parquet (schema required for streams)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val source = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet") // file source needs a directory
      .parquet(sfDir)
      .select(
        concat(col("event_type"), lit(":"), col("event_id")).cast("string").as("payload"),
        // same ts-encoding tolerance as queries.Tables (nanos-long vs
        // TIMESTAMP/NTZ testdata generations)
        (schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => timestamp_micros(expr("ts DIV 1000"))
          case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
        }).as("created"),
        lit(false).as("recovery"))

    // dead letters leave errornode through its error_handler, whose
    // output is the `errornode.errors` leaf
    val running = StreamingPipeline.run(
      source, cfg, reg,
      sinks = Map(
        "resultsnode" -> new ParquetSink(s"$outDir/results"),
        "errornode.errors" -> new ParquetSink(s"$outDir/dead-letters")),
      checkpoint = Some(s"$outDir/checkpoint"))
    running.query.processAllAvailable()
    running.shutdown()

    val results = spark.read.parquet(s"$outDir/results").count()
    val dead = spark.read.parquet(s"$outDir/dead-letters").count()
    println(s"""{"results":$results,"dead_letters":$dead,"metrics":${
      metrics.snapshot.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")}}""")
    spark.stop()
  }
}
