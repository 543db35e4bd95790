package graft.examples

import org.apache.spark.sql.SparkSession

import graft.config.AppConfig
import graft.pipeline.{Pipeline, Registry}

/** The reference's two shipped example pipelines
  * (`examples/kafkatokafka/main.go`, `examples/logging/main.go`) as
  * YAML-configured graft pipelines over the driver testdata. Sources
  * are the offline parquet stand-in; swap `stringsource` for
  * `kafkaconsumer` params to run against a real broker.
  */
object Examples {

  /** kafkatokafka: source → syslogparser → jsonbuilder → kafkaproducer,
    * parse failures dead-lettered to an error topic.
    */
  def kafkaToKafkaYaml(sfDir: String): String =
    s"""application: kafkatokafka
       |source:
       |  name: parquetsource
       |  params:
       |    path: $sfDir/events.parquet
       |    payloadexpr: "CAST(concat('<', event_id % 192, '>2026-01-02T15:04:05Z host', user_id % 5, ' app', user_id % 3, '[', event_id % 100, ']: msg ', event_id) AS BINARY)"
       |    createdcolumn: ts
       |nodes:
       |  - name: syslogparser
       |    error_handler:
       |      name: errorkafkaproducer
       |      params:
       |        topic: logging-errors
       |    children:
       |      - name: jsonbuilder
       |        params:
       |          topic: logs-json
       |        children:
       |          - name: kafkaproducer
       |""".stripMargin

  /** logging: source → syslogparser → docbuilder → elasticsearch, with
    * dead-letter handlers on both the parser and the indexer.
    */
  def loggingYaml(sfDir: String): String =
    s"""application: logging
       |source:
       |  name: parquetsource
       |  params:
       |    path: $sfDir/events.parquet
       |    payloadexpr: "CAST(concat('<', event_id % 192, '>2026-01-02T15:04:05Z host', user_id % 5, ' app', user_id % 3, '[', event_id % 200, ']: msg ', event_id) AS BINARY)"
       |    createdcolumn: ts
       |nodes:
       |  - name: syslogparser
       |    error_handler:
       |      name: errorkafkaproducer
       |      params:
       |        topic: logging-errors
       |    children:
       |      - name: docbuilder
       |        params:
       |          index: logging
       |        children:
       |          - name: elasticsearch
       |""".stripMargin

  def run(spark: SparkSession, yaml: String, outDir: String): Unit = {
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(yaml, reg).fold(e => sys.error(e), identity)
    val built = Pipeline.build(spark, cfg, reg)
    built.leaves.foreach { case (id, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$id")
      println(s"[example] wrote $outDir/$id")
    }
  }

  /** usage: runMain graft.examples.Examples <sfDir> <outDir> */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-examples"
    val spark = graft.GraftSession.local()
    run(spark, kafkaToKafkaYaml(sfDir), s"$outDir/kafkatokafka")
    run(spark, loggingYaml(sfDir), s"$outDir/logging")
    spark.stop()
  }
}
