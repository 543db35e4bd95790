package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.config.AppConfig
import graft.pipeline.{Pipeline, Registry}
import graft.sinks.IdempotentParquetSink
import graft.streaming.{FileMessageBus, GraftApp, KafkaSourceConfig, MessageBus, MetricsServer, PipelineMetrics}

/** CLI entrypoint — the analog of running the reference executor from a
  * config file (`executor.New(WithConfigFile(path)) → Execute()`, as
  * `examples/main.go` does): parse + validate the YAML, wire the
  * control-plane bus / recovery / metrics endpoint from the config
  * itself, run the pipeline, and write every terminal output (leaves
  * and error-handler streams) as parquet under the output directory.
  *
  *   sbt "runMain graft.GraftMain <config.yaml> <outDir>"            # batch
  *   sbt "runMain graft.GraftMain <config.yaml> <outDir> --stream"   # kafka streaming
  *
  * Config keys honored beyond the node tree: `metricsport` (> 0 serves
  * the Prometheus `/metrics` endpoint, names prefixed `metricsprefix`),
  * `internaldata: {transport: file, params: {path: …}}` (the compacted
  * control-plane file replayed to EOF before execution — pending
  * recovery requests land in the ledger first, `message.go:30-48`).
  */
object GraftMain {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: GraftMain <config.yaml> <outDir> [--stream]")
      sys.exit(2)
    }
    val spark = GraftSession.builder().getOrCreate()
    run(spark, args(0), args(1), args.contains("--stream")) match {
      case Left(err) => System.err.println(err); sys.exit(1)
      case Right(summary) => println(summary)
    }
  }

  /** main body, separated so specs drive it without exiting the JVM.
    * Returns the error (verbatim reference config message when the
    * config is at fault) or a one-line metrics summary.
    */
  def run(spark: SparkSession, cfgPath: String, outDir: String,
          streamMode: Boolean = false): Either[String, String] = {
    val yaml =
      try Files.readString(Paths.get(cfgPath))
      catch { case e: Exception => return Left(s"failed to read config file: ${e.getMessage}") }
    val registry = Registry.builtins()
    for {
      config <- AppConfig.parse(yaml, registry)
      bus = busFor(config, outDir)
      app <- GraftApp.fromYaml(spark, yaml, registry, bus)
      summary <- execute(spark, app, outDir, streamMode)
    } yield summary
  }

  /** internaldata → control plane: `file` transport is the compacted
    * JSONL bus (the driver-singleton analog of the reference's
    * compacted Kafka topic); a `kafka` transport config is accepted for
    * compatibility and persists to the same driver-local form under the
    * output directory — the driver is the topic's only consumer here.
    * No internaldata → process-local messaging.
    */
  private def busFor(config: AppConfig, outDir: String): Option[MessageBus] =
    config.internalData.map {
      case id if id.transport == "file" =>
        new FileMessageBus(Paths.get(id.params("path")))
      case _ => new FileMessageBus(Paths.get(s"$outDir/_control.jsonl"))
    }

  private def execute(spark: SparkSession, app: GraftApp, outDir: String,
                      streamMode: Boolean): Either[String, String] = {
    val config = app.config
    val metrics = new PipelineMetrics(spark).install()
    val server = Option.when(config.metricsPort > 0)(new MetricsServer(
      spark, metrics,
      prefix = if (config.metricsPrefix.nonEmpty) config.metricsPrefix else "graft",
      port = config.metricsPort).start())
    try {
      if (streamMode) {
        if (config.source.name != "kafkaconsumer")
          return Left(s"--stream requires a kafkaconsumer source, got [${config.source.name}]")
        val source = KafkaSourceConfig.stream(spark, config.source.params)
        // exactly-once landing: (query id, batch id)-keyed commit dirs,
        // so an epoch retry after a sink failure never duplicates records
        val sinks = Pipeline.plan(config.nodes, app.registry).leafKeys
          .map(id => id -> new IdempotentParquetSink(s"$outDir/$id")).toMap
        val running = app.execute(source, sinks,
          checkpoint = Some(s"$outDir/_checkpoint"))
        running.query.awaitTermination()
      } else {
        val built = Pipeline.build(spark, config, app.registry, observeMetrics = true)
        try built.leaves.foreach { case (id, df) =>
          df.write.mode("overwrite").parquet(s"$outDir/$id")
        } finally built.unpersistAll()
      }
      // observe metrics arrive via an async listener — give them a
      // bounded moment to land before the summary snapshot
      val deadline = System.currentTimeMillis() + 5000
      while (metrics.snapshot.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val snap = metrics.snapshot.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      Right(s"""{"application":"${config.applicationName}","metrics":$snap}""")
    } finally {
      server.foreach(_.stop())
      metrics.uninstall()
    }
  }
}
