package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.AppConfig
import graft.model.Nodeconfig
import graft.pipeline.Registry
import graft.sinks.Sink

/** The executor facade — the reference's
  * `executor.New(WithConfigFile(path)) → Execute() → Shutdown()`
  * lifecycle (`executor/executor.go:46-207`) on Spark:
  *
  *   1. registry of built-ins (`noderegistrar.go:16-39`)
  *   2. config parse + full validation (`config/config.go:39-237`)
  *   3. context: instance id, leader shim (`executor.go:75-87`)
  *   4. messaging init BEFORE execution, blocking until the control
  *      topic replay reaches EOF (`executor/message.go:30-48`) — so
  *      pending recovery requests are in the ledger before any data
  *      flows
  *   5. Execute(): the streaming query over the stage tree
  *   6. Shutdown(): graceful stop after the in-flight micro-batch
  *
  * Cluster-singleton parts default onto the driver; deployments with
  * several pipeline drivers set `leaderelectionpath` (shared dir) and
  * get a real election — see `FbContext` / `LeaderElection`.
  */
final class GraftApp private (
    val config: AppConfig,
    val registry: Registry,
    val ctx: FbContext,
    val recovery: Option[RecoveryOrchestrator],
    val election: Option[LeaderElection] = None) {

  private var running: Option[StreamingPipeline.Running] = None

  /** Start the pipeline over an explicit source stream (tests, file
    * streams); Kafka deployments build the source via
    * `KafkaSourceConfig.stream` with offsets from
    * `recovery.onAssignment`. `sinks` are keyed by leaf, as
    * `Pipeline.Plan.leafKeys` lists them: dead letters reach a sink as the
    * `<id>.errors` output of the node's error_handler (see
    * `StreamingPipeline.run`).
    */
  def execute(
      source: DataFrame,
      sinks: Map[String, Sink],
      checkpoint: Option[String] = None): StreamingPipeline.Running = {
    val r = StreamingPipeline.run(
      source, config, registry, sinks, checkpoint, queryName = config.applicationName)
    running = Some(r)
    r
  }

  /** graceful stop: in-flight micro-batch completes, then the query
    * stops (`executor.go:192-207` cascade-drain analog). */
  def shutdown(): Unit = {
    running.foreach(_.shutdown())
    running = None
    // resign so followers promote immediately (leader.go:52-55)
    election.foreach(_.shutdown())
  }
}

object GraftApp {

  /** Build the app: parse/validate config, wire context + messaging +
    * recovery, replay the control topic to EOF. Returns the config
    * error (verbatim reference message) on invalid YAML.
    */
  def fromYaml(
      spark: SparkSession,
      yaml: String,
      registry: Registry = Registry.builtins(),
      bus: Option[MessageBus] = None): Either[String, GraftApp] =
    AppConfig.parse(yaml, registry).map { config =>
      val ctx = new FbContext(
        bus.getOrElse(new NoopMessageBus),
        spark.sparkContext.applicationId)
      // multi-instance deployments coordinate through shared storage
      // (executor.go:84-87: election only when configured; otherwise
      // the driver is the singleton and isLeader stays true)
      val election = config.leaderElectionPath.map { p =>
        val e = new LeaderElection(java.nio.file.Paths.get(p), ctx.instanceId)
        e.start()
        e.startHeartbeats()
        ctx.configureLeader(() => e.isLeader)
        e
      }
      val recovery = for {
        b <- bus
        src = config.source
        if src.params.contains("maxpartitionlag")
      } yield new RecoveryOrchestrator(
        new RecoveryLedger,
        src.params.getOrElse("topic", config.applicationName),
        Nodeconfig(src.params),
        Some(b))
      // StartMessaging semantics: replay-to-EOF BEFORE execution so the
      // ledger holds all pending recovery requests (`message.go:30-48`)
      bus.foreach(_.start())
      new GraftApp(config, registry, ctx, recovery, election)
    }
}

/** In-memory bus for deployments that don't configure internaldata —
  * messaging becomes process-local (still at-least-once to local
  * subscribers).
  */
final class NoopMessageBus extends MessageBus {
  private val handlers =
    scala.collection.mutable.ListBuffer[(Seq[String], BusMessage => Unit)]()
  override def send(m: BusMessage): Unit =
    handlers.foreach { case (types, h) => if (types.contains(m.messageType)) h(m) }
  override def ack(messageType: String, key: String): Unit = ()
  override def subscribe(messageTypes: Seq[String], handler: BusMessage => Unit): Unit =
    handlers += ((messageTypes, handler))
  override def start(): Unit = ()
}
