package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.CollectingSink

/** Full executor lifecycle (`executor/executor.go:46-207` analog):
  * config → context → messaging replay → Execute → Shutdown.
  */
class GraftAppSpec extends SparkSpec {

  private val yaml =
    """application: lifecycle-test
      |source:
      |  name: stringsource
      |  params:
      |    topic: events-in
      |    maxpartitionlag: "100"
      |    parallelrecoverymaxrecords: "500"
      |    parallelrecoverymaxrate: "100"
      |nodes:
      |  - name: filternode
      |    params:
      |      prefix: filterme
      |    children:
      |      - name: errornode
      |        params:
      |          prefix: error
      |        error_handler:
      |          name: errorhandlernode
      |""".stripMargin

  test("invalid config is rejected before anything starts") {
    assert(GraftApp.fromYaml(spark, "application: x\nsource:\n  name: nosuch\nnodes: []").isLeft)
  }

  test("messaging replays to EOF before execute: pending recovery lands in the ledger") {
    val bus = new FileMessageBus(Files.createTempFile("graftapp", ".bus"))
    // a recovery request persisted by a previous incarnation
    bus.send(BusMessage("recoveryrequest", "2",
      """{"partitionId":2,"fromOffset":10,"toOffset":60}""".getBytes))

    val app = GraftApp.fromYaml(spark, yaml, bus = Some(bus))
      .fold(e => fail(s"config rejected: $e"), identity)
    val orch = app.recovery.get

    // capped-lag assignment feeds the ledger and publishes the request
    val start = orch.onAssignment(partition = 0, committed = 100L, high = 1000L)
    assert(start == 900L)
    assert(orch.pendingCount >= 1)
    val spec = orch.replaySpec(assigned = Set(0)).get
    assert(spec.startingOffsetsJson.contains("\"0\":400")) // 900-500 cap
    assert(spec.endingOffsetsJson.contains("\"0\":900"))

    // cancel-all over the bus clears everything
    app.ctx.sendMessage(BusMessage("recoverycancelall", "all", Array.emptyByteArray))
    assert(orch.pendingCount == 0)
  }

  test("execute runs the tree over a stream; shutdown stops cleanly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val source = input.toDF().select(
      col("value").as("payload"),
      current_timestamp().as("created"),
      lit(false).as("recovery"))

    val app = GraftApp.fromYaml(spark, yaml)
      .fold(e => fail(s"config rejected: $e"), identity)
    assert(app.ctx.isLeader)

    val results = new CollectingSink
    val deadLetters = new CollectingSink
    val running = app.execute(
      source,
      sinks = Map("errornode" -> results, "errornode.errors" -> deadLetters))

    input.addData("ok-1", "filterme-2", "error-3", "ok-4")
    running.query.processAllAvailable()
    app.shutdown()

    assert(results.rows.map(_.getString(0)).sorted == Seq("ok-1", "ok-4"))
    assert(deadLetters.rows.map(r =>
      r.getStruct(r.fieldIndex("payload")).getString(1)) == Seq("error-3"))
  }
}
