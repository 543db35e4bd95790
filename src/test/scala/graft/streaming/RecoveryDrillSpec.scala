package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.Registry
import graft.sinks.CollectingSink

/** The reference's recovery integration scenario
  * (`inttest/integration_test.go:125-212`) end to end through the real
  * GraftApp + RecoveryOrchestrator + FileMessageBus wiring: 4
  * partitions × 1000 pre-produced records, maxpartitionlag=100 →
  * live start at 900; parallelrecoverymaxrecords=500 → ranges
  * [400,900) replayed per partition with `recovery=true`; total
  * consumed = 400 live + 2000 recovered = 2400, audited at the
  * pipeline's own observe metrics like the reference audits its
  * RecoveryEvents counters.
  */
class RecoveryDrillSpec extends SparkSpec {

  private val Topic = "inttest"
  private val ts = Timestamp.valueOf("2024-01-01 00:00:00")

  /** deterministic payload mix per offset (inttest's produce mix shape:
    * most succeed, some filtered, some dead-lettered). */
  private def payload(p: Int, o: Long): String =
    if (o % 30 == 0) s"error p$p-o$o"
    else if (o % 10 == 0) s"filterme p$p-o$o"
    else s"ok p$p-o$o"

  test("full lifecycle: bus replay → ledger → capped live start → bounded replay → progress → complete, 2400 total") {
    val s = spark
    import s.implicits._

    val dir = Files.createTempDirectory("recovery-drill")
    val busPath = dir.resolve("control.jsonl")

    // a prior incarnation recorded partition 0's gap and crashed before
    // replaying it — the request sits unacked on the control plane
    new FileMessageBus(busPath).send(BusMessage("recoveryrequest", "0",
      s"""{"partitionId":0,"fromOffset":400,"toOffset":900}""".getBytes("UTF-8")))

    val yaml =
      s"""application: $Topic
         |source:
         |  name: stringsource
         |  params:
         |    path: unused
         |    topic: $Topic
         |    maxpartitionlag: "100"
         |    parallelrecoverymaxrecords: "500"
         |    parallelrecoverymaxrate: "500"
         |nodes:
         |  - name: filternode
         |    children:
         |      - name: errornode
         |        error_handler:
         |          name: errorhandlernode
         |        children:
         |          - name: resultsnode
         |""".stripMargin

    val metrics = new PipelineMetrics(s).install()
    val bus = new FileMessageBus(busPath)
    val app = GraftApp.fromYaml(s, yaml, Registry.builtins(), Some(bus))
      .fold(e => fail(s"config rejected: $e"), identity)
    val rec = app.recovery.getOrElse(fail("recovery not configured"))

    try {
      // StartMessaging replayed the control topic to EOF before
      // execution: the crashed instance's request is already pending
      assert(rec.pendingCount == 1)

      // rebalance: 4 partitions, nothing committed, high watermark 1000
      val starts = (0 to 3).map(p => rec.onAssignment(p, committed = 0L, high = 1000L))
      assert(starts.forall(_ == 900L), "live start must be high - maxLag")
      // partition 0's re-computed range merges with the replayed one
      assert(rec.pendingCount == 4)

      val results = new CollectingSink
      val dlq = new CollectingSink

      // ---- live query from the capped starts (offsets 900..999) ----
      val live = MemoryStream[String](s)
      val liveSrc = live.toDF().select(col("value").as("payload"),
        lit(ts).as("created"), lit(false).as("recovery"))
      val r1 = app.execute(liveSrc, Map("resultsnode" -> results, "errornode.errors" -> dlq))
      live.addData(for { p <- 0 to 3; o <- 900L until 1000L } yield payload(p, o))
      r1.query.processAllAvailable()
      app.shutdown()

      // ---- bounded replay driven entirely off the ledger's spec ----
      val spec = rec.replaySpec(assigned = Set(0, 1, 2, 3), triggerIntervalMs = 1000L)
        .getOrElse(fail("no pending replay"))
      assert(spec.maxOffsetsPerTrigger == 500L, "rate cap × trigger interval")
      assert(spec.startingOffsetsJson ==
        OffsetMath.offsetsJson(Topic, (0 to 3).map(_ -> 400L).toMap))
      assert(spec.endingOffsetsJson ==
        OffsetMath.offsetsJson(Topic, (0 to 3).map(_ -> 900L).toMap))
      val offRe = """"(\d+)"\s*:\s*(\d+)""".r
      def offsets(json: String): Map[Int, Long] =
        offRe.findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toMap
      val from = offsets(spec.startingOffsetsJson)
      val to = offsets(spec.endingOffsetsJson)

      val replay = MemoryStream[String](s)
      val replaySrc = replay.toDF().select(col("value").as("payload"),
        lit(ts).as("created"), lit(true).as("recovery"))
      val r2 = app.execute(replaySrc, Map("resultsnode" -> results, "errornode.errors" -> dlq))

      // first chunk, then a progress checkpoint advances the ledger
      val mid = 650L
      replay.addData(for { p <- 0 to 3; o <- from(p) until mid } yield payload(p, o))
      r2.query.processAllAvailable()
      (0 to 3).foreach(p => rec.progress(p, mid))
      val resumed = rec.replaySpec(Set(0, 1, 2, 3)).get
      assert(offsets(resumed.startingOffsetsJson) == (0 to 3).map(_ -> mid).toMap,
        "progress checkpoint must advance the replay start")

      // remainder, then completion
      replay.addData(for { p <- 0 to 3; o <- mid until to(p) } yield payload(p, o))
      r2.query.processAllAvailable()
      app.shutdown()
      (0 to 3).foreach(p => rec.complete(p, to(p)))
      assert(rec.pendingCount == 0)

      // completion acked on the control plane: a fresh instance's
      // replay-to-EOF delivers no pending recovery requests
      val redelivered = ListBuffer[BusMessage]()
      val bus2 = new FileMessageBus(busPath)
      bus2.subscribe(Seq("recoveryrequest"), redelivered += _)
      bus2.start()
      assert(redelivered.isEmpty, "completed recoveries must not replay")

      // ---- the reference's audit: totals and recovery tagging ----
      // 400 live + 4×500 recovered = 2400 consumed at the root node
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.nodeCounts("filternode")._1 < 2400 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(metrics.nodeCounts("filternode")._1 == 2400)

      // sink-level: exact survivor multisets, split by the recovery tag
      def survivors(range: Int => Seq[Long]) = (for {
        p <- 0 to 3; o <- range(p)
        pl = payload(p, o) if pl.startsWith("ok")
      } yield pl).sorted
      val (recRows, liveRows) = results.rows.partition(_.getBoolean(2))
      assert(liveRows.map(_.getString(0)).sorted == survivors(_ => 900L until 1000L))
      assert(recRows.map(_.getString(0)).sorted == survivors(p => from(p) until to(p)))
      // per-partition recovered consumption is exactly 500
      (0 to 3).foreach(p => assert(to(p) - from(p) == 500L))
      // dead letters flow for both live and recovered events, through
      // errornode's error handler (errorhandlernode passes them unchanged)
      val dlPayloads = dlq.rows.map(_.getStruct(0).getString(1))
      val expectedErrors = (for { p <- 0 to 3; o <- (400L until 1000L) }
        yield payload(p, o)).filter(_.startsWith("error")).sorted
      assert(dlPayloads.sorted == expectedErrors)
    } finally {
      app.shutdown()
      metrics.uninstall()
    }
  }
}
