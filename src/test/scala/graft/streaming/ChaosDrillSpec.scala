package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.config.AppConfig
import graft.pipeline.Registry
import graft.sinks.{IdempotentParquetSink, Sink}

/** The full-app chaos drill: every control-plane subsystem COMPOSED
  * under an ungraceful mid-stream driver crash, not tested one at a
  * time (reference analog: `inttest/integration_test.go:125-212` +
  * `executor/message_int_test.go`, which prove the Go executor against
  * a real Kafka/ZK by killing and restarting instances).
  *
  * Scenario: instance A (leader, metrics server up, async RPC node in
  * the tree, one recovery request pending on the control bus) crashes
  * INSIDE a sink write — after the parquet landed, before the epoch
  * committed, with no resign and no ack. Instance B starts on a fresh
  * SparkSession against the SAME checkpoint / control bus / leader
  * dir / results dir and must: take over leadership after TTL expiry,
  * re-receive the unacked recovery request from the bus replay,
  * re-deliver the crashed micro-batch WITHOUT duplicating its rows
  * (batch-id idempotent sink), drain the remaining input, run the
  * bounded recovery replay to completion, and ack it so a third
  * incarnation sees a clean control plane.
  *
  * Two more drills cover a micro-batch whose sinks write concurrently:
  * one sink of three throws mid-batch, and the stream is stopped during
  * a slow write. Neither may leave a write running past the batch, and
  * a restart must replay every idempotent sink to exact contents.
  */
class ChaosDrillSpec extends SparkSpec {

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  /** md5 hex, what asyncrpcnode emits for an "ok" payload. */
  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** crash AFTER the inner idempotent write, BEFORE Spark commits the
    * epoch — the worst-ordered sink failure — once, when armed.
    */
  private final class CrashOnceSink(inner: Sink, armFlag: Path) extends Sink {
    @volatile private var tripped = false
    def writeBatch(df: DataFrame, batchId: Long): Unit = {
      inner.writeBatch(df, batchId)
      if (!tripped && Files.exists(armFlag)) {
        tripped = true
        throw new RuntimeException("injected sink crash (post-write, pre-commit)")
      }
    }
  }

  private def yaml(topic: String): String =
    s"""application: $topic
       |source:
       |  name: stringsource
       |  params:
       |    path: unused
       |    topic: $topic
       |    maxpartitionlag: "100"
       |    parallelrecoverymaxrecords: "500"
       |    parallelrecoverymaxrate: "500"
       |nodes:
       |  - name: filternode
       |    children:
       |      - name: asyncrpcnode
       |        error_handler:
       |          name: errorhandlernode
       |        children:
       |          - name: resultsnode
       |""".stripMargin

  private def fileSource(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema("v STRING").parquet(dir)
      .select(col("v").as("payload"), lit(ts).as("created"), lit(false).as("recovery"))

  test("driver crash mid-batch: takeover, redelivery without duplicates, recovery completion") {
    val s = spark
    import s.implicits._

    val root = Files.createTempDirectory("chaos-drill")
    val srcDir = s"$root/in"
    val cp = s"$root/checkpoint"
    val resultsDir = s"$root/results"
    val dlqDir = s"$root/dlq"
    val busPath = root.resolve("control.jsonl")
    val leaderDir = root.resolve("leader")
    val crashFlag = root.resolve("arm-crash")
    val Topic = "chaos"

    def wave(tag: String, n: Int): Seq[String] =
      (1 to n).map { i =>
        if (i % 10 == 0) s"error $tag-$i"
        else if (i % 7 == 0) s"filterme $tag-$i"
        else s"ok $tag-$i"
      }
    def okMd5(rows: Seq[String]): Seq[String] =
      rows.filter(_.startsWith("ok")).map(md5).sorted

    // a prior incarnation recorded a gap on partition 0 and died
    // before replaying it — the request sits unacked on the bus
    new FileMessageBus(busPath).send(BusMessage("recoveryrequest", "0",
      """{"partitionId":0,"fromOffset":100,"toOffset":300}""".getBytes("UTF-8")))

    // shared manual clock: the drill, not wall time, decides when the
    // dead leader's heartbeats go stale
    @volatile var now = 1000L

    // ---- instance A: leader, metrics up, processing live data ----
    val busA = new FileMessageBus(busPath)
    val appA = GraftApp.fromYaml(s, yaml(Topic), Registry.builtins(), Some(busA))
      .fold(e => fail(s"config rejected: $e"), identity)
    val electionA = new LeaderElection(leaderDir, "instance-a", ttlMs = 100, () => now)
    electionA.start()
    appA.ctx.configureLeader(() => electionA.isLeader)
    assert(appA.ctx.isLeader, "first instance must lead")
    assert(appA.recovery.exists(_.pendingCount == 1),
      "bus replay must deliver the unacked recovery request before execution")

    val metricsA = new PipelineMetrics(s).install()
    val serverA = new MetricsServer(s, metricsA).start()
    val resultsA = new CrashOnceSink(new IdempotentParquetSink(resultsDir), crashFlag)
    val dlqA = new IdempotentParquetSink(dlqDir)

    val wave1 = wave("w1", 40)
    wave1.toDF("v").write.mode("append").parquet(srcDir)
    val runA = appA.execute(fileSource(s, srcDir),
      Map("resultsnode" -> resultsA, "asyncrpcnode.errors" -> dlqA), checkpoint = Some(cp))
    runA.query.processAllAvailable()

    // live scrape while A runs: reference-named counters are visible
    val scrape = {
      val url = new java.net.URI(s"http://localhost:${serverA.boundPort}/metrics").toURL
      val in = url.openStream()
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(scrape.contains("node_received_events_total"), s"missing counter in:\n$scrape")

    // ---- the crash: wave 2 lands, the sink dies post-write ----
    Files.createFile(crashFlag)
    val wave2 = wave("w2", 25)
    wave2.toDF("v").write.mode("append").parquet(srcDir)
    val ex = intercept[StreamingQueryException] { runA.query.processAllAvailable() }
    assert(ex.getMessage.contains("injected sink crash") ||
      Option(ex.getCause).exists(_.getMessage.contains("injected sink crash")))
    // A is DEAD: no shutdown, no resign, no recovery ack. Its metrics
    // server would die with the process — stop it as the harness's
    // stand-in for that.
    serverA.stop(); metricsA.uninstall()
    Files.delete(crashFlag)

    // ---- instance B: new session, same checkpoint/bus/leader dir ----
    val s2 = s.newSession()
    val electionB = new LeaderElection(leaderDir, "instance-b", ttlMs = 100, () => now)
    electionB.start()
    assert(!electionB.isLeader, "B must follow while A's heartbeat is fresh")
    now += 500 // A misses every heartbeat past its ttl
    electionB.heartbeat()
    assert(electionB.isLeader, "B must take over after A's heartbeat expires")

    val busB = new FileMessageBus(busPath)
    val appB = GraftApp.fromYaml(s2, yaml(Topic), Registry.builtins(), Some(busB))
      .fold(e => fail(s"config rejected: $e"), identity)
    appB.ctx.configureLeader(() => electionB.isLeader)
    assert(appB.ctx.isLeader)
    val recB = appB.recovery.getOrElse(fail("recovery not configured"))
    assert(recB.pendingCount == 1, "crashed instance's unacked request must redeliver")

    val metricsB = new PipelineMetrics(s2).install()
    try {
      // same sinks minus the fault injector; same dirs, same checkpoint
      val runB = appB.execute(fileSource(s2, srcDir),
        Map("resultsnode" -> new IdempotentParquetSink(resultsDir),
          "asyncrpcnode.errors" -> new IdempotentParquetSink(dlqDir)),
        checkpoint = Some(cp))
      // the sinks' commit key is (query id, batch id): B must resume A's query
      assert(runB.query.id == runA.query.id, "a restart from the same checkpoint changed the query id")
      runB.query.processAllAvailable()

      // wave 3 proves B keeps consuming beyond the redelivery
      val wave3 = wave("w3", 15)
      wave3.toDF("v").write.mode("append").parquet(srcDir)
      runB.query.processAllAvailable()
      appB.shutdown()

      // ---- EXACTLY-ONCE: every ok payload appears exactly once even
      // though the crashed batch was written once by A and re-delivered
      // to B; same for dead letters ----
      val got = s2.read.parquet(resultsDir).select("payload")
        .as[String].collect().sorted.toSeq
      assert(got == okMd5(wave1 ++ wave2 ++ wave3),
        s"results not exactly-once: ${got.length} rows")
      // dead-letter frames carry the reference's error-document shape:
      // payload = struct(timestamp, event, error(code, message))
      val deadLetters = s2.read.parquet(dlqDir)
        .select(col("payload.event")).as[String].collect().sorted.toSeq
      assert(deadLetters == (wave1 ++ wave2 ++ wave3).filter(_.startsWith("error")).sorted,
        s"dead letters not exactly-once: $deadLetters")

      // ---- bounded recovery replay on B, to completion + ack ----
      val spec = recB.replaySpec(assigned = Set(0), triggerIntervalMs = 1000L)
        .getOrElse(fail("no pending replay"))
      assert(spec.startingOffsetsJson == OffsetMath.offsetsJson(Topic, Map(0 -> 100L)))
      assert(spec.endingOffsetsJson == OffsetMath.offsetsJson(Topic, Map(0 -> 300L)))
      val recResults = new IdempotentParquetSink(s"$root/rec-results")
      val replay = MemoryStream[String](s2)
      val replaySrc = replay.toDF().select(col("value").as("payload"),
        lit(ts).as("created"), lit(true).as("recovery"))
      val runRec = appB.execute(replaySrc,
        Map("resultsnode" -> recResults, "asyncrpcnode.errors" -> new IdempotentParquetSink(s"$root/rec-dlq")))
      val recRows = (100L until 300L).map(o => s"ok rec-$o")
      replay.addData(recRows)
      runRec.query.processAllAvailable()
      appB.shutdown()
      recB.complete(0, 300L)
      assert(recB.pendingCount == 0)
      val recGot = s2.read.parquet(s"$root/rec-results")
      assert(recGot.count() == 200 &&
        recGot.select("recovery").as[Boolean].collect().forall(identity),
        "recovered rows must be tagged recovery=true")

      // ---- a third incarnation sees a clean control plane ----
      val redelivered = ListBuffer[BusMessage]()
      val busC = new FileMessageBus(busPath)
      busC.subscribe(Seq("recoveryrequest"), redelivered += _)
      busC.start()
      assert(redelivered.isEmpty, "completed recovery must not replay to a fresh instance")

      // metrics on B counted the batches it computed. The async
      // node's `received` sits just below its exactly-once checkpoint
      // (Pipeline.buildNode ordering): w3 13 + recovery 200 = 213. The
      // crashed batch's w2 rows are not among them: A wrote its results
      // and its dead letters concurrently and waited for both before
      // failing, so B's re-delivery finds both sinks committed, skips
      // both writes and runs no job. Counters ABOVE the checkpoint
      // break (filternode's) are structurally unobservable for an
      // async subtree — the async node's own received IS the parent's
      // emitted (1:1 pre). Events arrive on async listener buses: wait.
      val deadline = System.currentTimeMillis() + 10000
      while (metricsB.nodeCounts("asyncrpcnode")._1 < 213 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(metricsB.nodeCounts("asyncrpcnode")._1 == 213,
        s"async received mismatch; snapshot=${metricsB.snapshot}")
      assert(metricsB.nodeCounts("resultsnode")._1 > 0)
    } finally {
      appB.shutdown()
      metricsB.uninstall()
      electionB.shutdown()
    }
  }

  // ---- concurrent sink writes under failure and stop ----------------

  private val TreeYaml =
    """application: concurrent
      |source:
      |  name: stringsource
      |  params: {path: unused}
      |nodes:
      |  - name: filternode
      |    children:
      |      - name: errornode
      |        error_handler:
      |          name: errorhandlernode
      |        children:
      |          - name: resultsnode
      |          - name: resultsnode
      |            id: copynode
      |""".stripMargin

  private def mix(tag: String, n: Int): Seq[String] =
    (1 to n).map { i =>
      if (i % 10 == 0) s"error $tag-$i" else if (i % 7 == 0) s"filterme $tag-$i" else s"ok $tag-$i"
    }

  /** counts the writes in flight; `before` runs ahead of the inner write */
  private final class Tracked(inner: Sink, inFlight: AtomicInteger, before: Long => Unit) extends Sink {
    def writeBatch(df: DataFrame, batchId: Long): Unit = {
      inFlight.incrementAndGet()
      try { before(batchId); inner.writeBatch(df, batchId) }
      finally { inFlight.decrementAndGet(); () }
    }
  }

  /** TreeYaml's three leaves, each with its own sink: the success leaf,
    * its copy and the error handler's leaf; `wrap` decorates each by key */
  private def startTree(s: SparkSession, root: Path, name: String)(wrap: (String, Sink) => Sink) = {
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(TreeYaml, reg).fold(e => fail(s"config rejected: $e"), identity)
    def sink(key: String) = wrap(key, new IdempotentParquetSink(s"$root/$key"))
    StreamingPipeline.run(fileSource(s, s"$root/in"), cfg, reg,
      sinks = Map("resultsnode" -> sink("results"), "copynode" -> sink("copy"),
        "errornode.errors" -> sink("errors")),
      checkpoint = Some(s"$root/checkpoint"), queryName = name)
  }

  /** each sink holds exactly what `waves` imply, once */
  private def assertExact(s: SparkSession, root: Path, waves: Seq[String]): Unit = {
    import s.implicits._
    for (key <- Seq("results", "copy")) {
      val got = s.read.parquet(s"$root/$key").select("payload").as[String].collect().sorted.toSeq
      assert(got == waves.filter(_.startsWith("ok")).sorted, s"$key: ${got.length} rows")
    }
    val errors = waves.filter(_.startsWith("error")).sorted
    val got = s.read.parquet(s"$root/errors").select(col("payload.event")).as[String].collect().sorted.toSeq
    assert(got == errors, s"errors: ${got.length} rows, expected ${errors.length}")
  }

  /** the sink at `key` committed the stream's batch `batchId`: its
    * commit key is (query id, batch id), and a restart from the same
    * checkpoint keeps the query id */
  private def committed(root: Path, key: String, run: StreamingPipeline.Running, batchId: Long): Boolean =
    Files.exists(root.resolve(s"$key/batch=${run.query.id}_$batchId/_SUCCESS"))

  test("one of three sinks throws mid-batch: the batch waits for the others, a restart replays to exact counts") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("chaos-sink-throws")
    val inFlight = new AtomicInteger()
    val boom = new RuntimeException("injected failure in the errors sink")
    val w1 = mix("w1", 40); val w2 = mix("w2", 30); val w3 = mix("w3", 20)
    w1.toDF("v").write.mode("append").parquet(s"$root/in")
    val run = startTree(s, root, "chaos-throw") { (key, inner) =>
      new Tracked(inner, inFlight, b =>
        if (b == 1 && key == "errors") throw boom
        else if (b == 1 && key == "results") Thread.sleep(1500))
    }
    run.query.processAllAvailable()
    w2.toDF("v").write.mode("append").parquet(s"$root/in")
    val ex = intercept[StreamingQueryException] { run.query.processAllAvailable() }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).exists(_ eq boom),
      s"the stream failed with another exception: $ex")
    intercept[StreamingQueryException] { run.query.awaitTermination() }
    // the batch returned only after its other writes ended: the slow one committed
    assert(!run.query.isActive && inFlight.get == 0, s"${inFlight.get} writes still running")
    assert(committed(root, "results", run, 1) && committed(root, "copy", run, 1) && !committed(root, "errors", run, 1))

    // the sink stops throwing; the failed batch replays whole
    val again = startTree(s, root, "chaos-throw")((_, inner) => inner)
    try {
      again.query.processAllAvailable()
      w3.toDF("v").write.mode("append").parquet(s"$root/in")
      again.query.processAllAvailable()
    } finally again.shutdown()
    assertExact(s, root, w1 ++ w2 ++ w3)
  }

  test("shutdown during a slow write: no write outlives it, no sink changes after it, a restart replays exactly") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("chaos-stop")
    val name = "chaos-stop"
    val started = new CountDownLatch(1)
    val marker = root.resolve("results/_interrupted-batch-1")
    // the slow write blocks until interrupted, then takes a second to
    // return, as a client call that finishes its request first would
    val slow: Long => Unit = b => if (b == 1) {
      started.countDown()
      try Thread.sleep(60000) catch { case _: InterruptedException => () }
      val until = System.nanoTime() + 1000000000L
      while (System.nanoTime() < until) try Thread.sleep(50) catch { case _: InterruptedException => () }
      Files.write(marker, Array.emptyByteArray)
      throw new InterruptedException("slow write interrupted")
    }
    val w1 = mix("w1", 40); val w2 = mix("w2", 30); val w3 = mix("w3", 20)
    w1.toDF("v").write.mode("append").parquet(s"$root/in")
    val fastInFlight = new AtomicInteger()
    val run = startTree(s, root, name) { (key, inner) =>
      if (key == "results") new Tracked(inner, new AtomicInteger(), slow) else new Tracked(inner, fastInFlight, _ => ())
    }
    run.query.processAllAvailable()
    w2.toDF("v").write.mode("append").parquet(s"$root/in")
    assert(started.await(60, TimeUnit.SECONDS), "batch 1 never reached the slow write")
    // stop once the two fast writes of batch 1 have returned
    def fastDone = committed(root, "errors", run, 1) && committed(root, "copy", run, 1) && fastInFlight.get == 0
    val deadline = System.currentTimeMillis() + 60000
    while (!fastDone && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(fastDone, "the fast writes of batch 1 did not return")
    run.shutdown()

    val alive = Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(s"graft-sink-$name-"))
    assert(alive.isEmpty, s"batch threads outlived shutdown(): ${alive.map(_.getName)}")
    assert(Files.exists(marker), "shutdown() returned before the slow write ended")
    assert(run.query.exception.isEmpty, s"stop was not clean: ${run.query.exception}")
    def listing: Map[String, (Long, Long)] = Seq("results", "copy", "errors").flatMap { key =>
      Files.walk(root.resolve(key)).iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        f.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
      }.toSeq
    }.toMap
    val atStop = listing
    Thread.sleep(1500)
    assert(listing == atStop, "a sink directory changed after shutdown() returned")
    assert(!committed(root, "results", run, 1))

    val again = startTree(s, root, name)((_, inner) => inner)
    try {
      again.query.processAllAvailable()
      w3.toDF("v").write.mode("append").parquet(s"$root/in")
      again.query.processAllAvailable()
    } finally again.shutdown()
    assertExact(s, root, w1 ++ w2 ++ w3)
  }
}
