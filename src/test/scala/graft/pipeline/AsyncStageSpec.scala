package graft.pipeline

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.CollectingSink
import graft.streaming.StreamingPipeline

/** The per-row AsyncNode (node/node.go:36-39, docs/async-nodes.md):
  * bounded in-flight concurrency, input-order results regardless of
  * completion order, and the three callback outcomes routed through
  * the standard ErrorRouting split.
  */
class AsyncStageSpec extends SparkSpec {

  test("boundedMap: concurrency is bounded AND actually used; results in input order") {
    val pool = Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val concurrent = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val out = AsyncStage.boundedMap((1 to 200).iterator, maxInFlight = 4) { i =>
      val c = concurrent.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, c))
      // completion order scrambled: even items finish slower
      Thread.sleep(if (i % 2 == 0) 3 else 0)
      concurrent.decrementAndGet()
      i * 10
    }.toList
    pool.shutdown()
    assert(out == (1 to 200).map(_ * 10).toList) // input order, not completion order
    assert(maxSeen.get() <= 4, s"in-flight bound violated: ${maxSeen.get()}")
    assert(maxSeen.get() >= 2, s"no concurrency observed: ${maxSeen.get()}")
  }

  test("boundedMap: maxInFlight=1 degenerates to a serial map") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val seen = scala.collection.mutable.ListBuffer[Int]()
    val out = AsyncStage.boundedMap((1 to 10).iterator, 1) { i => seen += i; i }.toList
    assert(out == (1 to 10).toList && seen.toList == (1 to 10).toList)
  }

  test("async node routes ReturnEvent/ReturnError/ReturnFiltered through ErrorRouting") {
    val reg = Registry.builtins()
    val stage = reg.instantiateNode("asyncrpcnode", Map(
      "error_prefix" -> "error", "filter_prefix" -> "filterme",
      "max_in_flight" -> "4", "latency_ms" -> "1"))
    val src = spark.range(30).select(
      when(col("id") % 10 === 0, concat(lit("error-"), col("id")))
        .when(col("id") % 10 === 1, concat(lit("filterme-"), col("id")))
        .otherwise(concat(lit("event-"), col("id"))).as("payload"),
      current_timestamp().as("created"),
      lit(false).as("recovery"))
    val split = ErrorRouting(src, stage)
    val ok = split.output.collect()
    val dead = split.deadLetters.get.collect()
    assert(ok.length == 24)   // 30 − 3 errors − 3 filtered
    assert(dead.length == 3)
    // ReturnEvent carries the TRANSFORMED payload (md5 = 32 hex chars)
    assert(ok.forall(_.getString(0).matches("[0-9a-f]{32}")))
    // the dead-letter envelope wraps the ORIGINAL payload + async code
    assert(dead.forall { r =>
      val p = r.getStruct(0)
      p.getString(1).startsWith("error-") &&
        p.getStruct(2).getString(0) == "ERR_ASYNC"
    })
    // output envelope is clean: no outcome helper columns leak
    assert(split.output.columns.toSeq == Seq("payload", "created", "recovery"))
    assert(split.deadLetters.get.columns.toSeq == Seq("payload", "created", "recovery"))
  }

  test("a THROWING call dead-letters as ERR_ASYNC_PANIC instead of killing the task") {
    val stage = AsyncStage.stage(
      p => if (p.contains("boom")) sys.error(s"kaboom on $p")
           else AsyncStage.Returned(p.toUpperCase),
      maxInFlight = 2)
    val s = spark
    import s.implicits._
    val src = Seq("a", "boom-1", "b").toDF("payload")
      .select(col("payload"), current_timestamp().as("created"), lit(false).as("recovery"))
    val split = ErrorRouting(src, stage)
    assert(split.output.collect().map(_.getString(0)).sorted.toSeq == Seq("A", "B"))
    val dead = split.deadLetters.get.collect()
    assert(dead.length == 1)
    assert(dead.head.getStruct(0).getStruct(2).getString(0) == "ERR_ASYNC_PANIC")
    assert(dead.head.getStruct(0).getStruct(2).getString(1).contains("kaboom on boom-1"))
  }

  test("per-call timeout dead-letters hung calls as ERR_ASYNC_TIMEOUT; the window keeps moving") {
    val reg = Registry.builtins()
    val stage = reg.instantiateNode("asyncrpcnode", Map(
      "slow_prefix" -> "slow", "slow_ms" -> "30000",
      "max_in_flight" -> "4", "timeout_ms" -> "200"))
    val src = spark.range(12).select(
      when(col("id") === 5, lit("slow-endpoint"))
        .otherwise(concat(lit("event-"), col("id"))).as("payload"),
      current_timestamp().as("created"),
      lit(false).as("recovery"))
      .coalesce(1) // one partition: the hung call sits in the same window as the rest
    val t0 = System.nanoTime()
    val split = ErrorRouting(src, stage)
    val ok = split.output.collect()
    val dead = split.deadLetters.get.collect()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(ok.length == 11 && dead.length == 1)
    assert(dead.head.getStruct(0).getString(1) == "slow-endpoint")
    assert(dead.head.getStruct(0).getStruct(2).getString(0) == "ERR_ASYNC_TIMEOUT")
    // a 30s hang must NOT stall the stage — the deadline releases it
    assert(elapsedMs < 15000, s"stage stalled behind the hung call: $elapsedMs ms")
  }

  test("the RPC fires EXACTLY ONCE per row even when both branches evaluate") {
    // without the pre-result cache, the output and dead-letter branches
    // are separate lineages and each action re-fires every call —
    // doubling side effects and, near a timeout boundary, letting the
    // same row time out in one evaluation and succeed in the other
    val calls = spark.sparkContext.longAccumulator("rpc_calls")
    val stage = AsyncStage.stage(
      p => {
        calls.synchronized(calls.add(1L)) // in-flight calls share the task's copy
        if (p.startsWith("error")) AsyncStage.Errored("ERR_ASYNC", p)
        else AsyncStage.Returned(p.toUpperCase)
      },
      maxInFlight = 2)
    val src = spark.range(20).select(
      when(col("id") % 5 === 0, concat(lit("error-"), col("id")))
        .otherwise(concat(lit("event-"), col("id"))).as("payload"),
      current_timestamp().as("created"), lit(false).as("recovery"))
    val split = ErrorRouting(src, stage)
    assert(split.output.count() == 16)
    assert(split.deadLetters.get.count() == 4)
    assert(calls.value == 20L, s"RPC fired ${calls.value} times for 20 rows")
  }

  test("the RPC fires exactly once per row per micro-batch while a stream writes both branches concurrently") {
    // the kit tree of the streaming benchmark plus a second child under
    // the async node: its two children's leaves (each re-deriving the
    // node's uncached output) and its error handler's leaf are three
    // concurrent writes, all reading the node's lazy localCheckpoint
    val calls = spark.sparkContext.longAccumulator("rpc_calls_stream")
    val reg = Registry.builtins()
    reg.registerNodeType("countingrpcnode", new StageFactory {
      val consumes = Registry.StringT
      val produces = Registry.StringT
      def build(params: Map[String, String]): Stage = {
        val counter = calls // the task closure captures the accumulator, not this factory
        AsyncStage.stage(
        p => {
          // calls run on the stage's pool: a task's accumulator copy is
          // shared by its in-flight calls, and LongAccumulator.add is not atomic
          counter.synchronized(counter.add(1L))
          Thread.sleep(1)
          if (p.startsWith("rpcfail")) AsyncStage.Errored("ERR_ASYNC", p)
          else if (p.startsWith("skip")) AsyncStage.Filtered
          else AsyncStage.Returned(p.toUpperCase)
        },
        maxInFlight = 4)
      }
    })
    val cfg = graft.config.AppConfig.parse(
      """application: rpcstream
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: filternode
        |    children:
        |      - name: errornode
        |        error_handler:
        |          name: errorkafkaproducer
        |          params: {topic: kit-errors}
        |        children:
        |          - name: countingrpcnode
        |            error_handler:
        |              name: errorkafkaproducer
        |              params: {topic: rpc-errors}
        |            children:
        |              - name: fanoutnode
        |                params: {copies: "3"}
        |                children:
        |                  - name: stringtoproducerequestnode
        |                    params: {topic: kit-out}
        |                    children:
        |                      - name: kafkaproducer
        |                        id: kitproducer
        |              - name: resultsnode
        |                id: rpcresults
        |""".stripMargin, reg).fold(e => fail(s"config rejected: $e"), identity)
    // per 20 events: 2 filtered, 3 errored, 3 RPC failures, 1 RPC skip, 11 ok;
    // the 15 that pass filternode and errornode reach the RPC
    def payload(i: Int): String = (i % 20 match {
      case 0 | 1 => "filterme"
      case 2 | 3 | 4 => "error"
      case 5 | 6 | 7 => "rpcfail"
      case 8 => "skip"
      case _ => "ok"
    }) + s"-$i"
    val s = spark
    import s.implicits._
    val input = MemoryStream[String](s, 4)
    val source = input.toDF().select(col("value").as("payload"),
      lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("created"), lit(false).as("recovery"))
    val sinks = Seq("kitproducer", "rpcresults", "errornode.errors", "countingrpcnode.errors")
      .map(_ -> new CollectingSink).toMap
    val running = StreamingPipeline.run(source, cfg, reg, sinks = sinks, queryName = "rpc-exactly-once")
    try {
      for (b <- 1 to 4) {
        val before = calls.value
        input.addData((0 until 200).map(i => payload(b * 1000 + i)))
        running.query.processAllAvailable()
        assert(calls.value - before == 150L, s"batch $b: RPC fired ${calls.value - before} times for 150 rows")
        assert(sinks.map { case (id, sink) => id -> sink.rows.size } == Map("kitproducer" -> 330 * b,
          "rpcresults" -> 110 * b, "errornode.errors" -> 30 * b, "countingrpcnode.errors" -> 30 * b))
      }
    } finally running.shutdown()
  }

  test("timeout_ms=0 (default) never times a call out") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val out = AsyncStage.boundedMapWithTimeout((1 to 5).iterator, 2, 0L)(
      i => { Thread.sleep(30); i * 2 },
      _ => fail("timed out with the deadline disabled")).toList
    assert(out == List(2, 4, 6, 8, 10))
  }

  test("async node composes in a YAML pipeline tree with an error_handler") {
    val reg = Registry.builtins()
    val yaml =
      """application: async-pipeline
        |source:
        |  name: stringsource
        |nodes:
        |  - name: asyncrpcnode
        |    workers: 2
        |    params:
        |      error_prefix: error
        |      filter_prefix: filterme
        |      max_in_flight: 4
        |    error_handler:
        |      name: errorhandlernode
        |    children:
        |      - name: resultsnode
        |""".stripMargin
    val cfg = graft.config.AppConfig.parse(yaml, reg)
      .fold(e => fail(s"config rejected: $e"), identity)
    val src = spark.range(40).select(
      when(col("id") % 20 === 0, concat(lit("error-"), col("id")))
        .when(col("id") % 20 === 1, concat(lit("filterme-"), col("id")))
        .otherwise(concat(lit("event-"), col("id"))).as("payload"),
      current_timestamp().as("created"),
      lit(false).as("recovery"))
    val built = Pipeline.plan(cfg.nodes, reg).buildOn(src)
    assert(built.find("resultsnode").get.output.count() == 36)
    assert(built.find("asyncrpcnode").get.errorHandlerOutput.get.count() == 2)
  }
}
