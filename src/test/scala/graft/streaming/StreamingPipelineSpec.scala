package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.config.AppConfig
import graft.pipeline.Registry
import graft.sinks.CollectingSink

/** End-to-end streaming run of the reference's deterministic 10/5/3
  * mix through the full config tree — the Structured Streaming analog
  * of `executor/executor_test.go:23-80` / `inttest/integration_test.go`
  * exact-count assertions.
  */
class StreamingPipelineSpec extends SparkSpec {

  test("streaming pipeline routes success/filtered/error with exact counts") {
    val s = spark
    import s.implicits._

    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: streamtest
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
        |""".stripMargin, reg).fold(e => sys.error(e), identity)

    val input = MemoryStream[String](s)
    val source = input.toDF().select(
      col("value").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
      lit(false).as("recovery"))

    val results = new CollectingSink
    val deadLetters = new CollectingSink
    val running = StreamingPipeline.run(
      source, cfg, reg,
      sinks = Map("resultsnode" -> results),
      deadLetterSinks = Map("errornode" -> deadLetters),
      trigger = Trigger.ProcessingTime(0L))

    try {
      input.addData((1 to 10).map(i => s"success $i"))
      input.addData((1 to 5).map(i => s"filterme $i"))
      input.addData((1 to 3).map(i => s"error $i"))
      running.query.processAllAvailable()

      assert(results.rows.size == 10)
      assert(deadLetters.rows.size == 3)
      val codes = deadLetters.rows.map(_.getStruct(0).getStruct(2).getString(0)).toSet
      assert(codes == Set("ERR_TEST"))

      // second wave: streaming keeps consuming (supervision is Spark's)
      input.addData(Seq("success again", "filterme again"))
      running.query.processAllAvailable()
      assert(results.rows.size == 11)
    } finally running.shutdown()
  }

  test("async RPC node streams: per-batch pool lifecycle, outcomes routed per micro-batch") {
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: asyncstream
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: asyncrpcnode
        |    params:
        |      error_prefix: error
        |      filter_prefix: filterme
        |      max_in_flight: 4
        |      latency_ms: 1
        |    error_handler:
        |      name: errorhandlernode
        |    children:
        |      - name: resultsnode
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val input = MemoryStream[String](s)
    val source = input.toDF().select(
      col("value").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
      lit(false).as("recovery"))
    val results = new CollectingSink
    val deadLetters = new CollectingSink
    val running = StreamingPipeline.run(
      source, cfg, reg,
      sinks = Map("resultsnode" -> results),
      deadLetterSinks = Map("asyncrpcnode" -> deadLetters),
      trigger = Trigger.ProcessingTime(0L))
    try {
      input.addData((1 to 8).map(i => s"success $i") ++ Seq("error 1", "filterme 1"))
      running.query.processAllAvailable()
      assert(results.rows.size == 8)
      assert(results.rows.forall(_.getString(0).matches("[0-9a-f]{32}"))) // RPC result
      assert(deadLetters.rows.size == 1)
      assert(deadLetters.rows.head.getStruct(0).getStruct(2).getString(0) == "ERR_ASYNC")
      // a second micro-batch gets a fresh pool — no exhausted-executor carryover
      input.addData(Seq("success again", "error again"))
      running.query.processAllAvailable()
      assert(results.rows.size == 9 && deadLetters.rows.size == 2)
    } finally running.shutdown()
  }

  test("chunker node fans documents into chunk events over a stream") {
    val s = spark
    import s.implicits._

    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: chunkstream
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: chunker
        |    params: {chunk_size: "4", overlap: "1"}
        |    children:
        |      - name: resultsnode
        |""".stripMargin, reg).fold(e => sys.error(e), identity)

    val input = MemoryStream[String](s)
    val source = input.toDF().select(
      col("value").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
      lit(false).as("recovery"))
    val results = new CollectingSink
    val running = StreamingPipeline.run(
      source, cfg, reg,
      sinks = Map("resultsnode" -> results),
      deadLetterSinks = Map.empty,
      trigger = Trigger.ProcessingTime(0L))
    try {
      // 6 tokens, size 4, stride 3 → 2 chunks; 3 tokens → 1 chunk
      input.addData(Seq("one two three four five six", "a b c"))
      running.query.processAllAvailable()
      assert(results.rows.size == 3)
      val texts = results.rows.map(_.getString(0)).toSet
      assert(texts == Set("one two three four", "four five six", "a b c"))
    } finally running.shutdown()
  }

  test("event-time tumbling window with watermark aggregates a stream") {
    val s = spark
    import s.implicits._
    val input = MemoryStream[(Timestamp, Double)](s)
    val df = input.toDF().toDF("ts", "value")
    val agg = EventTime.tumbling(df, "ts", "10 minutes", watermarkDelay = Some("20 minutes"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))

    val sinkName = "evtwin"
    val q = agg.writeStream.format("memory").queryName(sinkName)
      .outputMode("update").trigger(Trigger.ProcessingTime(0L)).start()
    try {
      def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData(Seq((t(1), 1.0), (t(2), 2.0), (t(11), 10.0)))
      q.processAllAvailable()
      val rows = s.sql(s"SELECT window.start, n, s FROM $sinkName").collect()
      val m = rows.map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
      assert(m("2024-01-01 10:00:00.0") == (2L, 3.0))
      assert(m("2024-01-01 10:10:00.0") == (1L, 10.0))
    } finally q.stop()
  }

  test("pipeline metrics observed via listener") {
    val s = spark
    val metrics = new PipelineMetrics(s).install()
    try {
      import s.implicits._
      val reg = Registry.builtins()
      val cfg = AppConfig.parse(
        """application: metricstest
          |source:
          |  name: stringsource
          |  params: {path: unused}
          |nodes:
          |  - name: filternode
          |""".stripMargin, reg).fold(e => sys.error(e), identity)
      val mix = ((1 to 10).map(i => s"success $i") ++ (1 to 5).map(i => s"filterme $i"))
        .toDF("payload")
        .select(col("payload"), current_timestamp().as("created"), lit(false).as("recovery"))
      val built = graft.pipeline.Pipeline.buildOn(mix, cfg.nodes, reg,
        observeMetrics = true, persistShared = false)
      built.roots.head.output.collect() // action triggers listener
      // listener callbacks are async — poll for arrival
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.nodeCounts("filternode")._1 == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val (received, emitted) = metrics.nodeCounts("filternode")
      assert(received == 15 && emitted == 10)
    } finally metrics.uninstall()
  }

  test("discard_on_full_buffer sheds per partition and counts discards") {
    val s = spark
    val metrics = new PipelineMetrics(s).install()
    try {
      import s.implicits._
      val reg = Registry.builtins()
      val cfg = AppConfig.parse(
        """application: shedtest
          |source:
          |  name: stringsource
          |  params: {path: unused}
          |nodes:
          |  - name: filternode
          |    children:
          |      - name: resultsnode
          |        buffersize: 7
          |        discard_on_full_buffer: true
          |""".stripMargin, reg).fold(e => sys.error(e), identity)
      // single partition → one bounded channel of 7: the pre-r11 cap
      // semantics exactly
      val mix = ((1 to 20).map(i => s"success $i") ++ (1 to 5).map(i => s"filterme $i"))
        .toDF("payload")
        .select(col("payload"), current_timestamp().as("created"), lit(false).as("recovery"))
        .repartition(1)
      val built = graft.pipeline.Pipeline.buildOn(mix, cfg.nodes, reg,
        observeMetrics = true, persistShared = false)
      val out = built.find("resultsnode").get.output.collect()
      assert(out.length == 7, s"expected the cap, got ${out.length}")
      // survivors are real upstream rows, not fabricated
      assert(out.map(_.getString(0)).forall(_.startsWith("success")))
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.nodeCounts("resultsnode")._1 == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(metrics.nodeCounts("resultsnode") == ((7L, 7L)))
      assert(metrics.discardedEvents("resultsnode") == 13L) // 20 offered - 7 admitted
      assert(metrics.discardedEvents("filternode") == 0L)   // unflagged node sheds nothing
    } finally metrics.uninstall()
  }

  test("discard_on_full_buffer capacity scales with workers (one channel per task)") {
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: shedtest
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: filternode
        |    children:
        |      - name: resultsnode
        |        workers: 3
        |        buffersize: 5
        |        discard_on_full_buffer: true
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    // 60 surviving rows from 1 partition, workers floor → 3 round-robin
    // partitions of 20 each, each channel admits 5 → exactly 15 kept
    val mix = (1 to 60).map(i => s"success $i").toDF("payload")
      .select(col("payload"), current_timestamp().as("created"), lit(false).as("recovery"))
      .repartition(1)
    val built = graft.pipeline.Pipeline.buildOn(mix, cfg.nodes, reg,
      observeMetrics = false, persistShared = false)
    val out = built.find("resultsnode").get.output
    assert(out.rdd.getNumPartitions == 3, "shed must not collapse parallelism")
    val perPart = out.rdd.mapPartitions(it => Iterator.single(it.size)).collect().toSeq
    assert(perPart == Seq(5, 5, 5), s"per-channel admission violated: $perPart")
  }

  test("discard_on_full_buffer capacity is workers x buffersize even when the input plans WIDER") {
    // an input already at 8 partitions (a multi-split scan at corpus
    // scale) must still shed at exactly workers x buffersize — the
    // round-11 review caught the floor-only repartition letting the
    // capacity silently become buffersize x split-count
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: shedtest
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: filternode
        |    children:
        |      - name: resultsnode
        |        workers: 3
        |        buffersize: 5
        |        discard_on_full_buffer: true
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val mix = (1 to 60).map(i => s"success $i").toDF("payload")
      .select(col("payload"), current_timestamp().as("created"), lit(false).as("recovery"))
      .repartition(8)
    val built = graft.pipeline.Pipeline.buildOn(mix, cfg.nodes, reg,
      observeMetrics = false, persistShared = false)
    val out = built.find("resultsnode").get.output
    assert(out.rdd.getNumPartitions == 3, "shed must pin the channel count to workers")
    assert(out.count() == 15L, "capacity must be workers x buffersize, not buffersize x splits")
    // and with the default single worker: exactly one channel
    val cfg1 = AppConfig.parse(
      """application: shedtest
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: filternode
        |    children:
        |      - name: resultsnode
        |        buffersize: 7
        |        discard_on_full_buffer: true
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val built1 = graft.pipeline.Pipeline.buildOn(mix, cfg1.nodes, reg,
      observeMetrics = false, persistShared = false)
    assert(built1.find("resultsnode").get.output.count() == 7L)
  }

  test("only nodes with several children persist their output; an error handler is no consumer") {
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    // the async dead-letter tree: every node has one child, and two of
    // them an error handler, which reads the dead letters of the node's
    // input rather than its output
    val kit = AppConfig.parse(
      """application: persisttest
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
        |          - name: asyncrpcnode
        |            params: {error_prefix: rpcfail, filter_prefix: skip, max_in_flight: "4"}
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
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    // 200 events, per 20: 2 filtered, 3 errored, 3 RPC failures, 1 RPC skip, 11 ok
    def payload(i: Int): String = (i % 20 match {
      case 0 | 1 => "filterme"
      case 2 | 3 | 4 => "error"
      case 5 | 6 | 7 => "rpcfail"
      case 8 => "skip"
      case _ => "ok"
    }) + s"-$i"
    val events = (0 until 200).map(payload)
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")

    val batch = events.toDF("payload").select(col("payload"), lit(ts).as("created"), lit(false).as("recovery"))
    val built = graft.pipeline.Pipeline.buildOn(batch, kit.nodes, reg)
    assert(built.persisted.isEmpty)
    // a node with two children still persists its output once
    val syslog = AppConfig.parse(
      """application: persisttest
        |source:
        |  name: parquetsource
        |  params: {path: unused}
        |nodes:
        |  - name: syslogparser
        |    error_handler:
        |      name: errorkafkaproducer
        |      params: {topic: syslog-errors}
        |    children:
        |      - name: jsonbuilder
        |      - name: docbuilder
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val lines = Seq("<13>2024-01-01T00:00:00Z h p[1]: a", "garbage").toDF("payload")
      .select(col("payload").cast("binary").as("payload"), lit(ts).as("created"), lit(false).as("recovery"))
    val built2 = graft.pipeline.Pipeline.buildOn(lines, syslog.nodes, reg)
    try assert(built2.persisted.size == 1)
    finally built2.unpersistAll()

    // sink rows and node counters of one micro-batch through the kit tree
    val metrics = new PipelineMetrics(s).install()
    val input = MemoryStream[String](s)
    val source = input.toDF().select(col("value").as("payload"), lit(ts).as("created"), lit(false).as("recovery"))
    val sinks = Seq("kitproducer", "errornode.errors", "asyncrpcnode.errors").map(_ -> new CollectingSink).toMap
    val running = StreamingPipeline.run(source, kit, reg, sinks = sinks, trigger = Trigger.ProcessingTime(0L))
    try {
      input.addData(events)
      running.query.processAllAvailable()
      assert(sinks.map { case (id, sink) => id -> sink.rows.size } ==
        Map("kitproducer" -> 330, "errornode.errors" -> 30, "asyncrpcnode.errors" -> 30))
      val deadline = System.currentTimeMillis() + 10000
      while (metrics.nodeCounts("kitproducer")._1 == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      // errornode's emitted counter sits above the async node's
      // checkpoint, which truncates it from the plan (Pipeline.buildNode)
      assert(Seq("filternode", "errornode", "asyncrpcnode", "fanoutnode", "stringtoproducerequestnode",
        "kitproducer").map(id => id -> metrics.nodeCounts(id)) == Seq(
        "filternode" -> ((200L, 180L)), "errornode" -> ((180L, 0L)), "asyncrpcnode" -> ((150L, 110L)),
        "fanoutnode" -> ((110L, 330L)), "stringtoproducerequestnode" -> ((330L, 330L)),
        "kitproducer" -> ((330L, 330L))))
    } finally {
      running.shutdown()
      metrics.uninstall()
    }
  }
}
