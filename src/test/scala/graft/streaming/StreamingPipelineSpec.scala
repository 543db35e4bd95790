package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheEntries
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.config.{AppConfig, TypeTags}
import graft.pipeline.{Pipeline, Registry, Stage, StageFactory}
import graft.sinks.{CollectingSink, Sink}

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

    // errorhandlernode passes the EventError rows through unchanged
    val results = new CollectingSink
    val deadLetters = new CollectingSink
    val running = StreamingPipeline.run(
      source, cfg, reg,
      sinks = Map("resultsnode" -> results, "errornode.errors" -> deadLetters))

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
      sinks = Map("resultsnode" -> results, "asyncrpcnode.errors" -> deadLetters))
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
    val running = StreamingPipeline.run(source, cfg, reg, sinks = Map("resultsnode" -> results))
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
      val built = graft.pipeline.Pipeline.plan(cfg.nodes, reg).buildOn(mix, observeMetrics = true)
      assert(built.persisted.isEmpty)
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
      val built = graft.pipeline.Pipeline.plan(cfg.nodes, reg).buildOn(mix, observeMetrics = true)
      assert(built.persisted.isEmpty)
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
    val built = graft.pipeline.Pipeline.plan(cfg.nodes, reg).buildOn(mix)
    assert(built.persisted.isEmpty)
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
    val built = graft.pipeline.Pipeline.plan(cfg.nodes, reg).buildOn(mix)
    assert(built.persisted.isEmpty)
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
    val built1 = graft.pipeline.Pipeline.plan(cfg1.nodes, reg).buildOn(mix)
    assert(built1.persisted.isEmpty)
    assert(built1.find("resultsnode").get.output.count() == 7L)
  }

  test("no node persists its output, however many children it has; an error handler is no consumer") {
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
    val built = graft.pipeline.Pipeline.plan(kit.nodes, reg).buildOn(batch)
    assert(built.persisted.isEmpty)
    // nor does a node with two children: each child re-derives its output
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
    val built2 = graft.pipeline.Pipeline.plan(syslog.nodes, reg).buildOn(lines)
    assert(built2.persisted.isEmpty)

    // sink rows and node counters of one micro-batch through the kit tree
    val metrics = new PipelineMetrics(s).install()
    val input = MemoryStream[String](s)
    val source = input.toDF().select(col("value").as("payload"), lit(ts).as("created"), lit(false).as("recovery"))
    val sinks = Seq("kitproducer", "errornode.errors", "asyncrpcnode.errors").map(_ -> new CollectingSink).toMap
    val running = StreamingPipeline.run(source, kit, reg, sinks = sinks)
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

  test("each write's jobs carry its sink label and the query's job group; one instance writes on one thread") {
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: labeltest
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
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
        if (desc != null && desc.startsWith("graft sink "))
          jobs.add(desc -> e.properties.getProperty("spark.jobGroup.id"))
      }
    }
    /** records the threads it ran on and how many of its writes overlapped */
    final class ThreadProbe extends Sink {
      val inner = new CollectingSink
      val threads = new ConcurrentLinkedQueue[String]()
      val active = new AtomicInteger()
      @volatile var overlapped = false
      def writeBatch(df: DataFrame, batchId: Long): Unit = {
        if (active.incrementAndGet() > 1) overlapped = true
        threads.add(Thread.currentThread.getName)
        try { Thread.sleep(50); inner.writeBatch(df, batchId) } finally { active.decrementAndGet(); () }
      }
    }
    val shared = new ThreadProbe // one instance under two leaf keys
    val copies = new ThreadProbe
    val input = MemoryStream[String](s)
    val source = input.toDF().select(col("value").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"), lit(false).as("recovery"))
    s.sparkContext.addSparkListener(listener)
    val running = StreamingPipeline.run(source, cfg, reg,
      sinks = Map("resultsnode" -> shared, "errornode.errors" -> shared, "copynode" -> copies),
      queryName = "labeltest")
    try {
      for (b <- 0 until 3) {
        input.addData(Seq(s"ok $b", s"error $b", s"filterme $b"))
        running.query.processAllAvailable()
      }
      val keys = Seq("resultsnode", "errornode.errors", "copynode")
      val want = for (b <- 0 until 3; k <- keys) yield s"graft sink $k batch $b"
      val deadline = System.currentTimeMillis() + 10000
      while (!want.forall(w => jobs.asScala.exists(_._1 == w)) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val seen = jobs.asScala.toSeq
      assert(want.forall(w => seen.exists(_._1 == w)), s"unlabelled writes; labelled jobs: $seen")
      // the group `stop()` cancels by: inherited from the stream's thread
      val runId = running.query.runId.toString
      assert(seen.forall(_._2 == runId), s"a write's job left the query's group $runId: $seen")

      assert(shared.inner.rows.size == 6 && copies.inner.rows.size == 3)
      assert(!shared.overlapped, "two writes to one sink instance overlapped")
      val sharedThreads = shared.threads.asScala.toSeq
      val copyThreads = copies.threads.asScala.toSeq
      assert(sharedThreads.length == 6 && sharedThreads.distinct.length == 3, sharedThreads)
      assert(sharedThreads.forall(_.startsWith("graft-sink-labeltest-")), sharedThreads)
      assert(sharedThreads.toSet.intersect(copyThreads.toSet).isEmpty, "distinct instances shared a thread")
    } finally {
      running.shutdown()
      s.sparkContext.removeSparkListener(listener)
    }
  }

  test("a syslog line whose time token does not parse is dead-lettered; the stream commits") {
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: syslogstream
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
        |        params: {topic: logs-json}
        |        children:
        |          - name: kafkaproducer
        |      - name: docbuilder
        |        params: {index: logs}
        |        children:
        |          - name: elasticsearch
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val input = MemoryStream[String](s)
    val source = input.toDF().select(col("value").cast("binary").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"), lit(false).as("recovery"))
    val sinks = Seq("kafkaproducer", "elasticsearch", "syslogparser.errors").map(_ -> new CollectingSink).toMap
    val running = StreamingPipeline.run(source, cfg, reg, sinks = sinks)
    val bad = "<13>Oct 11 host: msg"
    try {
      input.addData((1 to 5).map(i => s"<13>2024-01-01T00:00:0${i}Z host$i app[$i]: msg $i") :+ bad)
      running.query.processAllAvailable()
      assert(running.query.exception.isEmpty)
      assert(sinks.map { case (id, sink) => id -> sink.rows.size } ==
        Map("kafkaproducer" -> 5, "elasticsearch" -> 5, "syslogparser.errors" -> 1))
      // the error handler's dead-letter document carries the raw line and its code
      val docs = sinks("syslogparser.errors").rows.map(r => new String(r.getAs[Array[Byte]]("value"), "UTF-8"))
      assert(docs.size == 1 && docs.head.contains(s""""event":"$bad",""") &&
        docs.head.contains(""""error":{"code":"ERR_PARSE","""), docs)
    } finally running.shutdown()
  }

  test("a stream caches one frame, its micro-batch: no node output is cached beside it") {
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    // syslogparser has two children and an error handler: three writes
    val cfg = AppConfig.parse(
      """application: onecache
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
        |        params: {topic: logs-json}
        |        children:
        |          - name: kafkaproducer
        |      - name: docbuilder
        |        params: {index: logs}
        |        children:
        |          - name: elasticsearch
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    // records the session's cache entries as each write starts
    final class ProbeSink extends Sink {
      val cached = new ConcurrentLinkedQueue[Int]()
      val rows = new AtomicInteger()
      def writeBatch(df: DataFrame, batchId: Long): Unit = {
        cached.add(CacheEntries(s))
        rows.addAndGet(df.collect().length)
        ()
      }
    }
    s.sharedState.cacheManager.clearCache()
    val input = MemoryStream[String](s)
    val source = input.toDF().select(col("value").cast("binary").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"), lit(false).as("recovery"))
    val sinks = Seq("kafkaproducer", "elasticsearch", "syslogparser.errors").map(_ -> new ProbeSink).toMap
    val running = StreamingPipeline.run(source, cfg, reg, sinks = sinks, queryName = "onecache")
    try for (b <- 1 to 3) {
      input.addData((1 to 5).map(i => s"<13>2024-01-01T00:00:0${i}Z host$i app[$i]: msg $b") :+ "garbage")
      running.query.processAllAvailable()
      assert(CacheEntries(s) == 0, s"batch $b left ${CacheEntries(s)} frames cached")
    } finally running.shutdown()
    // three writes share the one cached batch: no node output is cached beside it
    assert(sinks.map { case (k, p) => k -> p.cached.asScala.toList } ==
      Map("kafkaproducer" -> List(1, 1, 1), "elasticsearch" -> List(1, 1, 1), "syslogparser.errors" -> List(1, 1, 1)))
    assert(sinks.map { case (k, p) => k -> p.rows.get } ==
      Map("kafkaproducer" -> 15, "elasticsearch" -> 15, "syslogparser.errors" -> 3))
  }

  test("a sink key that names no leaf is rejected before the query starts") {
    val s = spark
    import s.implicits._
    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: keytest
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
    val source = input.toDF().select(col("value").as("payload"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"), lit(false).as("recovery"))
    val before = s.streams.active.length
    // `errornode` is the old raw dead-letter key; the tree's leaves are
    // resultsnode and errornode.errors
    val ex = intercept[IllegalArgumentException] {
      StreamingPipeline.run(source, cfg, reg, queryName = "keytest",
        sinks = Map("resultsnode" -> new CollectingSink, "errornode" -> new CollectingSink))
    }
    assert(ex.getMessage.contains("errornode;"), ex.getMessage)
    assert(ex.getMessage.contains("leaves: resultsnode, errornode.errors"), ex.getMessage)
    assert(s.streams.active.length == before, "a query started before the keys were checked")
  }

  test("a stream instantiates each stage once, however many micro-batches it runs") {
    val s = spark
    import s.implicits._
    val builtins = Registry.builtins()
    /** a built-in node type that counts its builds */
    final class Counting(name: String, val consumes: String, val produces: String) extends StageFactory {
      val builds = new AtomicInteger()
      def build(params: Map[String, String]): Stage = { builds.incrementAndGet(); builtins.instantiateNode(name, params) }
    }
    val node = new Counting("errornode", Registry.StringT, Registry.StringT)
    val handler = new Counting("errorhandlernode", TypeTags.EventError, TypeTags.EventError)
    val reg = Registry.builtins()
    reg.registerNodeType("countednode", node)
    reg.registerNodeType("countedhandler", handler)
    val cfg = AppConfig.parse(
      """application: planonce
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: countednode
        |    error_handler:
        |      name: countedhandler
        |    children:
        |      - name: resultsnode
        |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val (node0, handler0) = (node.builds.get, handler.builds.get)
    val input = MemoryStream[String](s)
    val ts = Timestamp.valueOf("2024-01-01 00:00:00")
    def envelope(df: DataFrame) = df.select(col("value").as("payload"), lit(ts).as("created"), lit(false).as("recovery"))
    val results = new CollectingSink
    val errors = new CollectingSink
    val waves = (1 to 3).map(w => (1 to 6).map(i => if (i % 3 == 0) s"error $w-$i" else s"ok $w-$i"))
    val running = StreamingPipeline.run(envelope(input.toDF()), cfg, reg, queryName = "planonce",
      sinks = Map("resultsnode" -> results, "countednode.errors" -> errors))
    try waves.foreach { w => input.addData(w); running.query.processAllAvailable() }
    finally running.shutdown()
    assert(node.builds.get - node0 == 1, "the node's stage was built more than once")
    assert(handler.builds.get - handler0 == 1, "the error handler's stage was built more than once")

    // each micro-batch wrote what a batch-mode build over its rows gives
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    assert(results.batches.size == 3 && errors.batches.size == 3)
    for ((w, i) <- waves.zipWithIndex) {
      val batch = Pipeline.plan(cfg.nodes, reg).buildOn(envelope(w.toDF("value"))).leaves.toMap
      assert(results.batches.get(i).map(_.toString).toSeq.sorted == rows(batch("resultsnode")))
      assert(errors.batches.get(i).map(_.toString).toSeq.sorted == rows(batch("countednode.errors")))
      assert(errors.batches.get(i).length == 2)
    }
  }
}
