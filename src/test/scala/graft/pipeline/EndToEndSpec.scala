package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheEntries

import graft.SparkSpec
import graft.config.AppConfig

/** Port of the reference's end-to-end integration test
  * (`inttest/integration_test.go:28-112`) with its exact-count
  * assertions at every observable point, run over the same two-root
  * tree (`inttest/testdata/testconfig.yaml`) built from YAML through
  * the real registry/config/pipeline machinery.
  *
  * Record mix (`integration_test.go:214-257`): i in 0..99 —
  * i%30==0 → "error time" (4), else i%10==0 → "filter me" (6),
  * else a syslog line (90).
  */
class EndToEndSpec extends SparkSpec {

  private val SyslogLine =
    "<191>2006-01-02T15:04:05.999999-07:00 host.example.org test: @cee:{\"a\":\"b\"}"

  private def registry(): Registry = {
    val r = Registry.builtins()
    r.registerSourceType("inttestsource", new SourceFactory {
      val produces = "string"
      def read(spark: SparkSession, params: Map[String, String]): DataFrame =
        spark.range(100).select(
          when(col("id") % 30 === 0, "error time")
            .when(col("id") % 10 === 0, "filter me")
            .otherwise(SyslogLine).as("payload"),
          current_timestamp().as("created"),
          lit(false).as("recovery"))
    })
    r
  }

  private val yaml =
    """application: unit-test-pipeline
      |source:
      |  name: inttestsource
      |nodes:
      |  - name: filternode
      |    workers: 2
      |    buffersize: 4
      |    params:
      |      prefix: filter
      |    children:
      |      - name: errornode
      |        params:
      |          prefix: error
      |        error_handler:
      |          name: errorkafkaproducer
      |          params:
      |            topic: firebolt-inttest-err
      |        children:
      |          - name: stringtoproducerequestnode
      |            params:
      |              topic: firebolt-inttest-out
      |            children:
      |              - name: kafkaproducer
      |                workers: 2
      |                buffersize: 5
      |  - name: filternode
      |    id: asyncfilternode
      |    params:
      |      prefix: filter
      |    children:
      |      - name: errornode
      |        id: asyncerrornode
      |        params:
      |          prefix: error
      |        children:
      |          - name: stringtoproducerequestnode
      |            id: asyncstringtobytesnode
      |            params:
      |              topic: firebolt-inttest-out-async
      |            children:
      |              - name: kafkaproducer
      |                id: asynckafkaproducer
      |      - name: indexrequestbuildernode
      |        params:
      |          index: inttest
      |        children:
      |          - name: elasticsearch
      |""".stripMargin

  test("two-root tree: exact counts at every observable point (inttest parity)") {
    val reg = registry()
    val cfg = AppConfig.parse(yaml, reg).fold(e => fail(s"config rejected: $e"), identity)
    val built = Pipeline.build(spark, cfg, reg)

    // 90 records on the success out topic (`integration_test.go:56-60`)
    val out = built.find("kafkaproducer").get.output
    assert(out.count() == 90)
    assert(out.select("topic").distinct().collect().map(_.getString(0)).toList
      == List("firebolt-inttest-out"))

    // 4 dead letters on the error topic (`integration_test.go:74-78`)
    val errTopic = built.find("errornode").get.errorHandlerOutput.get
    assert(errTopic.count() == 4)
    assert(errTopic.select("topic").distinct().collect().map(_.getString(0)).toList
      == List("firebolt-inttest-err"))

    // 90 records on the async out topic (`integration_test.go:92-96`)
    assert(built.find("asynckafkaproducer").get.output.count() == 90)

    // filternode filters 6 (`integration_test.go:99`)
    val filterNode = built.find("filternode").get
    assert(filterNode.output.count() == 94)

    // errornode used twice → 8 total errors (`integration_test.go:102`)
    val totalErrors =
      built.find("errornode").get.deadLetters.get.count() +
        built.find("asyncerrornode").get.deadLetters.get.count()
    assert(totalErrors == 8)

    // asyncfilternode passes 94, filters 6 (`integration_test.go:105-106`)
    assert(built.find("asyncfilternode").get.output.count() == 94)

    // elasticsearch receives all 94 unfiltered docs (`integration_test.go:109-111`)
    val es = built.find("elasticsearch").get.output
    assert(es.count() == 94)
    assert(es.select("index").distinct().collect().map(_.getString(0)).toList == List("inttest"))
    // every doc id unique (reference uses a running counter)
    assert(es.select("docId").distinct().count() == 94)

    // dead-letter payloads are valid JSON with the FBError envelope
    val dlq = errTopic.select(col("value").cast("string")).collect().map(_.getString(0))
    assert(dlq.forall(s => s.contains("\"error\":{\"code\":\"ERR_TEST\"") && s.contains("error time")))
  }

  test("per-node workers is a partition floor; workers=1 adds no shuffle") {
    val reg = Registry.builtins()
    def build(workersLine: String) = {
      val yaml =
        s"""application: workers-pipeline
           |source:
           |  name: stringsource
           |nodes:
           |  - name: filternode
           |$workersLine
           |    params:
           |      prefix: filter
           |""".stripMargin
      val cfg = AppConfig.parse(yaml, reg).fold(e => fail(s"config rejected: $e"), identity)
      // single-partition source: the floor must raise it
      val src = spark.range(64).select(
        concat(lit("event-"), col("id")).as("payload"),
        current_timestamp().as("created"),
        lit(false).as("recovery")).coalesce(1)
      Pipeline.plan(cfg.nodes, reg).buildOn(src).find("filternode").get.output
    }
    val wide = build("    workers: 4")
    assert(wide.rdd.getNumPartitions >= 4,
      s"workers: 4 stage planned ${wide.rdd.getNumPartitions} partitions")
    assert(wide.count() == 64)
    // reference default workers=1 (config/config.go:219-228): no forced
    // shuffle — the stage keeps its input's single partition
    val narrow = build("    workers: 1")
    assert(narrow.rdd.getNumPartitions == 1)
    assert(!narrow.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("slownode injects per-event latency without altering the stream (test-kit parity)") {
    val reg = registry()
    val slowYaml =
      """application: slow-pipeline
        |source:
        |  name: inttestsource
        |nodes:
        |  - name: slownode
        |    params:
        |      latency_ms: 2
        |    children:
        |      - name: resultsnode
        |""".stripMargin
    val cfg = AppConfig.parse(slowYaml, reg).fold(e => fail(s"config rejected: $e"), identity)
    val built = Pipeline.build(spark, cfg, reg)
    val t0 = System.nanoTime()
    val rows = built.find("resultsnode").get.output.collect()
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    // pass-through: every event survives with its payload intact
    assert(rows.length == 100)
    assert(rows.count(_.getString(0) == "error time") == 4)
    // 100 events × 2 ms across ≤32 partitions: the slowest partition
    // carries ≥ 4 events → ≥ 8 ms of injected latency
    assert(elapsedMs >= 8.0, s"latency not injected: $elapsedMs ms")
  }

  test("a batch build caches only its source, and only when the tree branches") {
    val src = spark.range(100).select(concat(lit("event-"), col("id")).as("payload"),
      current_timestamp().as("created"), lit(false).as("recovery"))
    val reg = Registry.builtins()
    reg.registerSourceType("fixedsource", new SourceFactory {
      val produces = "string"
      def read(spark: SparkSession, params: Map[String, String]): DataFrame = src
    })
    def build(nodes: String): Pipeline.Built = Pipeline.build(spark, AppConfig.parse(
      "application: onecache\nsource:\n  name: fixedsource\nnodes:\n" + nodes.stripMargin, reg)
      .fold(e => fail(s"config rejected: $e"), identity), reg)
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    // filternode has two children: both re-derive its output from the cached source
    val branching = build(
      """  - name: filternode
        |    children:
        |      - name: resultsnode
        |      - name: resultsnode
        |        id: second
        |""")
    try {
      assert(branching.persisted.size == 1 && (branching.persisted.head eq src))
      assert(CacheEntries(spark) == 1)
      assert(branching.leaves.map { case (k, df) => k -> df.count() } == List("resultsnode" -> 100L, "second" -> 100L))
    } finally branching.unpersistAll()
    assert(cache.isEmpty)
    // a chain reads its source once and caches nothing
    val chain = build(
      """  - name: filternode
        |    children:
        |      - name: resultsnode
        |""")
    assert(chain.persisted.isEmpty && cache.isEmpty)
    assert(chain.leaves.map { case (k, df) => k -> df.count() } == List("resultsnode" -> 100L))
  }
}
