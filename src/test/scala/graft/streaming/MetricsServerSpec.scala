package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.AppConfig
import graft.pipeline.Registry
import graft.sinks.CollectingSink

/** Scrapes the /metrics endpoint during a live MemoryStream pipeline
  * run — reference parity for `metrics/metrics_server.go:19-45` (the
  * prometheus endpoint) and `consumermetrics.go:41-146` (offset /
  * watermark / lag gauges, here derived from
  * `StreamingQueryProgress.sources`).
  */
class MetricsServerSpec extends SparkSpec {

  test("offset JSON flattening handles Kafka, scalar, and malformed shapes") {
    val t = new ConsumerLagTracker
    // Kafka source offsets: {"topic":{"partition":offset}}
    assert(t.flatten("""{"logs":{"0":120,"1":85}}""") ==
      Map("logs-0" -> 120L, "logs-1" -> 85L))
    // multiple topics in one source
    assert(t.flatten("""{"a":{"0":1},"b":{"0":2}}""") ==
      Map("a-0" -> 1L, "b-0" -> 2L))
    // MemoryStream / file sources: scalar version numbers
    assert(t.flatten("7") == Map("0" -> 7L))
    // malformed input never throws, just contributes nothing
    assert(t.flatten("not json").isEmpty)
    assert(t.flatten("").isEmpty)
  }

  test("/metrics serves reference-named node counters and consumer lag gauges") {
    val s = spark
    import s.implicits._

    val metrics = new PipelineMetrics(s).install()
    val server = new MetricsServer(s, metrics).start()
    try {
      val reg = Registry.builtins()
      val cfg = AppConfig.parse(
        """application: scrapetest
          |source:
          |  name: stringsource
          |  params: {path: unused}
          |nodes:
          |  - name: filternode
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
        source, cfg, reg, sinks = Map("resultsnode" -> results))
      try {
        input.addData((1 to 10).map(i => s"success $i") ++ (1 to 5).map(i => s"filterme $i"))
        running.query.processAllAvailable()

        // listener callbacks are async — poll until the scrape shows them
        val http = HttpClient.newHttpClient()
        val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${server.boundPort}/metrics")).GET().build()
        def scrape(): String = http.send(req, HttpResponse.BodyHandlers.ofString()).body()
        val deadline = System.currentTimeMillis() + 10000
        var body = scrape()
        while (!body.contains("""graft_node_received_events_total{node_id="filternode"} 15""")
               && System.currentTimeMillis() < deadline) {
          Thread.sleep(50); body = scrape()
        }

        // node counters with the reference names (metrics.go:106-145)
        assert(body.contains("""graft_node_received_events_total{node_id="filternode"} 15"""), body)
        assert(body.contains("""graft_node_processed_events_total{node_id="filternode"} 10"""), body)
        // consumer position gauges (consumermetrics.go:41-146)
        assert(body.contains("graft_events_consumed_total"), body)
        assert("""graft_consumer_stored_offset\{partition="[^"]+"\} \d+""".r
          .findFirstIn(body).nonEmpty, body)
        assert("""graft_consumer_offset_lag\{partition="[^"]+"\} \d+""".r
          .findFirstIn(body).nonEmpty, body)
        assert("""graft_consumer_high_watermark\{partition="[^"]+"\} \d+""".r
          .findFirstIn(body).nonEmpty, body)
        // the batch-duration histogram recorded the micro-batches
        assert(body.contains("""graft_batch_duration_seconds_bucket{le="+Inf"}"""), body)
        val cnt = """graft_batch_duration_seconds_count (\d+)""".r
          .findFirstMatchIn(body).map(_.group(1).toLong)
        assert(cnt.exists(_ >= 1L), s"histogram empty: $body")
      } finally running.shutdown()
    } finally {
      server.stop()
      metrics.uninstall()
    }
  }

  test("/metrics exposes state-store sizes for a live stateful query") {
    val s = spark
    import s.implicits._
    val metrics = new PipelineMetrics(s).install()
    val server = new MetricsServer(s, metrics).start()
    try {
      val input = MemoryStream[StatefulOps.MixtureEvent](s)
      val q = StatefulOps.streamingMixtureByTokenBudget(input.toDS(), _ => 100L)
        .writeStream.format("memory").queryName("state_gauge_probe")
        .outputMode("append").start()
      try {
        input.addData(
          StatefulOps.MixtureEvent("web", 1L, 5L), StatefulOps.MixtureEvent("code", 2L, 7L))
        q.processAllAvailable()
        val http = HttpClient.newHttpClient()
        val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${server.boundPort}/metrics")).GET().build()
        def scrape(): String = http.send(req, HttpResponse.BodyHandlers.ofString()).body()
        // listener delivery is async — poll for the gauge
        val deadline = System.currentTimeMillis() + 10000
        var body = scrape()
        def rows = """graft_state_rows\{query="state_gauge_probe"\} (\d+)""".r
          .findFirstMatchIn(body).map(_.group(1).toLong)
        while (!rows.exists(_ >= 2L) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50); body = scrape()
        }
        // two groups (web, code) → two state rows; memory is nonzero
        assert(rows.exists(_ >= 2L), s"state rows gauge missing or low: $body")
        assert("""graft_state_memory_bytes\{query="state_gauge_probe"\} [1-9]\d*""".r
          .findFirstIn(body).nonEmpty, body)
      } finally q.stop()
    } finally {
      server.stop()
      metrics.uninstall()
    }
  }

  test("/metrics exposes connected-components run forensics after a dedup apply") {
    val s = spark
    import s.implicits._
    graft.OpGauges.clear()
    val metrics = new PipelineMetrics(s).install()
    val server = new MetricsServer(s, metrics).start()
    try {
      // a dedup-apply-shaped run: pair list → components (the operator
      // publishes rounds/switch gauges at completion)
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
      graft.operators.Dedup.connectedComponents(pairs, "da", "db").count()
      val http = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.boundPort}/metrics")).GET().build()
      val body = http.send(req, HttpResponse.BodyHandlers.ofString()).body()
      val rounds = """graft_cc_prop_rounds (\d+)""".r
        .findFirstMatchIn(body).map(_.group(1).toLong)
      assert(rounds.exists(_ >= 1L), s"cc rounds gauge missing: $body")
      assert(body.contains("graft_cc_switched_to_star 0"), body)
      assert("""graft_cc_runs_total (\d+)""".r.findFirstIn(body).nonEmpty, body)
    } finally {
      server.stop()
      metrics.uninstall()
    }
  }
}
