package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.AppConfig
import graft.functions.{DeadLetter, Syslog}
import graft.pipeline.{ErrorRouting, Pipeline, Registry}

/** The reference's own operator surface (SURVEY §2.1-2.4) exercised as
  * driver-checkable queries over the `events` table, each routed
  * through the REAL library machinery (Stage/Registry/ErrorRouting/
  * Pipeline/Syslog/DeadLetter) on the Spark side, with an independent
  * DuckDB derivation as the oracle.
  */
object FireboltOps {

  /** events → Event-envelope frame: payload "type:id", created=ts. */
  private def envelope(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(
      concat(col("event_type"), lit(":"), col("event_id")).as("payload"),
      col("ts").as("created"),
      lit(false).as("recovery"))

  private val reg = Registry.builtins()

  def defs: Map[String, Q] = Map(

    // ---- SyncNode filter-by-nil (node/node.go:184-188) ----
    "fb_filter_stage" -> Q(
      (s, dir) => {
        val stage = reg.instantiateNode("filternode", Map("prefix" -> "click"))
        ErrorRouting(envelope(s, dir), stage).output
          .select(col("payload").cast("string").as("payload"))
      },
      Some("""SELECT event_type || ':' || event_id AS payload
             |FROM events WHERE event_type NOT LIKE 'click%'""".stripMargin)),

    // ---- error_handler routing (node/node.go:277-295) ----
    "fb_error_split" -> Q(
      (s, dir) => {
        val stage = reg.instantiateNode("errornode", Map("prefix" -> "error"))
        val split = ErrorRouting(envelope(s, dir), stage)
        val ok = split.output.select(
          lit("ok").as("branch"),
          col("payload").cast("string").as("payload"),
          lit("").as("code"))
        val err = split.deadLetters.get.select(
          lit("err").as("branch"),
          col("payload.event").as("payload"),
          col("payload.error.code").as("code"))
        ok.union(err)
      },
      Some("""SELECT 'ok' AS branch, event_type || ':' || event_id AS payload, '' AS code
             |FROM events WHERE event_type NOT LIKE 'error%'
             |UNION ALL
             |SELECT 'err', event_type || ':' || event_id, 'ERR_TEST'
             |FROM events WHERE event_type LIKE 'error%'""".stripMargin)),

    // ---- FanoutNode 1→N (node/node.go:30-33) ----
    "fb_fanout" -> Q(
      (s, dir) => {
        val stage = reg.instantiateNode("fanoutnode", Map("copies" -> "2"))
        ErrorRouting(envelope(s, dir), stage).output
          .select(col("payload").cast("string").as("payload"))
      },
      Some("""SELECT event_type || ':' || event_id || '-' || i AS payload
             |FROM events, (VALUES (0),(1)) t(i)""".stripMargin)),

    // ---- full YAML config → tree build → routed execution ----
    // source(stringsource) → filternode(click) → errornode(error)
    //   with error_handler → resultsnode
    "fb_pipeline_tree" -> Q(
      (s, dir) => {
        val yaml =
          s"""application: treetest
             |source:
             |  name: stringsource
             |  params:
             |    path: $dir/events.parquet
             |    payloadexpr: "concat(event_type, ':', CAST(event_id AS STRING))"
             |    createdcolumn: ts
             |nodes:
             |  - name: filternode
             |    params:
             |      prefix: click
             |    children:
             |      - name: errornode
             |        params:
             |          prefix: error
             |        error_handler:
             |          name: errorhandlernode
             |        children:
             |          - name: resultsnode
             |""".stripMargin
        val cfg = AppConfig.parse(yaml, reg).fold(e => sys.error(e), identity)
        val built = Pipeline.build(s, cfg, reg)
        val results = built.find("resultsnode").get.output
          .select(lit("ok").as("branch"), col("payload").cast("string").as("payload"))
        val errors = built.find("errornode").get.errorHandlerOutput.get
          .select(lit("err").as("branch"), col("payload.event").as("payload"))
        results.union(errors)
      },
      Some("""SELECT 'ok' AS branch, event_type || ':' || event_id AS payload
             |FROM events WHERE event_type NOT LIKE 'click%' AND event_type NOT LIKE 'error%'
             |UNION ALL
             |SELECT 'err', event_type || ':' || event_id
             |FROM events WHERE event_type NOT LIKE 'click%' AND event_type LIKE 'error%'""".stripMargin)),

    // ---- discard_on_full_buffer load shedding (node/node.go:200-217):
    //      per-PARTITION admission at the flagged node — each of the
    //      node's `workers` tasks admits the first `buffersize` events
    //      of its partition (one bounded channel per worker), so the
    //      deterministic trigger capacity is workers × buffersize =
    //      4 × 125 = 500. The workers floor round-robins the (single
    //      parquet split) input into 4 near-equal partitions, each far
    //      above 125 rows at every driver SF, so kept = exactly 500.
    //      WHICH rows survive is arrival-order-arbitrary in both
    //      engines, so the oracle checks the deterministic part:
    //      kept/discarded counts ----
    "fb_shed_cap" -> Q(
      (s, dir) => {
        val yaml =
          s"""application: shedtest
             |source:
             |  name: stringsource
             |  params:
             |    path: $dir/events.parquet
             |    payloadexpr: "concat(event_type, ':', CAST(event_id AS STRING))"
             |    createdcolumn: ts
             |nodes:
             |  - name: filternode
             |    params:
             |      prefix: click
             |    children:
             |      - name: resultsnode
             |        workers: 4
             |        buffersize: 125
             |        discard_on_full_buffer: true
             |""".stripMargin
        val cfg = AppConfig.parse(yaml, reg).fold(e => sys.error(e), identity)
        val built = Pipeline.build(s, cfg, reg)
        val kept = built.find("resultsnode").get.output.agg(count(lit(1)).as("kept"))
        val offered = built.find("filternode").get.output.agg(count(lit(1)).as("offered"))
        kept.crossJoin(offered)
          .select(col("kept"), (col("offered") - col("kept")).as("discarded"))
      },
      Some("""SELECT CAST(LEAST(count(*), 500) AS BIGINT) AS kept,
             |  CAST(GREATEST(count(*) - 500, 0) AS BIGINT) AS discarded
             |FROM events WHERE event_type NOT LIKE 'click%'""".stripMargin)),

    // ---- kafkaproducer sink shape: ProduceRequest → (topic, value) ----
    "fb_produce_request" -> Q(
      (s, dir) => {
        val jsonVal = concat(
          lit("{\"program\":\"app\",\"host\":\"h"), pmod(col("user_id"), lit(5)),
          lit("\",\"message\":\""), col("event_type"), lit("\"}"))
        val produceReqs = Tables(s, dir, "events").select(
          struct(
            concat(lit("events-"), col("event_type")).as("topic"),
            encode(jsonVal, "UTF-8").as("message")).as("payload"),
          col("ts").as("created"),
          lit(false).as("recovery"))
        val stage = reg.instantiateNode("kafkaproducer", Map.empty)
        ErrorRouting(produceReqs, stage).output
          .select(col("topic"), col("value").cast("string").as("value_str"))
      },
      Some("""SELECT 'events-' || event_type AS topic,
             |  '{"program":"app","host":"h' || (user_id % 5) || '","message":"' || event_type || '"}' AS value_str
             |FROM events""".stripMargin)),

    // ---- dead-letter JSON shape (error.go:29-47) ----
    "fb_dead_letter_json" -> Q(
      (s, dir) =>
        Tables(s, dir, "events")
          .filter(col("event_type") === "error")
          .select(
            col("event_id"),
            DeadLetter.json(
              timestamp = col("ts"),
              event = concat(col("event_type"), lit(":"), col("event_id")),
              code = lit("ERR_UNKNOWN"),
              message = lit("processing failed")).as("dlq")),
      Some("""SELECT event_id,
             |  '{"timestamp":"' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')
             |  || '","event":"' || event_type || ':' || event_id
             |  || '","error":{"code":"ERR_UNKNOWN","message":"processing failed"}}' AS dlq
             |FROM events WHERE event_type = 'error'""".stripMargin)),

    // ---- syslogparser (syslogparser.go:25-40): parse + error route ----
    "fb_syslog_parse" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val line = when(col("event_type") === "error",
          concat(lit("garbage "), col("event_id")))
          .otherwise(concat(
            lit("<"), pmod(col("event_id"), lit(192)), lit(">"),
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            lit(" host"), pmod(col("user_id"), lit(5)),
            lit(" app"), pmod(col("user_id"), lit(3)),
            lit("["), pmod(col("event_id"), lit(100)), lit("]: "),
            when(col("event_type") === "purchase", lit("@cee:{\"k\":1}"))
              .otherwise(concat(lit("msg "), col("event_id")))))
        val env = e.select(
          line.cast("binary").as("payload"),
          col("ts").as("created"), lit(false).as("recovery"))
        val split = ErrorRouting(env, Syslog.stage)
        val ok = split.output.select(
          lit("ok").as("branch"),
          col("payload.severity").as("severity"),
          col("payload.host").as("host"),
          col("payload.program").as("program"),
          col("payload.cee").cast("int").as("cee"),
          col("payload.content").as("content"))
        val err = split.deadLetters.get.select(
          lit("err").as("branch"),
          lit(null).cast("int").as("severity"),
          lit(null).cast("string").as("host"),
          lit(null).cast("string").as("program"),
          lit(null).cast("int").as("cee"),
          col("payload.event").as("content"))
        ok.union(err)
      },
      Some("""SELECT 'ok' AS branch,
             |  CAST((event_id % 192) % 8 AS INT) AS severity,
             |  'host' || (user_id % 5) AS host,
             |  'app' || (user_id % 3) AS program,
             |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS cee,
             |  CASE WHEN event_type = 'purchase' THEN '{"k":1}' ELSE 'msg ' || event_id END AS content
             |FROM events WHERE event_type <> 'error'
             |UNION ALL
             |SELECT 'err', NULL, NULL, NULL, NULL, 'garbage ' || event_id
             |FROM events WHERE event_type = 'error'""".stripMargin)),

    // ---- jsonbuilder (examples/kafkatokafka/jsonbuilder.go:37-61):
    //      syslogparser → jsonbuilder → ProduceRequest chain ----
    "fb_json_builder" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events").filter(col("event_type") =!= "error")
        val line = concat(
          lit("<"), pmod(col("event_id"), lit(192)), lit(">"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
          lit(" host"), pmod(col("user_id"), lit(5)),
          lit(" app"), pmod(col("user_id"), lit(3)),
          lit("["), pmod(col("event_id"), lit(100)), lit("]: msg "), col("event_id"))
        val env = e.select(
          line.cast("binary").as("payload"),
          col("ts").as("created"), lit(false).as("recovery"))
        val parsed = ErrorRouting(env, Syslog.stage).output
        val built = ErrorRouting(parsed,
          reg.instantiateNode("jsonbuilder", Map("topic" -> "logs-json"))).output
        built.select(
          col("payload.topic").as("topic"),
          col("payload.message").cast("string").as("json"))
      },
      Some("""SELECT 'logs-json' AS topic,
             |  '{"program":"app' || (user_id % 3) || '","host":"host' || (user_id % 5)
             |    || '","message":"msg ' || event_id || '"}' AS json
             |FROM events WHERE event_type <> 'error'""".stripMargin)),

    // ---- docbuilder (examples/logging/docbuilder.go:55-98):
    //      syslogparser → docbuilder → IndexRequest, with the
    //      pid<100 numeric / pid>=100 object type flip ----
    "fb_doc_builder" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events").filter(col("event_type") =!= "error")
        val line = concat(
          lit("<"), pmod(col("event_id"), lit(192)), lit(">"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
          lit(" host"), pmod(col("user_id"), lit(5)),
          lit(" app"), pmod(col("user_id"), lit(3)),
          lit("["), pmod(col("event_id"), lit(200)), lit("]: msg "), col("event_id"))
        val env = e.select(
          line.cast("binary").as("payload"),
          col("ts").as("created"), lit(false).as("recovery"))
        val parsed = ErrorRouting(env, Syslog.stage).output
        val built = ErrorRouting(parsed,
          reg.instantiateNode("docbuilder", Map("index" -> "logs"))).output
        built.select(
          col("payload.index").as("es_index"),
          col("payload.mapping_type").as("mapping_type"),
          col("payload.doc").as("doc"))
      },
      Some("""SELECT 'logs' AS es_index, '_doc' AS mapping_type,
             |  CASE WHEN event_id % 200 < 100
             |    THEN '{"program":' || (event_id % 200) || ',"host":"host' || (user_id % 5)
             |      || '","message":"msg ' || event_id || '"}'
             |    ELSE '{"program":{"pid":' || (event_id % 200) || ',"name":"app' || (user_id % 3)
             |      || '"},"host":"host' || (user_id % 5) || '","message":"msg ' || event_id || '"}'
             |  END AS doc
             |FROM events WHERE event_type <> 'error'""".stripMargin)),

    // ---- capped-lag startup offsets (kafkaconsumer.go:336-384) ----
    // partitions synthesized as user_id; committed=min, high=max id.
    "fb_capped_lag" -> Q(
      (s, dir) => {
        val maxLag = 300L
        Tables(s, dir, "events")
          .groupBy(col("user_id").as("partition_id"))
          .agg(min("event_id").as("committed"), max("event_id").as("high"))
          .select(
            col("partition_id"), col("committed"), col("high"),
            when(col("high") - col("committed") <= maxLag, col("committed"))
              .when(lit(maxLag) > col("high"), 0L)
              .otherwise(col("high") - maxLag).as("start_offset"),
            when(col("high") - col("committed") > maxLag && lit(maxLag) <= col("high"),
              col("committed")).as("recover_from"),
            when(col("high") - col("committed") > maxLag && lit(maxLag) <= col("high"),
              col("high") - maxLag).as("recover_to"))
      },
      Some("""WITH w AS (
             |  SELECT user_id AS partition_id, min(event_id) AS committed, max(event_id) AS high
             |  FROM events GROUP BY user_id)
             |SELECT partition_id, committed, high,
             |  CASE WHEN high - committed <= 300 THEN committed
             |       WHEN 300 > high THEN 0
             |       ELSE high - 300 END AS start_offset,
             |  CASE WHEN high - committed > 300 AND 300 <= high THEN committed END AS recover_from,
             |  CASE WHEN high - committed > 300 AND 300 <= high THEN high - 300 END AS recover_to
             |FROM w""".stripMargin)),

    // ---- recovery-ledger overlap merge (recoverytracker.go:86-96) as
    //      a distributed gaps-and-islands interval coalesce ----
    "fb_recovery_merge" -> Q(
      (s, dir) => {
        val r = Tables(s, dir, "events")
          .filter(col("event_type").isin("error", "signup"))
          .select(
            pmod(col("user_id"), lit(4)).as("pid"),
            (floor(col("value")) * 7).cast("long").as("f"),
            (floor(col("value")) * 7 + pmod(col("event_id"), lit(97)) + 5).cast("long").as("t"))
        val byStart = Window.partitionBy("pid").orderBy("f", "t")
        val m = r.withColumn("pmax",
          max("t").over(byStart.rowsBetween(Window.unboundedPreceding, -1)))
        val g = m.withColumn("grp",
          sum(when(col("pmax").isNull || col("f") > col("pmax"), 1).otherwise(0))
            .over(byStart.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        g.groupBy("pid", "grp")
          .agg(min("f").as("merge_from"), max("t").as("merge_to"), count(lit(1)).as("n_merged"))
          .select("pid", "merge_from", "merge_to", "n_merged")
      },
      Some("""WITH r AS (
             |  SELECT user_id % 4 AS pid,
             |    CAST(floor(value) * 7 AS BIGINT) AS f,
             |    CAST(floor(value) * 7 + event_id % 97 + 5 AS BIGINT) AS t
             |  FROM events WHERE event_type IN ('error','signup')),
             |m AS (SELECT pid, f, t,
             |  max(t) OVER (PARTITION BY pid ORDER BY f, t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |  FROM r),
             |g AS (SELECT pid, f, t,
             |  sum(CASE WHEN pmax IS NULL OR f > pmax THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY pid ORDER BY f, t ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM m)
             |SELECT pid, min(f) AS merge_from, max(t) AS merge_to, count(*) AS n_merged
             |FROM g GROUP BY pid, grp""".stripMargin)),

    // ---- per-row AsyncNode (node/node.go:36-39, docs/async-nodes.md):
    //      bounded-in-flight async call, outcome routed through the
    //      standard error/filter machinery. The fake RPC is
    //      deterministic (md5 of the payload), so the full
    //      async → route → project path is oracle-able: 'click%'
    //      events filter, 'error%' events dead-letter with the async
    //      error code, everything else returns the RPC result ----
    "fb_async_rpc" -> Q(
      (s, dir) => {
        val stage = reg.instantiateNode("asyncrpcnode", Map(
          "error_prefix" -> "error", "filter_prefix" -> "click",
          "max_in_flight" -> "8"))
        val split = ErrorRouting(envelope(s, dir), stage)
        val ok = split.output.select(
          lit("ok").as("branch"),
          col("payload").cast("string").as("result"),
          lit("").as("code"))
        val err = split.deadLetters.get.select(
          lit("err").as("branch"),
          col("payload.event").as("result"),
          col("payload.error.code").as("code"))
        ok.union(err)
      },
      Some("""SELECT 'ok' AS branch, md5(event_type || ':' || event_id) AS result, '' AS code
             |FROM events WHERE event_type NOT LIKE 'click%' AND event_type NOT LIKE 'error%'
             |UNION ALL
             |SELECT 'err', event_type || ':' || event_id, 'ERR_ASYNC'
             |FROM events WHERE event_type LIKE 'error%'""".stripMargin)),

    // ---- per-node metric counters (metrics/metrics.go:106-185) ----
    "fb_metrics_counts" -> Q(
      (s, dir) => {
        val e = Tables(s, dir, "events")
        val filterNode = e.agg(
          count(lit(1)).as("received"),
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("filtered"),
          lit(0L).as("failed"))
          .select(lit("filternode").as("node"), col("received"), col("filtered"), col("failed"))
        val errorNode = e.filter(col("event_type") =!= "click").agg(
          count(lit(1)).as("received"),
          lit(0L).as("filtered"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("failed"))
          .select(lit("errornode").as("node"), col("received"), col("filtered"), col("failed"))
        filterNode.union(errorNode)
      },
      Some("""SELECT 'filternode' AS node, count(*) AS received,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS filtered,
             |  CAST(0 AS BIGINT) AS failed
             |FROM events
             |UNION ALL
             |SELECT 'errornode', count(*), CAST(0 AS BIGINT),
             |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             |FROM events WHERE event_type <> 'click'""".stripMargin))
  )
}
