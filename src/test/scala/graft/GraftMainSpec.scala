package graft

import java.nio.file.Files

/** Drives the CLI entrypoint end to end from a config file on disk —
  * the `examples/main.go` usage shape: YAML in, parquet terminal
  * outputs + a metrics summary out, config errors surfaced verbatim.
  */
class GraftMainSpec extends SparkSpec {

  private def write(dir: java.nio.file.Path, yaml: String): String = {
    val p = dir.resolve("config.yaml")
    Files.writeString(p, yaml)
    p.toString
  }

  test("batch run from a YAML file writes terminal outputs and reports metrics") {
    val dir = Files.createTempDirectory("graft-main")
    val out = dir.resolve("out").toString
    val cfg = write(dir,
      s"""application: cli-test
         |internaldata:
         |  transport: file
         |  params:
         |    path: $dir/control.jsonl
         |source:
         |  name: stringsource
         |  params:
         |    path: /root/testdata/sf0.001/documents.parquet
         |    payloadexpr: text
         |nodes:
         |  - name: filternode
         |    params:
         |      prefix: zzz-no-match
         |    children:
         |      - name: resultsnode
         |""".stripMargin)
    val res = GraftMain.run(spark, cfg, out)
    val summary = res.fold(e => fail(s"run failed: $e"), identity)
    assert(summary.contains(""""application":"cli-test""""))
    assert(summary.contains(""""filternode.received":500"""))
    val written = spark.read.parquet(s"$out/resultsnode")
    assert(written.count() == 500)
    assert(written.columns.toSet == Set("payload", "created", "recovery"))
  }

  test("config errors surface verbatim instead of running") {
    val dir = Files.createTempDirectory("graft-main")
    val cfg = write(dir,
      """application: bad
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: no-such-node-type
        |""".stripMargin)
    val res = GraftMain.run(spark, cfg, dir.resolve("out").toString)
    assert(res.isLeft, "invalid node type must not run")
  }

  test("--stream demands a kafkaconsumer source") {
    val dir = Files.createTempDirectory("graft-main")
    val cfg = write(dir,
      """application: streambad
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: resultsnode
        |""".stripMargin)
    val res = GraftMain.run(spark, cfg, dir.resolve("out").toString, streamMode = true)
    assert(res.swap.exists(_.contains("kafkaconsumer")))
  }

  test("stream sink keys mirror Pipeline.Built.leaves for a tree with error handlers") {
    val reg = graft.pipeline.Registry.builtins()
    reg.registerSourceType("gmsrc", new graft.pipeline.SourceFactory {
      val produces = "string"
      def read(spark: org.apache.spark.sql.SparkSession, params: Map[String, String]) = {
        import org.apache.spark.sql.functions._
        spark.range(3).select(col("id").cast("string").as("payload"),
          current_timestamp().as("created"), lit(false).as("recovery"))
      }
    })
    // a tree with an error handler and two leaves; a terminal stage
    // with configured children (they receive nothing, so the terminal
    // node is the leaf); and an error handler under a stage that routes
    // no failures, plus a disabled child (neither yields a leaf)
    val trees = Seq(
      """  - name: filternode
        |    children:
        |      - name: errornode
        |        error_handler:
        |          name: errorhandlernode
        |        children:
        |          - name: resultsnode
        |      - name: resultsnode
        |        id: secondleaf
        |""",
      """  - name: stringtoproducerequestnode
        |    children:
        |      - name: kafkaproducer
        |        children:
        |          - name: kafkaproducer
        |            id: downstream
        |""",
      """  - name: filternode
        |    error_handler:
        |      name: errorhandlernode
        |    children:
        |      - name: resultsnode
        |      - name: resultsnode
        |        id: off
        |        disabled: true
        |""")
    val want = Seq(
      Seq("resultsnode", "errornode.errors", "secondleaf"),
      Seq("kafkaproducer"),
      Seq("resultsnode"))
    for ((nodes, expected) <- trees.zip(want)) {
      val cfg = graft.config.AppConfig.parse(
        "application: keys\nsource:\n  name: gmsrc\nnodes:\n" + nodes.stripMargin, reg)
        .fold(e => fail(e), identity)
      val built = graft.pipeline.Pipeline.build(spark, cfg, reg)
      try {
        assert(built.leaves.map(_._1) == expected)
        // the keys GraftMain --stream writes are the same leaves
        assert(graft.pipeline.Pipeline.plan(cfg.nodes, reg).leafKeys == expected)
      } finally built.unpersistAll()
    }
  }

  test("a leaf write that throws still unpersists the batch build's cached frames") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-main")
    val in = dir.resolve("in").toString
    Seq("a", "b", "c").toDF("payload").write.parquet(in)
    // filternode has two children, so the build persists its source
    val cfg = write(dir,
      s"""application: cli-leak
         |source:
         |  name: stringsource
         |  params: {path: $in}
         |nodes:
         |  - name: filternode
         |    children:
         |      - name: resultsnode
         |      - name: resultsnode
         |        id: secondleaf
         |""".stripMargin)
    // the output directory is a regular file: no leaf can be written
    val out = Files.writeString(dir.resolve("out"), "not a directory").toString
    spark.catalog.clearCache()
    intercept[Exception](GraftMain.run(spark, cfg, out))
    assert(spark.sharedState.cacheManager.isEmpty, "the failed run left frames cached")
  }

  test("missing config file is a readable error, not a crash") {
    val res = GraftMain.run(spark, "/nonexistent/config.yaml", "/tmp/unused-out")
    assert(res.swap.exists(_.contains("failed to read config file")))
  }
}
