package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.AppConfig

/** Exact-count routing semantics on the reference's deterministic
  * 10/5/3 success/filterme/error mix (`internal/testnodetypes.go:99-114`,
  * asserted like `executor/executor_test.go:34-37`).
  */
class ErrorRoutingSpec extends SparkSpec {

  private val reg = Registry.builtins()

  private def mix = {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => s"success $i") ++
        (1 to 5).map(i => s"filterme $i") ++
        (1 to 3).map(i => s"error $i")
    rows.toDF("payload")
      .select(col("payload"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
        lit(false).as("recovery"))
  }

  test("filter stage drops filterme, counts preserved") {
    val split = ErrorRouting(mix, reg.instantiateNode("filternode", Map.empty))
    assert(split.output.count() == 13)
    assert(split.deadLetters.isEmpty)
  }

  test("error stage routes errors to dead letters with envelope shape") {
    val split = ErrorRouting(mix, reg.instantiateNode("errornode", Map.empty))
    assert(split.output.count() == 15)
    val dead = split.deadLetters.get
    assert(dead.count() == 3)
    // envelope carries original payload + structured FBError
    val events = dead.select(col("payload.event")).as[String](org.apache.spark.sql.Encoders.STRING).collect().sorted
    assert(events.toList == List("error 1", "error 2", "error 3"))
    val first = dead.select(col("payload.error.code")).distinct().collect()
    assert(first.map(_.getString(0)).toSet == Set("ERR_TEST"))
    // created timestamp carried through (event.go:31-37 semantics)
    assert(dead.select(col("created")).distinct().count() == 1)
  }

  test("fanout stage multiplies events") {
    val split = ErrorRouting(mix, reg.instantiateNode("fanoutnode", Map("copies" -> "3")))
    assert(split.output.count() == 18 * 3)
  }

  test("full tree: 10 success, 5 filtered, 3 dead-lettered") {
    val cfg = AppConfig.parse(
      s"""application: mixtest
         |source:
         |  name: stringsource
         |  params:
         |    path: unused
         |nodes:
         |  - name: filternode
         |    children:
         |      - name: errornode
         |        error_handler:
         |          name: errorhandlernode
         |        children:
         |          - name: resultsnode
         |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val built = Pipeline.plan(cfg.nodes, reg).buildOn(mix)
    assert(built.persisted.isEmpty)
    val results = built.find("resultsnode").get.output
    val deadLetters = built.find("errornode").get.deadLetters.get
    assert(results.count() == 10)
    assert(deadLetters.count() == 3)
    // 18 received - 13 past filter = 5 filtered
    assert(mix.count() - built.find("errornode").get.output.count() - deadLetters.count() == 5)
  }

  test("null failWhen predicate routes the row to dead letters, not limbo") {
    import spark.implicits._
    // a null payload makes startsWith(...) evaluate to SQL NULL — such a
    // row must land in exactly ONE branch (dead letters), never vanish
    val withNull = Seq(Some("success 1"), None, Some("error 1")).toDF("payload")
      .select(col("payload"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
        lit(false).as("recovery"))
    val split = ErrorRouting(withNull, reg.instantiateNode("errornode", Map.empty))
    val ok = split.output.count()
    val dead = split.deadLetters.get.count()
    assert(ok + dead == 3, s"row lost: ok=$ok dead=$dead")
    assert(ok == 1 && dead == 2) // null payload treated as failure
  }

  test("terminal stage (kafkaproducer) does not propagate to children") {
    import spark.implicits._
    val cfg = AppConfig.parse(
      s"""application: terminaltest
         |source:
         |  name: stringsource
         |  params: {path: unused}
         |nodes:
         |  - name: stringtoproducerequestnode
         |    children:
         |      - name: kafkaproducer
         |        children:
         |          - name: kafkaproducer
         |            id: downstream
         |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val built = Pipeline.plan(cfg.nodes, reg).buildOn(mix)
    assert(built.persisted.isEmpty)
    // the reference's terminal nodes return nil — downstream gets nothing
    assert(built.find("downstream").isEmpty)
    assert(built.find("kafkaproducer").get.children.isEmpty)
  }

  test("disabled node skips subtree") {
    val cfg = AppConfig.parse(
      s"""application: disabledtest
         |source:
         |  name: stringsource
         |  params: {path: unused}
         |nodes:
         |  - name: filternode
         |    children:
         |      - name: resultsnode
         |        disabled: true
         |""".stripMargin, reg).fold(e => sys.error(e), identity)
    val built = Pipeline.plan(cfg.nodes, reg).buildOn(mix)
    assert(built.persisted.isEmpty)
    assert(built.find("resultsnode").isEmpty)
    assert(built.find("filternode").get.children.isEmpty)
  }
}
