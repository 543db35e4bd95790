package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.AppConfig
import graft.pipeline.Registry
import graft.sinks.CollectingSink

/** Restart durability: a checkpointed pipeline that stops and restarts
  * resumes from the recorded offsets instead of re-replaying — Spark's
  * checkpoint is the analog of the reference's committed consumer-group
  * offsets (the reason capped-lag startup only applies to the FIRST
  * assignment, `kafkaconsumer.go` committed-offset path).
  */
class CheckpointResumeSpec extends SparkSpec {

  test("restarted query consumes only data that arrived while it was down") {
    val s = spark
    import s.implicits._

    val dir = Files.createTempDirectory("cp-resume")
    val srcDir = s"$dir/in"
    val cp = s"$dir/checkpoint"

    val reg = Registry.builtins()
    val cfg = AppConfig.parse(
      """application: cptest
        |source:
        |  name: stringsource
        |  params: {path: unused}
        |nodes:
        |  - name: filternode
        |    children:
        |      - name: resultsnode
        |""".stripMargin, reg).fold(e => sys.error(e), identity)

    def source() = s.readStream
      .schema("v STRING")
      .parquet(srcDir)
      .select(col("v").as("payload"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("created"),
        lit(false).as("recovery"))

    // wave 1 → run 1
    (1 to 10).map(i => s"wave1-$i").toDF("v").write.mode("append").parquet(srcDir)
    val sink1 = new CollectingSink
    val run1 = StreamingPipeline.run(source(), cfg, reg,
      sinks = Map("resultsnode" -> sink1), checkpoint = Some(cp))
    run1.query.processAllAvailable()
    run1.shutdown()
    assert(sink1.rows.map(_.getString(0)).count(_.startsWith("wave1")) == 10)

    // wave 2 lands while nothing is running
    (1 to 7).map(i => s"wave2-$i").toDF("v").write.mode("append").parquet(srcDir)

    // run 2 from the same checkpoint: ONLY wave 2, no re-replay
    val sink2 = new CollectingSink
    val run2 = StreamingPipeline.run(source(), cfg, reg,
      sinks = Map("resultsnode" -> sink2), checkpoint = Some(cp))
    run2.query.processAllAvailable()
    run2.shutdown()

    val replayed = sink2.rows.map(_.getString(0))
    assert(replayed.count(_.startsWith("wave2")) == 7, s"missing wave2 rows: $replayed")
    assert(!replayed.exists(_.startsWith("wave1")),
      s"checkpoint resume re-replayed wave1: $replayed")
  }
}
