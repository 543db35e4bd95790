package graft

import org.apache.spark.sql.SparkSession

/** The one place graft's SparkSession settings live. Every main, tool
  * and spec builds its session here, so the settings cannot drift
  * apart between entry points.
  *
  *   - UTC session time zone: oracle SQL and `EpochTime` assume it.
  *   - `nanosAsLong`: Spark 4 reads a TIMESTAMP(NANOS) `events.ts` only
  *     with it; `queries.Tables` normalizes the long to a timestamp.
  *   - `cleanCheckpoints`: the iterative operators snapshot every round;
  *     superseded checkpoints are reclaimed with their RDDs.
  *   - UI off.
  *   - Janino class cache of 10,000: the default 100 entries is far below
  *     the classes a full query suite generates, and evicted classes are
  *     recompiled and re-JIT'd mid-run.
  */
object GraftSession {

  val shared: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  /** `SPARK_GRAFT_CPUS`, else every core of this JVM's host */
  def cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def cpusFrom(env: Option[String]): Int =
    env.map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** shared settings, no master: spark-submit supplies it */
  def builder(): SparkSession.Builder =
    shared.foldLeft(SparkSession.builder().appName("graft")) { case (b, (k, v)) => b.config(k, v) }

  /** a `local[cpus]` session with one shuffle partition per core */
  def local(cpus: Int = cpus): SparkSession = {
    val spark = builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
