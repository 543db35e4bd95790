package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Measurement commands over single [[SparkEntry]] queries, plus the
  * scale-corpus generator. Measurement only: no query or test depends on it.
  *
  * {{{
  * runMain graft.Tool time <q...> [--reps N]
  * runMain graft.Tool explain <outDir|-> <q...>
  * runMain graft.Tool corpus <srcSfDir> <outDir> <replicas>
  * }}}
  *
  *   - `time` runs each query once untimed, then N (default 3) warm
  *     reps. Per rep it prints the wall time split into plan build,
  *     analysis-to-physical planning and execution, the scheduler's view
  *     (jobs, stages, tasks, summed task run time) and each job's wall
  *     time. Wall ≫ task time / cores with many jobs means the cost is
  *     driver-side: job launches, barriers, plan work.
  *   - `explain` prints or writes `<outDir>/<q>.txt`: the formatted plan
  *     after a materializing count, so AQE-final stages and any
  *     construction-time snapshots are what the bench runs.
  *   - `corpus` writes a `replicas`× copy of a testdata directory
  *     ([[ScaleCorpus.write]]); time queries on it with
  *     `SPARK_GRAFT_SF_DIR=<outDir> ... Tool time <q...>`.
  *
  * `time` and `explain` read the testdata directory from
  * SPARK_GRAFT_SF_DIR; cores come from SPARK_GRAFT_CPUS ([[GraftSession]]).
  */
object Tool {

  private val usage =
    "usage: Tool time <q...> [--reps N] | Tool explain <outDir|-> <q...> | Tool corpus <srcSfDir> <outDir> <replicas>"

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: rest =>
      val i = rest.indexOf("--reps")
      val reps = if (i < 0) 3 else rest(i + 1).toInt
      withQueries(if (i < 0) rest else rest.patch(i, Nil, 2))(time(_, _, _, reps))
    case "explain" :: out :: names => withQueries(names)(explain(out))
    case "corpus" :: src :: out :: replicas :: Nil =>
      val spark = GraftSession.local()
      val made = ScaleCorpus.write(spark, src, out, replicas.toInt)
      println(s"[corpus] ${if (made) "wrote" else "reused"} ${replicas}x $src at $out")
      spark.stop()
    case _ => System.err.println(usage); sys.exit(2)
  }

  private type Query = (SparkSession, String) => DataFrame

  private def withQueries(names: List[String])(f: (SparkSession, String, Seq[(String, Query)]) => Unit): Unit = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(names.nonEmpty && unknown.isEmpty,
      if (names.isEmpty) usage else s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a testdata directory"))
    val spark = GraftSession.local()
    spark.range(1000000).selectExpr("sum(id)").collect() // warm the JVM
    try f(spark, sfDir, names.map(n => n -> all(n)))
    finally spark.stop()
  }

  /** one scheduler-side record of everything since the last reset */
  private final class Profile extends SparkListener {
    val jobs = TrieMap[Int, (Long, Long)]()
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    def reset(): Unit = { jobs.clear(); stages.set(0); tasks.set(0); taskMs.set(0) }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.put(e.jobId, (e.time, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { case (s, _) => jobs.put(e.jobId, (s, e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskMetrics != null) taskMs.addAndGet(e.taskMetrics.executorRunTime)
    }
  }

  private def time(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)], reps: Int): Unit = {
    val p = new Profile
    spark.sparkContext.addSparkListener(p)
    def s(nanos: Long): String = f"${nanos / 1e9}%.3f"
    queries.foreach { case (name, fn) =>
      fn(spark, sfDir).count() // warmup rep, not reported
      (1 to reps).foreach { i =>
        Thread.sleep(400) // let the listener bus drain the previous rep
        p.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = System.nanoTime()
        df.queryExecution.executedPlan // analysis, optimization, physical planning
        val tPlan = System.nanoTime()
        val n = df.count()
        val tEnd = System.nanoTime()
        Thread.sleep(400)
        val js = p.jobs.toSeq.sortBy(_._1)
        println(s"[time] $name rep $i: wall ${s(tEnd - t0)} s (build ${s(tBuild - t0)} plan ${s(tPlan - tBuild)} " +
          s"exec ${s(tEnd - tPlan)}) jobs ${js.size} stages ${p.stages.get} tasks ${p.tasks.get} " +
          s"taskSum ${s(p.taskMs.get * 1000000L)} s, $n rows")
        println(s"[time]   job walls (s): " +
          js.map { case (id, (a, b)) => f"$id:${(b - a).max(0L) / 1e3}%.3f" }.mkString(" "))
      }
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
  }

  private def explain(out: String)(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)]): Unit = {
    if (out != "-") Files.createDirectories(Paths.get(out))
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.count() // materialize so AQE finalizes stages
        val plan = df.queryExecution.explainString(FormattedMode)
        if (out == "-") println(s"== $name ==\n$plan")
        else {
          Files.writeString(Paths.get(out, s"$name.txt"), plan)
          println(s"[explain] wrote $out/$name.txt")
        }
      } catch {
        case t: Throwable => System.err.println(s"[explain] $name FAILED: ${t.getMessage}")
      }
    }
  }
}
