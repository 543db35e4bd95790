package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The deterministic corpus recipes of the scale tools ([[ScaleDecade]]
  * and `Tool corpus`), plus their timing helper. Every recipe is a pure
  * function of its input and multiplier: no rand(), so a curve point
  * can be regenerated bit for bit.
  *
  * Two text families, and the difference matters:
  *   - [[organicDocs]] grows without boilerplate: its duplicate rate is
  *     the source corpus's at every multiplier. Only it may feed the
  *     uncapped pair operators (`simhashPairs`, `ngramJaccardPairs`, …).
  *   - [[massDup]] gives 10 % of docs ONE shared boilerplate text, so a
  *     single bucket grows with the corpus and uncapped pair volume is
  *     quadratic. It exists to show the occupancy caps binding.
  */
object ScaleCorpus {

  /** doc and vector id offset of organic replica k (k · Stride) */
  val Stride = 10000000L

  /** key offsets of replica k, per table, so keys stay unique and the
    * joins between replicated tables stay consistent */
  private val keyStrides: Map[String, Seq[(String, Long)]] = Map(
    "documents" -> Seq("doc_id" -> Stride),
    "embeddings" -> Seq("vec_id" -> Stride),
    "events" -> Seq("event_id" -> 100000000L, "user_id" -> 1000000L),
    "lineitem" -> Seq("l_orderkey" -> 100000000L),
    "orders" -> Seq("o_orderkey" -> 100000000L, "o_custkey" -> 1000000L),
    "customer" -> Seq("c_custkey" -> 1000000L))

  /** dimension tables, copied once */
  private val dims = Seq("part", "supplier", "nation", "region")

  /** `replicas` copies of table `name`; replica 0 is the input itself */
  def replicate(name: String, df: DataFrame, replicas: Int): DataFrame =
    (0 until replicas).map { k =>
      if (k == 0) df
      else {
        val keyed = keyStrides(name).foldLeft(df) { case (d, (c, stride)) =>
          d.withColumn(c, col(c) + k * stride)
        }
        name match {
          // per-replica word salt: replica vocabularies are disjoint, so
          // shingle/band/bucket collisions stay at the organic rate
          // (verbatim copies would grow pair volume quadratically in R)
          case "documents" =>
            val salted = keyed.withColumn("text", array_join(transform(split(col("text"), " "),
              w => when(w === "", w).otherwise(concat(w, lit("y" + k)))), " "))
            if (!df.columns.contains("n_chars")) salted
            else salted.withColumn("n_chars", length(col("text")).cast(df.schema("n_chars").dataType))
          // small per-replica shift: near-dup structure without
          // byte-identical clusters
          case "embeddings" =>
            keyed.withColumn("embedding", transform(col("embedding"), x => x + lit(k.toFloat * 0.001f)))
          case _ => keyed
        }
      }
    }.reduce(_ unionByName _)

  /** `mult` organic copies of a documents frame (no boilerplate) */
  def organicDocs(docs: DataFrame, mult: Int): DataFrame = snapshot(replicate("documents", docs, mult))

  /** `mult` copies of (doc_id, text) where every 10th source doc is ONE
    * shared boilerplate text and every other text gets a per-copy
    * suffix word */
  def massDup(docs: DataFrame, mult: Int): DataFrame = {
    val boiler = ("breaking news subscribe to our newsletter all rights reserved " * 6).trim
    snapshot((0 until mult).map(i => docs.select(
        (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0, lit(boiler))
          .otherwise(concat(col("text"), lit(" r" + i))).as("text")))
      .reduce(_ union _))
  }

  /** n id-hashed 16-d vectors (vec_id, embedding); with `boilerplate`,
    * every 10th vector shares ONE direction, which lands in a single
    * IVF list / LSH bucket */
  def embeddings(spark: SparkSession, n: Long, boilerplate: Boolean = true): DataFrame = {
    val organic = expr(
      "transform(sequence(0, 15), j -> CAST(((id * 31 + j * 7919) % 1000 - 500) / 500.0 AS FLOAT))")
    snapshot(spark.range(n).select(col("id").as("vec_id"),
      (if (!boilerplate) organic
       else when(pmod(col("id"), lit(10)) === 0,
         expr("transform(sequence(0, 15), j -> CAST(1.0 + j AS FLOAT))")).otherwise(organic))
        .as("embedding")))
  }

  /** spread over every core and cut the lineage, so a timed operator
    * pays neither the synthesis nor a skewed input layout */
  def snapshot(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism).localCheckpoint(true)

  def time(f: => Long): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** one warm run, then best of two (the tightest bound on the true
    * cost): (seconds, result) */
  def best(f: => Long): (Double, Long) = {
    val n = f
    (math.min(time(f), time(f)), n)
  }

  /** Writes `replicas` copies of every testdata table in `src` to `out`
    * and returns false when `out` already holds that corpus. The corpus
    * is built in the sibling `<out>.partial` and renamed into place
    * after its completion marker is written, so a killed run never
    * leaves a corpus that a later run would measure; an `out` without
    * the marker for these arguments is regenerated.
    */
  def write(spark: SparkSession, src: String, out: String, replicas: Int): Boolean = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    val target = Paths.get(out)
    val marker = "_GRAFT_CORPUS"
    val stamp = s"$src x$replicas\n"
    val m = target.resolve(marker)
    if (Files.isRegularFile(m) && Files.readString(m) == stamp) return false
    val partial = Paths.get(s"$out.partial")
    Seq(partial, target).foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    (keyStrides.keys.toSeq.sorted ++ dims).foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      (if (dims.contains(t)) df else replicate(t, df, replicas))
        .write.parquet(partial.resolve(s"$t.parquet").toString)
    }
    Files.writeString(partial.resolve(marker), stamp)
    Files.move(partial, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    true
  }
}
