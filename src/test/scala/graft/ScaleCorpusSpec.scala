package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** `Tool corpus` ([[ScaleCorpus.write]]) on the smallest testdata. */
class ScaleCorpusSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"
  private val facts = Seq("customer", "documents", "embeddings", "events", "lineitem", "orders")
  private val keys = Map(
    "customer" -> Seq("c_custkey"), "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id"), "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "orders" -> Seq("o_orderkey"))

  private def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")

  test("2 replicas: fact rows double, replica keys stay disjoint, columns are kept") {
    val out = Files.createTempDirectory("graft-corpus").resolve("x2").toString
    assert(ScaleCorpus.write(spark, src, out, 2))
    facts.foreach { t =>
      val (a, b) = (read(src, t), read(out, t))
      assert(b.count() == 2 * a.count(), t)
      // replica keys never collide: every distinct source key appears
      // once per replica (lineitem's key is not unique in the source)
      def distinctKeys(df: org.apache.spark.sql.DataFrame) = df.select(keys(t).map(col): _*).distinct().count()
      assert(distinctKeys(b) == 2 * distinctKeys(a), s"$t keys")
      assert(b.columns.toSeq == a.columns.toSeq, t)
    }
    Seq("part", "supplier", "nation", "region").foreach(t =>
      assert(read(out, t).count() == read(src, t).count(), t))
    // replica 1 is word-salted (organic growth, no verbatim copy) and
    // n_chars follows its text
    val r1 = read(out, "documents").where(col("doc_id") >= ScaleCorpus.Stride)
    assert(r1.where(col("n_chars") =!= length(col("text"))).count() == 0L)
    assert(r1.where(col("text").contains("y1")).count() == r1.where(length(col("text")) > 0).count())
    // a column the recipe does not name rides along
    val wider = read(src, "documents").withColumn("extra", lit(1))
    assert(ScaleCorpus.replicate("documents", wider, 2).columns.toSeq == wider.columns.toSeq)
    // a complete corpus for the same arguments is reused, not rewritten
    assert(!ScaleCorpus.write(spark, src, out, 2))
  }

  test("a half-written corpus is regenerated, never measured") {
    val out = Files.createTempDirectory("graft-corpus").resolve("x2").toString
    // what a killed run leaves: part of the target without the
    // completion marker, and a stale staging directory
    spark.range(3).toDF("doc_id").write.parquet(s"$out/documents.parquet")
    spark.range(1).write.parquet(s"$out.partial/events.parquet")
    assert(ScaleCorpus.write(spark, src, out, 2))
    facts.foreach(t => assert(read(out, t).count() == 2 * read(src, t).count(), t))
    assert(!Files.exists(Paths.get(s"$out.partial")))
    // a marker for other arguments does not count as complete either
    assert(ScaleCorpus.write(spark, src, out, 3))
    assert(read(out, "documents").count() == 3 * read(src, "documents").count())
  }
}
