package graft.operators

import graft.SparkSpec

/** The CDC chunk kernel must reproduce the higher-order-function form
  * BIT-FOR-BIT — cut positions, span texts, word counts and chunk
  * fingerprints all feed oracle-pinned queries (dd_cdc_dedup,
  * ta_cdc_chunk).
  */
class ChunkingKernelSpec extends SparkSpec {
  import spark.implicits._

  private def assertParity(df: org.apache.spark.sql.DataFrame, avgWords: Int, what: String): Unit = {
    val cols = Seq("doc_id", "chunk_idx", "chunk_text", "n_words", "chunk_fp")
    val k = Chunking.cdcChunks(df, "doc_id", "text", avgWords)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.toString)
    val e = CdcChunksExpr(df, "doc_id", "text", avgWords)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq).sortBy(_.toString)
    assert(k.length == e.length, s"$what: ${k.length} kernel rows vs ${e.length} expr rows")
    k.zip(e).foreach { case (a, b) => assert(a == b, s"$what: $a != $b") }
  }

  test("kernel == HOF form on the bench corpus (both avgWords shapes)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assertParity(docs, 16, "sf0.01 avgWords=16")
    assertParity(docs, 32, "sf0.01 avgWords=32")
  }

  test("kernel == HOF form on edge-case rows") {
    val df = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "   "),
      (4L, "one"),
      (5L, "one two"),
      (6L, "a  b   c  d"), // multi-space runs collapse (empties dropped)
      (7L, ("w" * 3 + " ") * 200), // repeated words — many identical grams
      (8L, (1 to 500).map(i => s"tok$i").mkString(" ")),
      (9L, "Fish & chips <b>now</b> 'hot' \"q\" été") // non-ASCII BMP
    ).toDF("doc_id", "text")
    assertParity(df, 2, "edges avgWords=2")
    assertParity(df, 16, "edges avgWords=16")
  }
}
