package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The pure-`Column` higher-order-function form [[Chunking.cdcChunks]]
  * had before its codegen kernel. ChunkingKernelSpec checks the kernel
  * against it bit for bit.
  */
object CdcChunksExpr {

  def apply(df: DataFrame, idCol: String, textCol: String, avgWords: Int = 32): DataFrame = {
    require(avgWords >= 2, s"cdcChunks: avgWords must be >= 2, got $avgWords")
    val d = lit(avgWords.toLong)
    def mix(h: Column): Column = {
      val a = h.bitwiseXOR(shiftright(h, 33))
      val b = a.bitwiseXOR(shiftright(a, 17))
      b.bitwiseXOR(shiftright(b, 7))
    }
    val base = df
      .select(col(idCol),
        filter(split(coalesce(col(textCol), lit("")), " "), w => w =!= "").as("__ws"))
      .filter(size(col("__ws")) > 0)
      // re-join so the kernel's split matches the normalized words;
      // __hs(j) is the packed key of words j..j+2 (1-based)
      .withColumn("__hs",
        graft.functions.Kernels.shingleHashes(array_join(col("__ws"), " "), 3))
    // cut AFTER 1-based word position i (i >= 3) when the mixed hash of
    // the trailing 3-gram (at index i-2) lands on D-1. Iterate the HASH
    // ARRAY with an indexed transform (hash h at 0-based j ↦ cut at
    // j+3), never element_at(__hs, i) inside a lambda: projection
    // collapse inlines __hs into the lambda body, re-running the whole
    // shingle kernel PER POSITION — measured 65 s for 5 000 docs at
    // sf0.1 (O(n²·chars) per doc) vs 0.4 s for this form. A transform's
    // collection argument is evaluated once; only the lambda variable
    // is per-element. Empty-array cast keeps the n<3 branch typed.
    val cuts = when(size(col("__ws")) >= 3,
      filter(
        transform(col("__hs"), (h, j) =>
          when(pmod(mix(h), d) === d - 1L, j + 3).otherwise(lit(null).cast("int"))),
        x => x.isNotNull))
      .otherwise(array().cast("array<int>"))
    val withChunks = base.withColumn("__cuts", cuts).withColumn("__chunks", {
      val starts = concat(array(lit(1)), transform(col("__cuts"), c => c + 1))
      val ends = concat(col("__cuts"), array(size(col("__ws"))))
      // a trailing cut at the last word yields an empty (start>end) pair
      filter(
        zip_with(starts, ends, (a, b) =>
          when(a <= b, struct(
            array_join(slice(col("__ws"), a, b - a + 1), " ").as("chunk_text"),
            (b - a + 1).cast("long").as("n_words")))),
        s => s.isNotNull)
    })
    withChunks
      .select(col(idCol), posexplode(col("__chunks")).as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.chunk_text").as("chunk_text"), col("__c.n_words").as("n_words"),
        graft.functions.TextFunctions.fingerprint(col("__c.chunk_text")).as("chunk_fp"))
  }
}
