package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Chunking, Decontaminate, Dedup, Layout, Packing, QualityRules, Sampling}

/** End-to-end training-data curation pipeline — every stage is a graft
  * operator, composed the way a real 100 TB corpus run would be:
  *
  *   1. quality gate: Gopher-style rule filter, then score/repetition
  *      thresholds (drop rule-failing, low-score, repetitive docs)
  *   2. PII redaction
  *   3. exact dedup on content fingerprint (keep min doc_id)
  *   4. near-dup dedup with the QUALITY keep-rule (each group keeps
  *      its best member) + cross-doc span surgery (shared runs
  *      survive once)
  *   5. eval-set decontamination (drop benchmark leakage)
  *   6. per-source cap (k best docs per source — domain balancing)
  *   7. deterministic train/valid/test split + range-partitioned
  *      sorted write (file-pruning layout)
  *   8. chunk + sequence-pack the train split into context windows
  *   9. weighted source interleave of the train split on the BPE
  *      subword budget (the curriculum order a trainer reads)
  *
  * `runMain graft.examples.TrainingPipelineDemo <sfDir> <outDir>`
  * prints per-stage counts and writes the splits under <outDir>.
  */
object TrainingPipelineDemo {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft-training-demo")
    val spark = graft.GraftSession.local()
    try {
      val counts = run(spark, sfDir, outDir)
      counts.foreach { case (stage, n) => println(f"[training-demo] $stage%-28s $n%8d docs") }
    } finally spark.stop()
  }

  /** the pipeline itself; returns per-stage doc counts (testable). */
  def run(spark: SparkSession, sfDir: String, outDir: String): Seq[(String, Long)] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val c0 = docs.count()

    // 1. quality gate: published per-doc rules first (word count, mean
    //    word length, stopwords, uniqueness, alpha/symbol ratios), then
    //    score >= 250k ppm AND under 50% repeated 3-grams
    val quality = QualityRules.applyRules(docs, "text")
      .withColumn("score_ppm", TextFunctions.qualityScorePpm(col("text")))
      .withColumn("rep_ppm", TextFunctions.repetitionPpm(col("text")))
      .filter(col("score_ppm") >= 250000 && col("rep_ppm") <= 500000)
    val c1 = quality.count()

    // 2. PII redaction (pure projection, fuses into the scan)
    val redacted = quality.withColumn("text", TextFunctions.redact(col("text")))

    // 3. exact dedup on the NORMALIZED content fingerprint — case /
    //    punctuation / whitespace variants collapse before hashing
    //    (the C4 convention)
    val keep = Dedup.exact(
        redacted.withColumn("fp", TextFunctions.fingerprint(
          TextFunctions.normalizeForDedup(col("text")))),
        Seq("fp"), "doc_id")
      .select(col("keep_id").as("doc_id"))
    val exactKept = redacted.join(keep, "doc_id")
    val c2 = exactKept.count()

    // 4. near-dup dedup, QUALITY keep-rule: each group keeps its best
    //    member (ties → lowest id), then cross-doc span surgery cuts
    //    any remaining shared runs out of the later doc
    val nearKeptIds = Dedup.dedupByMinhashKeepBest(exactKept, "doc_id", "text",
        TextFunctions.qualityScorePpm(col("text")))
      .select("doc_id")
    val nearKeptRaw = exactKept.join(nearKeptIds, "doc_id")
    val nearKept = nearKeptRaw
      .join(Dedup.removeCommonSpans(nearKeptRaw, "doc_id", "text")
          .withColumnRenamed("id", "doc_id").withColumnRenamed("text", "__trim"),
        "doc_id")
      .withColumn("text", col("__trim")).drop("__trim")
      .filter(length(col("text")) > 0)
    val c3 = nearKept.count()

    // 5. decontaminate against a held-out eval slice (benchmark guard)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(97)) === 0).select("doc_id", "text")
    val clean = Decontaminate(
      nearKept.filter(pmod(col("doc_id"), lit(97)) =!= 0), evalSet, "doc_id", "text", n = 5)
    val c4 = clean.count()

    // 6. per-source cap: at most 20 best-quality docs per source (the
    //    domain-balancing step), through the SQL surface — the same
    //    k-bounded `graft_topk` aggregate `Sampling.capPerGroup` rides
    //    (map-side partial combine, never a window), here as the SQL a
    //    platform user would write
    val capped = clean.join(sourceCapIds(spark, clean, k = 20), "doc_id")
    val c5 = capped.count()

    // 7. LEAKAGE-SAFE deterministic split + sorted layout per split:
    //    any near-dup pair that survived the keep-best stage lands in
    //    ONE split (component-keyed hash), so test never holds a
    //    paraphrase of a train row
    val split = Sampling.splitByComponent(
      capped, "doc_id",
      Dedup.minhashLshCandidates(capped, "doc_id", "text", n = 3, k = 8, bands = 2),
      "da", "db",
      Seq("train" -> 80, "valid" -> 10, "test" -> 10), seed = 1)
    Seq("train", "valid", "test").foreach { s =>
      Layout.writeSorted(
        split.filter(col("split") === s).drop("split"),
        s"$outDir/$s", numFiles = 4, col("doc_id"))
    }
    val written = spark.read.parquet(s"$outDir/train").count() +
      spark.read.parquet(s"$outDir/valid").count() +
      spark.read.parquet(s"$outDir/test").count()

    // 8. chunk + pack the train split into 2048-token context windows
    val chunks = Chunking.chunk(
      spark.read.parquet(s"$outDir/train"), "doc_id", "text", chunkSize = 64, overlap = 16)
    val packed = Packing.packOffsets(
      spark, chunks, "doc_id", "chunk_idx", "n_tokens", budget = 2048L)
    packed.write.mode("overwrite").parquet(s"$outDir/train_packed")
    // max over an empty split is NULL (possible when the quality gate /
    // decontamination empties train at small scale): 0 windows, not NPE
    val maxWin = spark.read.parquet(s"$outDir/train_packed")
      .agg(max(col("win_last"))).first()
    val nWindows = if (maxWin.isNullAt(0)) 0L else maxWin.getLong(0) + 1

    // 9. curriculum order: interleave train docs 3:1 by source parity
    //    on the REAL token budget (BPE subword counts), written sorted
    //    by schedule key — the order a trainer consumes
    val sched = Sampling.interleaveByWeight(
      spark.read.parquet(s"$outDir/train")
        .withColumn("n_bpe", graft.functions.Bpe.tokenCount(col("text"))),
      "source", "doc_id", "n_bpe",
      src => when(pmod(regexp_extract(src, "(\\d+)", 1).cast("long"), lit(2)) === 0,
        lit(3L)).otherwise(lit(1L)))
    Layout.writeSorted(sched, s"$outDir/train_schedule", numFiles = 4, col("sched_key"))
    val cSched = spark.read.parquet(s"$outDir/train_schedule").count()

    Seq(
      "input" -> c0,
      "quality-gate" -> c1,
      "exact-dedup" -> c2,
      "near-dup-keep-best" -> c3,
      "decontaminated" -> c4,
      "source-capped" -> c5,
      "written-splits" -> written,
      "context-windows" -> nWindows,
      "scheduled-train-docs" -> cSched)
  }

  /** Stage-6 helper: the doc ids surviving the per-source cap, written
    * as the SQL a platform user would — `graft_topk(ord, id, k)` +
    * LATERAL VIEW explode. Identical plan to
    * [[graft.operators.Sampling.capPerGroup]]: ObjectHashAggregate
    * with a `partial_graft_topk` map-side phase, ≤ k entries per
    * source per partition into the exchange, no window anywhere
    * (pinned by TrainingPipelineDemoSpec).
    */
  def sourceCapIds(spark: SparkSession,
                   docs: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs.withColumn("__q", TextFunctions.qualityScorePpm(col("text")))
      .createOrReplaceTempView("graft_demo_cap_in")
    spark.sql(
      s"""SELECT e.id AS doc_id
         |FROM (SELECT source, graft_topk(__q, doc_id, $k) AS top
         |      FROM graft_demo_cap_in GROUP BY source)
         |LATERAL VIEW explode(top) t AS e""".stripMargin)
  }
}
