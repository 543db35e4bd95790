package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible sampling for training-data pipelines.
  *
  * `rand()`-based sampling is nondeterministic under task retry and
  * unauditable across engines; everything here derives from explicit
  * affine hashes of the row key (same arithmetic family as
  * [[graft.functions.Hashing]]), so a split is a pure function of the
  * key: re-runs, speculative tasks, and oracle re-derivations all
  * agree, and a row's split assignment never changes when the dataset
  * around it grows — the property that keeps train/test contamination
  * impossible across dataset versions.
  */
object Sampling {

  private val P = graft.functions.TextFunctions.P

  /** deterministic bucket in [0, buckets) from a long key column.
    * The key is reduced mod P BEFORE the affine multiply — identical
    * result by modular arithmetic, but the product stays ≤ ~2.5e11 so
    * Spark 4's ANSI mode can never raise ARITHMETIC_OVERFLOW at
    * extreme key magnitudes (and the streaming twin
    * [[graft.streaming.StatefulOps]] `hashOrd` can never wrap) — the
    * stream/batch exact-agreement contract holds for ALL int64 keys.
    * The key must be NUMERIC (a string key would implicit-cast to
    * null and bucket nothing) — the df-aware operators below route
    * string keys through [[keyAsLong]] first.
    */
  def hashBucket(key: Column, buckets: Int, seed: Int = 0): Column =
    pmod(pmod(pmod(key, lit(P)) * (37L + 101L * seed) + (7L + 139L * seed), lit(P)),
      lit(buckets.toLong))

  /** int64 form of a split/sampling key: numeric keys pass through
    * unchanged (every historical assignment is preserved); STRING keys
    * (URLs, UUIDs — explicitly supported by the dedup/components
    * family) hash through the engine-replayable
    * [[graft.functions.TextFunctions.charHash]] fold — without this
    * they would implicit-cast to null inside [[hashBucket]] and every
    * row's split/sample membership would silently come out null/empty.
    * Oracle mirror: `duckCharHash` in the query layer.
    */
  private def keyAsLong(df: DataFrame, keyCol: String): Column =
    df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        graft.functions.TextFunctions.charHash(col(keyCol))
      case _ => col(keyCol)
    }

  /** Split rows into named fractions by key hash: e.g.
    * `Seq("train" -> 80, "test" -> 20)` (integer percents, sum 100).
    * Adds a `split` column; assignment depends only on (key, seed).
    */
  def splitByHash(df: DataFrame, keyCol: String,
                  fractions: Seq[(String, Int)], seed: Int = 0): DataFrame = {
    require(fractions.map(_._2).sum == 100, "fractions must sum to 100")
    val b = hashBucket(keyAsLong(df, keyCol), 100, seed)
    val (expr, _) = fractions.foldLeft((lit(null).cast("string"), 0)) {
      case ((acc, lo), (name, pct)) =>
        (when(b >= lo && b < lo + pct, name).otherwise(acc), lo + pct)
    }
    df.withColumn("split", expr)
  }

  /** Leakage-safe train/valid/test split: every member of a near-dup
    * component lands in the SAME split. [[splitByHash]] alone is safe
    * against dataset growth but not against duplication — a doc and
    * its near-duplicate hash to independent buckets, and the test set
    * silently contains paraphrases of training rows. Here the split
    * key is the doc's connected-component label over the candidate
    * pair graph (its own id when unpaired), so duplicates can never
    * straddle a split boundary.
    *
    * `pairs` is any candidate edge list ([[Dedup.minhashLshCandidates]],
    * [[Dedup.simhashPairs]], [[Similarity.lshCandidates]] …) with ids
    * in `aCol`/`bCol`. Scale: the component table is sized by PAIRED
    * docs only (dup clusters, typically ≪ corpus) — the join back is
    * an AQE broadcast in practice and a co-partitioned hash join at
    * worst; the corpus never reshuffles for singletons.
    *
    * Output: `df` + `split`, assignment a pure function of
    * (component label, seed) — stable across runs, engines, and
    * corpus growth that doesn't merge components.
    */
  def splitByComponent(df: DataFrame, idCol: String,
                       pairs: DataFrame, aCol: String, bCol: String,
                       fractions: Seq[(String, Int)], seed: Int = 0): DataFrame = {
    val comp = Dedup.connectedComponents(pairs, aCol, bCol)
      .select(col("id").as("__cc_id"), col("comp").as("__comp"))
    val keyed = df
      .join(comp, col(idCol) === col("__cc_id"), "left")
      .withColumn("__split_key", coalesce(col("__comp"), col(idCol)))
      .drop("__cc_id", "__comp")
    splitByHash(keyed, "__split_key", fractions, seed).drop("__split_key")
  }

  /** Weight-proportional subsampling: keep a row with probability
    * `weightUnits / den`, deterministically — the quality-weighted
    * curation step (keep high-quality docs with high probability, low
    * with low) without rand(): membership is a pure function of
    * (key, seed), so re-runs, task retries, and engines agree row for
    * row. `weightUnits` must be an INTEGER column in [0, den] (e.g.
    * [[graft.functions.TextFunctions.qualityScorePpm]] with
    * den = 1000000): the comparison is integer-vs-integer, so there is
    * no float threshold to diverge cross-engine. A pure map-side
    * filter — no shuffle, no state, pushes down like any predicate.
    */
  def sampleByWeight(df: DataFrame, keyCol: String, weightUnits: Column,
                     den: Int = 1000000, seed: Int = 0): DataFrame =
    df.filter(hashBucket(keyAsLong(df, keyCol), den, seed) < weightUnits)

  /** Epoch-aware mixture: per-source repeat factors in PPM OF EPOCHS
    * (2_500_000 = 2.5 epochs), the up-sampling recipe of modern LLM
    * data mixes (small high-quality sources repeat; the fractional
    * epoch is a hash-selected subset, not a random one). Every row is
    * emitted floor(f) times, plus once more iff
    * `hashBucket(key) < frac_ppm` — so re-runs, task retries, and
    * engines emit the IDENTICAL multiset, and the fractional subset is
    * growth-stable (a new doc never flips an old doc's copy count).
    * Output: (key, group, copy 0..n−1) — a map-side explode, no
    * shuffle, no rand(). Sources with f < 1 are a strict hash-subset —
    * the same operator downsamples.
    */
  def mixtureByEpochs(df: DataFrame, keyCol: String, groupCol: String,
                      epochsPpmOf: Column => Column, seed: Int = 0): DataFrame =
    df.select(col(keyCol), col(groupCol))
      .withColumn("__ppm", epochsPpmOf(col(groupCol)).cast("long"))
      .withColumn("__n",
        expr("__ppm DIV 1000000") +
          when(hashBucket(keyAsLong(df, keyCol), 1000000, seed) < pmod(col("__ppm"), lit(1000000L)),
            lit(1L)).otherwise(lit(0L)))
      .filter(col("__n") > 0)
      .select(col(keyCol), col(groupCol),
        explode(sequence(lit(0L), col("__n") - 1)).as("copy"))

  /** Corpus mixture sampling by token budget: per group (data source),
    * keep rows in key-hash order until the group's cumulative token
    * count reaches its budget — how a training mix hits target
    * source proportions ("x billion tokens of web, y of code") without
    * rand(). Membership is deterministic given the corpus: re-runs,
    * task retries, and engines agree exactly. Under growth it is
    * prefix-stable — docs hashed before an insertion point keep their
    * cumsum and membership; a doc inserted early can push later docs
    * of its source over the budget (inherent to any cumulative cut).
    *
    * Mixture sources are FEW by nature, so a cumsum window partitioned
    * on the group alone would serialize each source's entire corpus
    * through one reducer at scale. This runs the same two-phase
    * distributed prefix sum as [[Packing.packOffsets]], keyed on
    * (group, hash-bucket):
    *
    *   1. the hash-order key (already in [0, 1e6)) is range-cut into
    *      `buckets` sub-ranges, so bucket order == hash order;
    *   2. per-(group, bucket) inclusive prefix sums run in parallel;
    *   3. per-group bucket totals (≤ `buckets` rows per group — model-
    *      sized, never data-sized) get exclusive prefix offsets via a
    *      window over those few rows, and broadcast-join back.
    *
    * The cumulative sums are identical to a single per-group window,
    * so membership is unchanged — only the plan shape differs. Input
    * must be deterministic (re-computable to the same rows), which the
    * hash-derived ordering contract already requires.
    *
    * Adds `cum_tokens` (inclusive) to the kept rows.
    */
  /** per-group inclusive token cumsum in deterministic hash order, as a
    * two-phase distributed prefix sum (see [[mixtureByTokenBudget]] for
    * the plan rationale). Adds `cum_tokens`; shared by the mixture cut
    * and the interleave scheduler so the ordering contract can't fork.
    */
  private def groupedHashCumsum(
      df: DataFrame, groupCol: String, keyCol: String, tokCol: String,
      seed: Int, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val span = (1000000 + buckets - 1) / buckets
    // Snapshot the bucketed frame once (lazy local checkpoint): the
    // per-bucket cumsum branch and the bucket-totals branch below both
    // read it, and a nondeterministic upstream giving the two passes
    // different rows would silently corrupt cum_tokens — the exact
    // failure mode Packing.packOffsets guards against. Checkpoint, not
    // persist: the returned plan keeps reading this frame, so there is
    // no safe in-method unpersist point; checkpoint blocks are freed by
    // the ContextCleaner when the caller drops the result. I/O cost is
    // one materialization of the input — the same class as the shuffle
    // the cumsum window pays anyway.
    val withB = df
      .withColumn("__ord", hashBucket(col(keyCol), 1000000, seed))
      .withColumn("__b", expr(s"__ord DIV $span"))
      .localCheckpoint(false)
    // phase 2: per-(group, bucket) inclusive prefix sum, parallel
    // across group × bucket
    val wLocal = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col("__ord"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withB.withColumn("__local", sum(col(tokCol)).over(wLocal))
    // phase 3: bucket totals → exclusive offsets; the window here runs
    // over ≤ `buckets` rows per group, not over the data
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withB.groupBy(col(groupCol), col("__b"))
      .agg(sum(col(tokCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wOff), lit(0L)))
      .select(col(groupCol).as("__g"), col("__b").as("__ob"), col("__off"))
    local.join(broadcast(offs),
        col(groupCol) <=> col("__g") && col("__b") <=> col("__ob"))
      .withColumn("cum_tokens", col("__off") + col("__local"))
      .drop("__ord", "__b", "__local", "__g", "__ob", "__off")
  }

  def mixtureByTokenBudget(
      df: DataFrame, groupCol: String, keyCol: String, tokCol: String,
      budgetFor: Column => Column, seed: Int = 0, buckets: Int = 32): DataFrame =
    groupedHashCumsum(df, groupCol, keyCol, tokCol, seed, buckets)
      .filter(col("cum_tokens") <= budgetFor(col(groupCol)))

  /** Temperature-sampled mixture (the standard multilingual/multi-source
    * rebalancing, e.g. mT5): per-source budgets proportional to
    * (source's total tokens)^(1/temperature), scaled to `totalBudget`
    * tokens overall — temperature 1 keeps natural proportions,
    * temperature → ∞ approaches uniform, 2 (the common default) damps
    * head sources and boosts the tail. Source totals are ONE
    * partial-aggregated pass whose output is source-cardinality-sized
    * (the bounded-model contract, like IVF centroids); budgets stay a
    * DISTRIBUTED broadcast frame with a DETERMINISTIC normalizer fold
    * — sources sorted lexicographically (binary UTF-8, Spark's own
    * sort), sqrt (IEEE-correctly-rounded, engine-exact) for
    * temperature 2, floor to integer tokens — so an external engine
    * re-derives identical budgets, then the cut is the
    * [[mixtureByTokenBudget]] shape with the budget joined instead of
    * inlined.
    */
  def mixtureByTemperature(
      df: DataFrame, groupCol: String, keyCol: String, tokCol: String,
      totalBudget: Long, temperature: Double = 2.0,
      seed: Int = 0, buckets: Int = 32): DataFrame = {
    require(totalBudget > 0, "totalBudget must be positive")
    require(temperature > 0, "temperature must be positive")
    // Budgets stay DISTRIBUTED (r17; was a driver collect + a CASE
    // chain one `when` deep per source): the source-cardinality-sized
    // budget frame broadcast-joins into the cut, which removes the
    // collect round-trip AND the O(|sources|)-deep expression tree a
    // 100 TB corpus's thousands of sources would hand codegen. The
    // normalizer z still folds sqrt-weights IN LEXICOGRAPHIC SOURCE
    // ORDER (float addition is order-sensitive): array_sort over
    // struct(source, w) then a left-to-right fold — Spark's binary
    // UTF-8 sort, the same order an external SQL engine's
    // list(w ORDER BY source) fold uses. sqrt for the common
    // temperature: correctly rounded by IEEE 754 on every engine,
    // unlike pow, so the budget boundary can't drift.
    val wCol =
      if (temperature == 2.0) sqrt(col("__n").cast("double"))
      else pow(col("__n").cast("double"), lit(1.0 / temperature))
    val weights = df.groupBy(groupCol).agg(sum(tokCol).as("__n"))
      .select(col(groupCol), wCol.as("__w"))
    // a null source is a group of its own (as in groupedHashCumsum),
    // folded last, where an SQL engine's ORDER BY puts NULL by default
    val z = weights.agg(
      aggregate(
        array_sort(collect_list(
          struct(col(groupCol).isNull.as("n"), col(groupCol).as("g"), col("__w").as("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("__z"))
    val budgets = weights.crossJoin(broadcast(z))
      .select(col(groupCol).as("__bg"),
        floor(lit(totalBudget.toDouble) * col("__w") / col("__z")).cast("long").as("__budget"))
    // null-safe join on a renamed key: keeps the null group's rows and
    // the input's column order, which a USING join would both lose
    groupedHashCumsum(df, groupCol, keyCol, tokCol, seed, buckets)
      .join(broadcast(budgets), col(groupCol) <=> col("__bg"))
      .filter(col("cum_tokens") <= col("__budget"))
      .drop("__bg", "__budget")
  }

  /** Deterministic weighted source interleaving (stride scheduling):
    * assign every row a `sched_key` such that reading the corpus in
    * (sched_key, group, key) order yields each source at a rate
    * proportional to its integer weight — the "mix 3 parts web to 1
    * part code *throughout training*" curriculum shape, not just in
    * aggregate. The key is the source's inclusive token cumsum (in the
    * same reproducible hash order as the mixture cut) scaled by
    * 1000/weight: a source at weight w places a doc every cum/w
    * strides, so any schedule prefix holds token shares ≈ weights.
    * Pure integer arithmetic — engines and re-runs agree bit-for-bit.
    * Under corpus growth, keys are prefix-stable: a doc hashed before
    * an insertion point keeps its schedule key; later docs in the same
    * source shift by the inserted token count (cumsums are running
    * sums, so this is inherent to any schedule that stays
    * proportional).
    *
    * Emits the sort KEY rather than a global row_number: a global rank
    * would serialize through one window partition at 100 TB, while
    * sorting by the key is a range-partitioned write (the
    * [[graft.operators.Layout]] path) that training readers consume
    * in order.
    */
  def interleaveByWeight(
      df: DataFrame, groupCol: String, keyCol: String, tokCol: String,
      weightFor: Column => Column, seed: Int = 0, buckets: Int = 32): DataFrame =
    groupedHashCumsum(df, groupCol, keyCol, tokCol, seed, buckets)
      // integer DIV, not `/`: float division would round through double
      // past 2^53 tokens·1000 and break cross-engine exactness
      .withColumn("__w", weightFor(col(groupCol)))
      .withColumn("sched_key", expr("(cum_tokens * 1000) DIV __w"))
      .drop("cum_tokens", "__w")

  /** At most `perGroup` rows per group, chosen by key-hash order (with
    * key tie-break) — a deterministic "reservoir" whose members are
    * stable across runs AND across engines. One shuffle on the group
    * key; WindowGroupLimit keeps per-partition heaps bounded at
    * `perGroup`.
    */
  def samplePerGroup(df: DataFrame, groupCol: String, keyCol: String,
                     perGroup: Int, seed: Int = 0): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(hashBucket(keyAsLong(df, keyCol), 1000000, seed), col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perGroup)
      .drop("__rn")
  }

  /** At most `k` rows per group, the BEST k by (ord DESC, id ASC) — the
    * per-domain/per-source cap every web-corpus pipeline applies (keep
    * the k highest-quality docs per domain).
    *
    * Unlike [[samplePerGroup]]'s window (whose per-partition heaps are
    * bounded, but whose hot key still sorts through one task), this
    * rides [[graft.functions.TopK.topkPairs]] — a k-bounded
    * TypedImperativeAggregate: map-side combine caps every
    * partition's contribution at k rows BEFORE the exchange, so a
    * boilerplate domain with 10⁸ docs ships O(partitions · k) rows,
    * not 10⁸, and no task ever sorts the full key. Output: (group, id,
    * ord) rows, best-first order not guaranteed (it's a set).
    */
  def capPerGroup(df: DataFrame, groupCol: String, ordCol: Column,
                  idCol: String, k: Int): DataFrame =
    df.groupBy(groupCol)
      // type-aware dispatch: string ids ride the UTF8String heap (the
      // long-cast would null them and silently drop the whole corpus),
      // fractional ords order as doubles (a long cast would collapse
      // 0.93 and 0.41 to the same rank)
      .agg(graft.functions.TopK.topkPairsFor(df, ordCol, col(idCol), k).as("__top"))
      .select(col(groupCol), explode(col("__top")).as("__e"))
      .select(col(groupCol), col("__e.id").as(idCol), col("__e.ord").as("ord"))
}
