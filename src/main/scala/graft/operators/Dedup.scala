package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Hashing, TextFunctions}

/** Deduplication operators for training-data pipelines, designed for
  * the 100 TB shape first and verified on the driver testdata:
  *
  *  - every variant is one (or two) key-partitioned shuffles — no
  *    driver-side collection, no cross join except where explicitly
  *    documented as the small-side baseline
  *  - similarity blocking (LSH bands / simhash bytes / shared shingles)
  *    bounds pair generation, with a frequent-key cap so a degenerate
  *    hot shingle cannot produce a quadratic reducer
  */
object Dedup {

  /** Exact dedup: one representative row key (min of `orderCol`) per
    * duplicate group + group size. One hash shuffle on `keys`; at scale
    * prefer this over dropDuplicates when you need the dup counts.
    */
  def exact(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(orderCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** CDC-style keep-latest compaction: the newest row per key — the
    * upsert-log → current-snapshot step that fronts most training-data
    * refreshes.
    *
    * ONE hash aggregation with map-side partials (`max` of a
    * `struct(ts, tieCol)` is lexicographic, so the winner is
    * deterministic under timestamp ties) — deliberately NOT a
    * `row_number` window, whose per-key sort adds a full shuffle+sort
    * and a hot partition under skewed keys. Returns one row per key:
    * the key columns, `last_ms` (epoch millis of the winning row),
    * `last_id` (tieCol of the winning row), `n_versions`.
    */
  def keepLatest(df: DataFrame, keys: Seq[String], tsCol: String, tieCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        max(struct(col(tsCol).as("ts"), col(tieCol).as("id"))).as("m"),
        count(lit(1)).as("n_versions"))
      .select(keys.map(col) ++ Seq(
        graft.functions.EpochTime.epochMillis(col("m.ts")).as("last_ms"),
        col("m.id").as("last_id"),
        col("n_versions")): _*)

  /** Snapshot diff — the audit step between two versions of a keyed
    * table (yesterday's snapshot vs today's, the raw log vs its
    * [[keepLatest]] compaction): per key, whether the row was `added`,
    * `removed`, `changed`, or `unchanged`, plus WHICH columns changed.
    *
    * One co-partitioned full-outer hash join on the key — the only
    * shape that holds at 100 TB (both sides shuffle once on the same
    * key; no fingerprint precomputation pass, since column comparison
    * happens inside the join projection). Comparison is null-safe
    * (`<=>`): a null→value transition counts as a change, null→null
    * does not.
    *
    * Output: key columns (coalesced across sides), `status`,
    * `changed_cols` (array of differing column names, empty unless
    * `changed`).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff: need at least one compare column")
    // Explicit presence markers rather than key-IS-NOT-NULL inference:
    // with the latter, a row whose key column is genuinely NULL never
    // joins (the join is not null-safe by design — NULL keys should not
    // match each other across snapshots) and would be misclassified
    // `added` even when it came from the old side.
    val o = oldDf.select(keys.map(col) ++ compareCols.map(col) :+
      lit(true).as("__o_present"): _*).as("o")
    val n = newDf.select(keys.map(col) ++ compareCols.map(col) :+
      lit(true).as("__n_present"): _*).as("n")
    val joinCond = keys.map(k => col(s"o.$k") === col(s"n.$k")).reduce(_ && _)
    val oldPresent = col("o.__o_present").isNotNull
    val newPresent = col("n.__n_present").isNotNull
    val changed = array(compareCols.map(c =>
      when(!(col(s"o.$c") <=> col(s"n.$c")), lit(c))): _*)
    o.join(n, joinCond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k)) ++ Seq(
          when(!oldPresent, lit("added"))
            .when(!newPresent, lit("removed"))
            .when(size(filter(changed, x => x.isNotNull)) > 0, lit("changed"))
            .otherwise(lit("unchanged")).as("status"),
          when(oldPresent && newPresent, filter(changed, x => x.isNotNull))
            .otherwise(array().cast("array<string>")).as("changed_cols")): _*)
  }

  /** n-gram Jaccard near-dup pairs.
    *
    * Plan shape: explode distinct shingles → self-join on shingle
    * (co-partitioned hash join) → count common shingles per pair →
    * integer cross-multiplied threshold
    * (`den·common ≥ num·(|A|+|B|−common)` ⇔ J ≥ num/den — integer
    * compare, so no float-tie can flip membership).
    *
    * `maxShingleFreq` drops shingles appearing in more than that many
    * docs BEFORE pairing — the standard guard against quadratic blowup
    * on boilerplate shingles at scale (cap applied identically in any
    * oracle re-implementation).
    *
    * Shingles are hashed to int64 inside the kernel
    * ([[graft.functions.Kernels.shingleHashes]]) before the
    * inverted-index groupBy, so posting-list keys are 8 bytes instead
    * of n-gram strings — a several-fold shuffle-byte cut. The key packs
    * two independent ~30-bit polynomial residues (≈60-bit entropy), so
    * cross-shingle collisions stay negligible even at ≥1e8 distinct
    * shingles; an oracle reproduces the result exactly by applying the
    * same two folds and packing.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, num: Int = 1, den: Int = 10,
      maxShingleFreq: Long = 1000L): DataFrame =
    shingleOverlapPairs(df, idCol, textCol, n, maxShingleFreq)
      .select(
        col("da"), col("db"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("un"))
      .filter(col("inter") * den >= col("un") * num)

  /** Asymmetric near-dup: pairs whose shared-shingle count covers at
    * least `num/den` of the SMALLER document's shingle set (containment
    * ≥ threshold). Jaccard misses subset duplication — a paragraph
    * quoted inside a 100× longer page has tiny union-relative overlap
    * but full containment — and subset dups are exactly what survives
    * boilerplate stripping in web corpora (Broder 1997 defines both
    * resemblance AND containment for this reason). Output keeps both
    * per-doc shingle counts so the caller can drop the CONTAINED side
    * (the smaller `n_sh`), not an arbitrary one. Same inverted-index
    * plan and `maxShingleFreq` guard as [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, num: Int = 1, den: Int = 2,
      maxShingleFreq: Long = 1000L): DataFrame =
    shingleOverlapPairs(df, idCol, textCol, n, maxShingleFreq)
      .filter(col("inter") * den >= least(col("na"), col("nb")) * num)

  /** Shared stage of [[ngramJaccardPairs]] / [[ngramContainmentPairs]]:
    * (da, db, inter, na, nb) for every document pair sharing ≥ 1
    * sub-cap shingle.
    *
    * Inverted index: ONE shuffle keyed on shingle builds the posting
    * list, and the frequency cap is a size() filter on that list — no
    * separate hot-count pass, no anti-join, and the shingle kernel runs
    * once instead of once per join branch. The cap bounds every posting
    * list at maxShingleFreq docs, so the nested pair explode below is
    * O(cap²) worst-case per shingle — no reducer ever sees a
    * degenerate hot key. Per-doc sizes count only sub-cap shingles, so
    * ratios stay consistent with the pairs they filter.
    */
  private def shingleOverlapPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, maxShingleFreq: Long): DataFrame = {
    val sh = df.select(
      col(idCol).as("doc"),
      explode(array_distinct(graft.functions.Kernels.shingleHashes(col(textCol), n))).as("s"))
    val inv = sh.groupBy("s").agg(collect_list("doc").as("docs"))
      .filter(size(col("docs")) <= maxShingleFreq)
    val sizes = inv.select(explode(col("docs")).as("doc"))
      .groupBy("doc").agg(count(lit(1)).as("n_sh"))
    // ordered pairs from each posting list; Generate stays inside
    // codegen, so the f² candidates are loop iterations, not rows
    val pairs = inv
      .select(explode(col("docs")).as("da"), col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .where(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.as("sa"), col("da") === col("sa.doc"))
      .join(sizes.as("sb"), col("db") === col("sb.doc"))
      .select(col("da"), col("db"), col("inter"),
        col("sa.n_sh").as("na"), col("sb.n_sh").as("nb"))
  }

  /** MinHash + LSH candidate pairs: signature → band keys → per-band
    * posting list → ordered pairs → distinct. Two shuffles (band key,
    * then pair distinct); never touches full document pair space.
    *
    * `maxBandOccupancy` bounds pair generation per bucket: a band
    * bucket with at most that many members emits all ordered pairs
    * (the usual LSH candidate set), while an OVERSIZED bucket emits
    * only star pairs — every member paired to the bucket minimum — so
    * output is linear in bucket size instead of quadratic. At corpus
    * scale, boilerplate web documents form clusters of 1e5–1e6
    * near-identical docs that share every band; all-pairs there is
    * m²/2 rows into one reducer (the exact blowup `maxShingleFreq`
    * guards against on the n-gram path). Star-pairing keeps every
    * member CONNECTED to the cluster (same connected components, so
    * dedup-apply output is unchanged — pinned by the dd_dedup_apply
    * oracle) while pair output stays linear.
    *
    * Implementation is the same inverted-index shape as
    * [[ngramJaccardPairs]]: ONE groupBy on band builds the posting
    * list, and both pair modes are a two-level codegen Generate over
    * it (the left side is the full list for small buckets, the
    * singleton minimum for oversized ones) — no self-join, so the band
    * exchange happens once. An oversized bucket's posting list is one
    * wide aggregation row (8 bytes/member: ~8 MB at 10⁶ members) in
    * one task — linear and survivable where the m²/2 pair explosion is
    * not; the pairs it generates are loop iterations inside codegen,
    * never materialized rows before the `distinct`.
    */
  def minhashLshCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 2,
      maxBandOccupancy: Long = 1000L): DataFrame = {
    val sig = df.select(
      col(idCol).as("doc"),
      Hashing.minhashSignature(TextFunctions.shingles(col(textCol), n), k).as("sig"))
    val banded = sig.select(col("doc"), explode(Hashing.lshBandKeys(col("sig"), k, bands)).as("band"))
    val inv = banded.groupBy("band").agg(collect_list("doc").as("docs"))
    inv
      .select(
        explode(when(size(col("docs")) <= lit(maxBandOccupancy), col("docs"))
          .otherwise(array(array_min(col("docs"))))).as("da"),
        col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .where(col("da") < col("db"))
      .select(col("da"), col("db"))
      .distinct()
  }

  /** Incremental (two-table) MinHash-LSH candidates: for a batch of
    * INCOMING documents, which already-ingested CORPUS documents are
    * near-dup candidates — the continuous-pipeline question ("is this
    * new crawl shard already in the training set?") that the self-join
    * variant answers only by re-pairing the whole corpus. Both sides
    * hash with the same signature family; the corpus side builds the
    * banded posting lists (ONE groupBy, same shape as
    * [[minhashLshCandidates]]), and incoming bands hash-join against
    * them — cost scales with |incoming| + |corpus|, not their product,
    * and an unchanged corpus index is reusable across batches.
    *
    * `maxBandOccupancy` caps the CORPUS posting lists: an oversized
    * (boilerplate) bucket collapses to its minimum doc id, so an
    * incoming doc still learns it HAS a corpus near-dup (the drop
    * signal) while pair output stays linear — the two-table analogue of
    * the self-join star rule.
    *
    * Returns distinct (da = incoming id, db = corpus id). Rows whose
    * ids coincide across frames are skipped (overlapping inputs pair a
    * doc with itself; dropping them keeps the operator idempotent).
    */
  def minhashLshCandidatesAgainst(
      incoming: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 2,
      maxBandOccupancy: Long = 1000L): DataFrame = {
    def banded(df: DataFrame, out: String) = df.select(
        col(idCol).as(out),
        Hashing.minhashSignature(TextFunctions.shingles(col(textCol), n), k).as("sig"))
      .select(col(out), explode(Hashing.lshBandKeys(col("sig"), k, bands)).as("band"))
    val inv = banded(corpus, "db").groupBy("band").agg(collect_list("db").as("docs"))
      .select(col("band"),
        when(size(col("docs")) <= lit(maxBandOccupancy), col("docs"))
          .otherwise(array(array_min(col("docs")))).as("docs"))
    banded(incoming, "da").join(inv, Seq("band"))
      .select(col("da"), explode(col("docs")).as("db"))
      .where(col("da") =!= col("db"))
      .select("da", "db")
      .distinct()
  }

  /** Apply [[minhashLshCandidatesAgainst]]: the incoming batch minus
    * every doc with a corpus near-dup candidate — one left-anti join on
    * the incoming id.
    */
  def dedupIncomingByMinhash(
      incoming: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 2,
      maxBandOccupancy: Long = 1000L): DataFrame = {
    val hits = minhashLshCandidatesAgainst(
        incoming, corpus, idCol, textCol, n, k, bands, maxBandOccupancy)
      .select(col("da").as(idCol)).distinct()
    incoming.join(hits, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs with hamming ≤ `maxHamming` (≤ 3 for the
    * 4-byte blocking to be lossless by pigeonhole). Blocked self-join
    * on simhash bytes — exact result; pair generation is linear PER
    * BUCKET, but identical-fingerprint clusters share every block and
    * emit m²/2 pairs from one reducer (measured 16× runtime at 8×
    * corpus in SCALING.md). AUDIT/REFERENCE FORM for bounded corpora:
    * production dedup should ride [[simhashPairsCollapsed]] /
    * [[simhashPairs63Collapsed]], whose output is linear in cluster
    * size with identical connected components.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-byte blocking is only lossless for hamming <= 3")
    blockedSimhashJoin(
      simhashFingerprints(df, idCol, textCol, n, Hashing.simhash32),
      Hashing.simhashBlock, maxHamming)
  }

  /** (doc, sh) fingerprint frame — shared head of the simhash family. */
  private def simhashFingerprints(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      hashFn: Column => Column): DataFrame =
    df.select(col(idCol).as("doc"),
      hashFn(TextFunctions.shingles(col(textCol), n)).as("sh"))

  /** The lossless 4-block pairing every simhash variant shares: each
    * fingerprint explodes into its block keys, equal blocks join
    * (pigeonhole: any pair within hamming ≤ 3 shares ≥1 of 4 blocks),
    * and the EXACT hamming filter keeps qualifying pairs.
    */
  private def blockedSimhashJoin(
      fingerprints: DataFrame, blockFn: (Column, Int) => Column,
      maxHamming: Int, maxBlockOccupancy: Long = 10000L): DataFrame = {
    val blocked0 = fingerprints.select(col("doc"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("b"), blockFn(col("sh"), b).as("v"))): _*)).as("blk"))
    // Skew guard (r13, found by ScaleDecade): a 16-bit block VALUE
    // shared by m fingerprints makes its bucket quadratic (m²/2
    // candidates) — and unlike identical FULL fingerprints (closed by
    // the collapse) this arises from structural bit bias, e.g. image
    // average-hashes whose top rows are uniformly dark, where one
    // block of the print is near-constant corpus-wide (measured: a
    // constant block turned 64× corpus into 278 s; capped, seconds).
    // The default (10k) sits ~65× above uniform occupancy at the
    // family's documented envelope (n/65536 per bucket, n ≤ ~10^7
    // distinct prints), so it binds only on real skew.
    // Buckets past the cap are EXCLUDED: a true ≤maxHamming pair has
    // ≥1 intact block (pigeonhole over 4 blocks), so it is lost only
    // when EVERY intact block is mass-shared — the same documented
    // recall trade as MinHash's maxBandOccupancy. The oversized-bucket
    // list is small by construction (≤ 4n/cap entries), so the
    // exclusion broadcasts. `maxBlockOccupancy <= 0` disables the
    // guard for strictly-lossless audit runs.
    val blocked =
      if (maxBlockOccupancy <= 0L) blocked0
      else {
        val oversized = blocked0.groupBy("blk")
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBlockOccupancy)
          .select("blk")
        blocked0.join(broadcast(oversized), Seq("blk"), "left_anti")
      }
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc") < col("b.doc"))
      .select(
        col("a.doc").as("da"), col("b.doc").as("db"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      // hamming filter BEFORE the pair-dedup distinct (guide §2.3 —
      // shuffle fewer bytes): hamming is a pure function of the pair's
      // two fingerprints, so filter∘distinct ≡ distinct∘filter, and the
      // distinct's exchange now carries only QUALIFYING pairs instead
      // of every blocked candidate (the overwhelming majority of
      // candidates fail the ≤maxHamming test)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Identical-fingerprint collapse shared by the *Collapsed variants:
    * docs group by full fingerprint, members star-pair to the group
    * minimum (hamming 0 — genuinely qualifying), and the blocked join
    * runs over DISTINCT fingerprints only.
    */
  private def collapsedSimhashPairs(
      fingerprints: DataFrame, blockFn: (Column, Int) => Column,
      maxHamming: Int, maxBlockOccupancy: Long = 10000L): DataFrame = {
    val groups = fingerprints.groupBy("sh")
      .agg(min("doc").as("rep"), collect_list("doc").as("docs"))
    val star = groups
      .select(col("rep").as("da"), explode(col("docs")).as("db"))
      .where(col("da") < col("db"))
      .select(col("da"), col("db"), lit(0L).as("hamming"))
    val reps = groups.select(col("rep").as("doc"), col("sh"))
    star.union(blockedSimhashJoin(reps, blockFn, maxHamming, maxBlockOccupancy))
  }

  /** per-run stats for [[connectedComponentsWithStats]]: propagation
    * rounds executed (including the confirming fixpoint round) and
    * whether the star-contraction fallback took over.
    */
  final case class CcStats(propRounds: Int, switchedToStar: Boolean)

  /** [[simhashPairs]] on the 63-bit fingerprint — the corpus-scale
    * fingerprint: 16-bit blocks keep bucket occupancy ~n/65536 per
    * block position where the 8-bit blocks of the 32-bit variant
    * saturate at n/256 (quadratic candidates once the corpus outgrows
    * a few thousand docs — measured 15× runtime at 8× corpus). Same
    * exact hamming ≤ `maxHamming` contract, same plan shape — and the
    * same identical-fingerprint caveat: linear per bucket, m²/2 pairs
    * inside a byte-identical cluster (measured 11× at 8×). Audit form;
    * production dedup rides [[simhashPairs63Collapsed]].
    */
  def simhashPairs63(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block blocking is only lossless for hamming <= 3")
    blockedSimhashJoin(
      simhashFingerprints(df, idCol, textCol, n, Hashing.simhash63),
      Hashing.simhash63Block, maxHamming)
  }

  /** [[simhashPairs]] (32-bit) with identical-fingerprint collapse —
    * same construction as [[simhashPairs63Collapsed]] on the 32-bit
    * fingerprint: docs group by full fingerprint, members star-pair to
    * the group minimum (hamming 0), and the blocked join runs over
    * DISTINCT fingerprints only. Closes the 32-bit family's measured
    * 16×-at-8× blow-up while keeping connected components identical to
    * [[simhashPairs]]'s; the 63-bit family remains the corpus-scale
    * choice (8-bit blocks still saturate at n/256 DISTINCT prints).
    */
  def simhashPairsCollapsed(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-byte blocking is only lossless for hamming <= 3")
    collapsedSimhashPairs(
      simhashFingerprints(df, idCol, textCol, n, Hashing.simhash32),
      Hashing.simhashBlock, maxHamming)
  }

  /** [[simhashPairs63]] with IDENTICAL-FINGERPRINT COLLAPSE — the
    * mass-duplicate-proof variant completing the occupancy-cap family
    * (n-gram `maxShingleFreq`, MinHash `maxBandOccupancy`, vector
    * `maxBucket`): a boilerplate cluster of m byte-identical docs has
    * ONE simhash, shares every block, and the plain blocked self-join
    * emits m²/2 hamming-0 pairs from one reducer. Here docs group by
    * full fingerprint first; members star-pair to the group minimum
    * (hamming 0 — genuinely qualifying pairs, not candidates), and the
    * blocked join runs over DISTINCT fingerprints only, so output is
    * linear in cluster size and the join side shrinks to unique
    * fingerprints. Connected components over the output are IDENTICAL
    * to [[simhashPairs63]]'s: within a fingerprint group the star
    * connects everyone, and any qualifying cross-fingerprint pair
    * keeps its groups connected through the representatives. The pair
    * LIST differs inside ≥3-member identical groups (star vs clique) —
    * that's the linear-output contract, mirrored exactly by the
    * oracle.
    */
  def simhashPairs63Collapsed(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block blocking is only lossless for hamming <= 3")
    collapsedSimhashPairs(
      simhashFingerprints(df, idCol, textCol, n, Hashing.simhash63),
      Hashing.simhash63Block, maxHamming)
  }

  /** Near-dup pairs over a PRECOMPUTED 63-bit fingerprint column —
    * the generic entry behind the simhash text family, exposed for
    * other fingerprint producers (e.g. the image average-hash,
    * [[graft.operators.MediaDecode.aHash63]]): identical-fingerprint
    * collapse (star to the group minimum) + the lossless 16-bit
    * 4-block join over DISTINCT fingerprints with the exact hamming
    * filter. Fingerprints must be non-negative (63-bit). Returns
    * (da, db, hamming) with the same linear-output contract as
    * [[simhashPairs63Collapsed]]. */
  def hammingPairs63(df: DataFrame, idCol: String, fpCol: String,
                     maxHamming: Int = 3,
                     maxBlockOccupancy: Long = 10000L): DataFrame = {
    require(maxHamming <= 3, "4-block blocking is only lossless for hamming <= 3")
    collapsedSimhashPairs(
      df.select(col(idCol).as("doc"), col(fpCol).as("sh")),
      Hashing.simhash63Block, maxHamming, maxBlockOccupancy)
  }

  /** End-to-end dedup apply over a PRECOMPUTED 63-bit fingerprint
    * column ([[hammingPairs63]] → connected components → keep each
    * group's minimum id) — rows of `df` minus non-canonical members.
    * The image twin of [[dedupBySimhash]]. */
  def dedupByFingerprint63(df: DataFrame, idCol: String, fpCol: String,
                           maxHamming: Int = 3,
                           maxBlockOccupancy: Long = 10000L): DataFrame =
    dropNonCanonical(df, idCol,
      hammingPairs63(df, idCol, fpCol, maxHamming, maxBlockOccupancy))

  /** Connected components over a near-dup pair list — the final stage
    * of every dedup pipeline: pairs → groups → one canonical id (the
    * minimum) per group.
    *
    * Distributed min-label propagation: each round, every vertex takes
    * the minimum label among itself and its neighbors (one shuffle on
    * vertex id per round); converges in O(component diameter) rounds.
    * Near-dup clusters are shallow (dups of a common source), so the
    * diameter is small in practice. When a pathological long chain
    * shows up, O(diameter) rounds would grind: after `switchAfter`
    * non-converged rounds this AUTO-SWITCHES to
    * [[connectedComponentsStar]], whose alternating star contraction
    * finishes in O(log n) rounds — so total rounds are bounded by
    * switchAfter + O(log n) on ANY graph shape. Each round
    * materializes via eager localCheckpoint, so lineage never
    * re-computes earlier rounds AND the plan tree stays O(1)-deep no
    * matter how many rounds run; rounds-to-converge is logged and
    * published to OpGauges for plan forensics.
    *
    * Returns (id, comp): every vertex that appears in a pair, labeled
    * with the minimum id reachable from it.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame =
    connectedComponentsWithStats(pairs, aCol, bCol, maxIters)._1

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-round plan-truncating snapshot for the iterative CC loops.
    *
    * `localCheckpoint` stores blocks only on executors — losing ONE
    * executor mid-run (dynamic allocation decommission, spot preemption)
    * makes the job unrecoverable, because the truncated lineage has no
    * fallback. That trade is wrong for an operator pitched at 100 TB,
    * so when the session has a RELIABLE checkpoint dir configured
    * (`sparkContext.setCheckpointDir` — HDFS/object store), rounds
    * snapshot through `DataFrame.checkpoint` instead: same
    * plan-to-a-leaf truncation, survives executor loss. Without a
    * checkpoint dir we keep the fast executor-local form (single-JVM
    * bench, short-lived jobs). Long-running clusters should also set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so
    * superseded round files are reclaimed like the local blocks are.
    */
  private def snapshotRound(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    // LAZY local checkpoint: the loop's own convergence check (checksum /
    // count / changed-diff) is the materializing action, so each round
    // runs ONE job instead of checkpoint-then-check two. Plan truncation
    // is unchanged — the returned frame is a LogicalRDD leaf either way —
    // and blocks persist as a side effect of that first action. (Reliable
    // checkpoints stay EAGER: their lazy form re-runs the round's plan a
    // second time to write the checkpoint files.)
    else df.localCheckpoint(false)

  /** [[connectedComponents]] plus [[CcStats]] — the stats make the
    * auto-switch observable to specs and operators dashboards.
    * `switchAfter` counts propagation rounds BEYOND the folded-in init
    * round; pass `Int.MaxValue` to pin pure propagation.
    */
  def connectedComponentsWithStats(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20, switchAfter: Int = 5): (DataFrame, CcStats) = {
    // NOT under a scoped-AQE-off block: extending LinkRank's AQE-off
    // discipline here was A/B'd in r17 (`Tool time` showed ~3 AQE
    // stage-jobs per round; static planning cut dd_semdedup 31→18 and
    // dd_dedup_apply 20→9 jobs) and MEASURED SLOWER ACROSS THE BOARD —
    // dd_components 0.95→1.57 s, dd_dedup_apply_simhash 1.24→2.03 s,
    // dd_semdedup 1.32→1.58 s warm — because without AQE the leaf-
    // keyed round joins lose their runtime broadcast conversion (SMJ
    // sorts both sides every round) and every exchange runs at the
    // full static shuffle width (283→622 tasks). LinkRank's loop wins
    // from the same scope only because it pre-partitions BOTH join
    // sides and broadcast-hints its scalar frames; this loop's edge ⋈
    // label join keys a leaf of unknown size. Reverted, kept here so
    // round 18 doesn't re-derive it.
    // both edge directions from ONE pass over the pair list: a union of
    // two selects would re-derive `pairs` (the whole LSH candidate
    // pipeline) once per branch when this first materializes. Hash-
    // partitioned on dst BEFORE persisting: every propagation round
    // joins on dst, so the (large) edge side is shuffled once for the
    // whole loop and each round only exchanges the narrow label frame —
    // at scale the per-round edge shuffle IS the cost of propagation.
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // init = min(self, neighbors): the first propagation round folded
    // into the vertex-set aggregation itself (one shuffle instead of a
    // distinct + a full round).
    //
    // Each round snapshots via EAGER localCheckpoint, not persist: a
    // persisted frame caches DATA but its logical plan still compounds
    // round over round, and by a few dozen rounds the driver spends
    // more on plan trees than on the jobs — measured on a 20k-vertex
    // chain as a driver OOM at 60 persisted rounds, and 611 s for a
    // persist-with-periodic-truncation hybrid vs 19.6 s for per-round
    // checkpoints. The checkpoint truncates the plan to a leaf, so
    // round R costs O(1) driver work regardless of R; superseded
    // checkpoint blocks are freed by the ContextCleaner when the
    // previous round's frame becomes unreachable. At bench SF the
    // per-round cost is indistinguishable from persist (A/B measured
    // under identical load).
    // grouped on dst, not src: the edge list is symmetric (both
    // directions of every pair are present), so min-over-group is
    // identical either way — but dst is the column edges were just
    // hash-partitioned on, so this aggregation reuses that exchange
    // instead of re-shuffling the full edge set by src.
    var labels = edges.groupBy(col("dst").as("id"))
      .agg(least(first("dst"), min("src")).as("comp"))
      .transform(snapshotRound)
    // Fixpoint check, exact for ANY id type. Numeric ids keep the
    // one-agg-per-round shortcut: labels decrease monotonically, so an
    // unchanged decimal label-sum IS the fixpoint. Non-numeric ids get
    // an id-keyed null-safe diff between two checkpointed leaves — the
    // decimal cast nulls on them, and its null == null compare used to
    // read as instant convergence (silent partial labels for string
    // ids); a diff join per round is the honest price of a type the
    // cheap invariant can't cover.
    val numericIds =
      labels.schema("comp").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).first().getDecimal(0)
    def changed(next: DataFrame, cur: DataFrame): Boolean =
      !next.join(cur.select(col("id"), col("comp").as("__prev")), "id")
        .filter(!(col("comp") <=> col("__prev"))).isEmpty
    // Round-0 labels must be MATERIALIZED before the loop: the numeric
    // path's checksum does it; the non-numeric path's first changed()
    // would otherwise read the un-materialized lazy leaf from THREE
    // plan branches of one action (union + viaNbr inside next's
    // lineage, plus __prev) and duplicate the init aggregation
    // (ADVICE r16 — the multi-consumer rule applies to round 0 too).
    var prev = if (numericIds) checksum(labels) else { materialize(labels); null }
    var converged = false
    var i = 0
    while (!converged && i < maxIters && i < switchAfter) {
      val viaNbr = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("comp"))
      val next = labels.select("id", "comp").union(viaNbr)
        .groupBy("id").agg(min("comp").as("comp"))
        .transform(snapshotRound)
      if (numericIds) {
        val cur = checksum(next)
        converged = cur == prev
        prev = cur
      } else converged = !changed(next, labels)
      labels = next
      i += 1
    }
    edges.unpersist()
    if (!converged && i >= maxIters && maxIters <= switchAfter) {
      // the caller pinned propagation (switchAfter >= maxIters) AND the
      // budget ran out: the labels below are PARTIAL. Loud, and
      // scrapeable — a silent partial label frame is how duplicate
      // survivors sneak through a 100 TB run
      log.warn(s"connectedComponents: NOT converged after $i rounds " +
        s"(maxIters=$maxIters, switchAfter=$switchAfter) — labels are partial")
      graft.OpGauges.set("cc_unconverged", 1L)
    } else graft.OpGauges.set("cc_unconverged", 0L)
    val result = if (!converged && i >= switchAfter && i < maxIters) {
      // diameter exceeded the propagation budget (long-chain graph):
      // hand the ORIGINAL pair list to star contraction, which squares
      // progress per iteration instead of advancing one hop
      log.info(s"connectedComponents: not converged after $i propagation rounds; " +
        "switching to star contraction")
      (connectedComponentsStar(pairs, aCol, bCol, maxIters), CcStats(i, switchedToStar = true))
    } else {
      log.info(s"connectedComponents: converged=$converged after $i propagation rounds")
      // labels is already a checkpointed leaf — safe to return as-is
      // (no session-lifetime cache to leak)
      (labels, CcStats(i, switchedToStar = false))
    }
    // publish run forensics so a cluster run's convergence behavior is
    // scrapeable on /metrics, not only in driver logs
    graft.OpGauges.set("cc_prop_rounds", result._2.propRounds.toLong)
    graft.OpGauges.set("cc_switched_to_star", if (result._2.switchedToStar) 1L else 0L)
    graft.OpGauges.inc("cc_runs_total")
    result
  }

  /** Materialize a lazily-checkpointed frame ONCE (no-op job) so
    * multi-branch consumers read cached blocks instead of racing the
    * un-materialized lineage — the Redirects/ivfAssignedWithCc rule.
    * Reliable checkpoints are already eager; only the local form needs
    * the kick.
    */
  private def materialize(df: DataFrame): Unit =
    if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.foreach(_ => ())

  /** Connected components by alternating large-star/small-star — the
    * O(log n)-round alternative to [[connectedComponents]] for graphs
    * with LONG chains (min-label propagation needs O(diameter) rounds;
    * star contraction squares progress each iteration). Near-dup
    * graphs are usually shallow, so propagation is the default; this
    * is the documented escape hatch when a pathological chain shows up
    * at scale.
    *
    * Each iteration is two grouped aggregations on node id:
    * large-star attaches every larger neighbor of u to u's minimum
    * neighborhood label; small-star re-points u and its smaller
    * neighbors at that minimum. The edge set is persisted per round
    * and converges to stars (child, root); fixpoint = exact set
    * equality (equal counts + empty one-sided difference over the
    * distinct edge frames). High-degree hubs concentrate one
    * node's neighbor list in one task — acceptable because star
    * contraction EXISTS to shrink exactly those quickly.
    */
  def connectedComponentsStar(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25): DataFrame = {
    import org.apache.spark.sql.DataFrame
    def sym(e: DataFrame): DataFrame = e
      .select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // EXACT fixpoint: both rounds' edge sets are DISTINCT, so equal
    // counts plus an empty one-sided difference is set equality. The
    // earlier (count, a·2³² + b decimal sum) shortcut was systematically
    // collidable for ids ≥ 2³² (two different edge sets summing equal →
    // false convergence → wrong components), and its long cast nulled
    // string ids entirely; ids now keep their input type (the
    // algorithm only needs an ordering — lexicographic for strings,
    // matching the propagation path's min-label).
    def same(x: DataFrame, xCount: Long, y: DataFrame, yCount: Long): Boolean =
      xCount == yCount && x.except(y).isEmpty
    // per-round EAGER localCheckpoint, not persist: the plan tree would
    // otherwise compound across iterations (see the propagation loop's
    // note — measured driver OOM / 30× slowdown once rounds reach a
    // few dozen)
    var edges = pairs
      .select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .transform(snapshotRound)
    var edgeCount = edges.count()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // large-star: for each u, m = min(N(u) ∪ {u}); attach v > u to m
      val large = sym(edges).groupBy("u")
        .agg(min("v").as("mn"), collect_list("v").as("nbrs"))
        .select(least(col("mn"), col("u")).as("m"), col("u"),
          explode(filter(col("nbrs"), v => v > col("u"))).as("w"))
        .select(col("w").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: orient edges toward the larger endpoint; for each u,
      // m = min of its smaller neighbors (∪ itself); re-point them + u at m
      val small = sym(large).filter(col("v") < col("u")).groupBy("u")
        .agg(min("v").as("m"), collect_list("v").as("nbrs"))
        .select(col("m"),
          explode(array_union(col("nbrs"), array(col("u")))).as("w"))
        .select(col("w").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .transform(snapshotRound)
      val cur = small.count()
      converged = same(small, cur, edges, edgeCount)
      edges = small
      edgeCount = cur
      i += 1
    }
    if (!converged)
      log.warn(s"connectedComponentsStar: NOT converged after $i rounds " +
        s"(maxIters=$maxIters) — labels are partial")
    // fixpoint edges are (child, root) stars; label children and roots
    // (edges is a checkpointed leaf, so this plan stays O(1))
    val out = edges.select(explode(array(
        struct(col("a").as("id"), col("b").as("comp")),
        struct(col("b").as("id"), col("b").as("comp")))).as("p"))
      .select("p.id", "p.comp")
      .groupBy("id").agg(min("comp").as("comp"))
      .transform(snapshotRound)
    // materialize the returned labels ONCE (ADVICE r16): a caller
    // reading them from two concurrent plan branches must hit cached
    // blocks, not race the lazy lineage (the multi-consumer rule
    // pinned in Redirects.resolve / Dedup.ivfAssignedWithCc)
    materialize(out)
    out
  }

  /** Cross-document repeated spans — the exact-substring dedup signal
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every position whose `n`-word window also occurs
    * in at least `minDocs − 1` OTHER documents, with the document
    * count. Downstream either drops the span (surgical dedup) or drops
    * docs past a flagged-fraction threshold.
    *
    * Plan shape: positional shingle hashes (codegen kernel, 8-byte
    * keys) → ONE distinct-doc count per hash (partial-aggregated) →
    * hash-keyed join back to positions. No pair space anywhere —
    * unlike near-dup pairing, output is linear in flagged POSITIONS by
    * construction, so no occupancy cap is needed: a boilerplate span in
    * 10⁶ docs contributes 10⁶ position rows, not 10¹² pairs.
    * Within-doc repetition alone does not flag (that signal is
    * [[graft.functions.TextFunctions.repetitionPpm]]'s job).
    */
  /** (doc_id, pos, s) positional window hashes, snapshotted once (lazy
    * local checkpoint): every consumer reads the frame at least twice
    * (frequency side + join-back side), and without the snapshot each
    * branch would re-scan the corpus and re-run the shingle kernel —
    * the Packing/groupedHashCumsum lesson. Checkpoint blocks are freed
    * by the ContextCleaner when callers drop the result.
    */
  private def positionalShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.Kernels.shingleHashes(col(textCol), n)).as(Seq("pos", "s")))
      .localCheckpoint(false)

  def repeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Long = 2L): DataFrame = {
    val sh = positionalShingles(df, idCol, textCol, n)
    val freq = sh.groupBy("s")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    sh.join(freq, "s")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("n_docs"))
  }

  /** Corpus minus documents whose REPEATED-SPAN fraction reaches
    * `num/den` — the document-level apply over [[repeatedSpans]]: a doc
    * mostly made of spans that exist elsewhere is boilerplate or a
    * clone and is dropped whole (span-surgical removal is the
    * chunk-level alternative). The fraction compares by integer
    * cross-multiplication (`den·flagged ≥ num·windows`), so no float
    * tie can flip membership across engines. Docs with fewer than `n`
    * words have no windows and are always kept.
    */
  def dropByRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Long = 2L,
      num: Int = 1, den: Int = 2): DataFrame = {
    require(num >= 0 && den > 0, "threshold must be a non-negative ratio")
    // one snapshot feeds frequency, flagged counts, AND window totals —
    // a doc with zero windows never reaches `drop` and is always kept
    val sh = positionalShingles(df, idCol, textCol, n)
    val freq = sh.groupBy("s")
      .agg(countDistinct("doc_id").as("__ndocs"))
      .filter(col("__ndocs") >= minDocs)
      .select("s")
    val flagged = sh.join(freq, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("__flagged"))
    val windows = sh.groupBy("doc_id").agg(count(lit(1)).as("__win"))
    val drop = windows.join(flagged, "doc_id")
      .filter(col("__flagged") * den >= col("__win") * num)
      .select(col("doc_id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Maximal cross-document common word spans (the exact-substring
    * dedup signal of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", computed over bounded n-gram
    * postings instead of a suffix array): for every doc pair sharing
    * at least one positional n-gram, consecutive matches at the same
    * position offset are consolidated (gaps-and-islands) into maximal
    * runs, emitted as (da, db, start_a, start_b, span_len ≥ minSpan).
    *
    * Scale shape: the posting list is doc-frequency-capped
    * (`maxDocsPerShingle`, the [[ngramJaccardPairs]] contract — an
    * n-gram in more docs than that is boilerplate whose pairs the
    * span signal doesn't need; at the default it never binds at test
    * SFs), the pair join is keyed on the shingle hash, and the island
    * window partitions by (da, db, offset-delta) — partition size is
    * bounded by document length, never corpus size.
    */
  def commonSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minSpan: Int = 8, maxDocsPerShingle: Long = 50L): DataFrame = {
    val sh = positionalShingles(df, idCol, textCol, n)
    val ok = sh.groupBy("s")
      .agg(countDistinct("doc_id").as("__nd"))
      .filter(col("__nd") >= 2L && col("__nd") <= maxDocsPerShingle)
      .select("s")
    val g = sh.join(ok, "s")
    val a = g.select(col("s"), col("doc_id").as("da"), col("pos").as("pa"))
    val b = g.select(col("s"), col("doc_id").as("db"), col("pos").as("pb"))
    val pr = a.join(b, Seq("s")).where(col("da") < col("db"))
      .select(col("da"), col("pa"), col("db"), col("pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("da"), col("db"), col("pa") - col("pb")).orderBy("pa")
    pr.withColumn("__grp", col("pa") - row_number().over(w))
      .groupBy(col("da"), col("db"), (col("pa") - col("pb")).as("__delta"), col("__grp"))
      .agg(min("pa").cast("long").as("start_a"),
        (count(lit(1)) + (n - 1)).as("span_len"))
      .withColumn("start_b", (col("start_a") - col("__delta")).cast("long"))
      .filter(col("span_len") >= minSpan)
      .select("da", "db", "start_a", "start_b", "span_len")
  }

  /** Surgical span removal over [[commonSpans]] (the Lee et al. 2022
    * apply): each shared run survives ONCE — in the lower-id doc — and
    * the later doc's occurrence is cut out word-wise; overlapping
    * spans union before cutting, and untouched docs pass through
    * verbatim. Output: (id, text) with the cleaned text.
    *
    * Rebuild is a per-doc sort of ≤ doc-length word structs — bounded
    * like every window in the span family. A doc that is entirely
    * shared text comes back as the empty string (kept, so token
    * accounting downstream still sees the row).
    */
  def removeCommonSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minSpan: Int = 8, maxDocsPerShingle: Long = 50L): DataFrame = {
    val spans = commonSpans(df, idCol, textCol, n, minSpan, maxDocsPerShingle)
    val covered = spans
      .select(col("db").as("doc_id"),
        explode(sequence(col("start_b"), col("start_b") + col("span_len") - 1)).as("pos"))
      .distinct()
    // only AFFECTED docs are word-exploded and rebuilt — at corpus
    // scale the duplicated slice is a small fraction, and untouched
    // text stays byte-identical (never re-tokenized)
    val affected = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .join(covered.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
    val words = affected.select(col("doc_id"),
        posexplode(split(col("__t"), " ")).as(Seq("pos", "word")))
      .withColumn("pos", col("pos").cast("long"))
    val kept = words.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        e => e.getField("word")), " ").as("__joined"))
    // a fully-covered doc has no kept words: it must come back as the
    // EMPTY string, not its original text
    val rebuilt = affected.select(col("doc_id").as("id")).distinct()
      .join(kept.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__joined"), lit("")).as("__clean"))
    df.select(col(idCol).as("id"), col(textCol).as("__orig"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("__clean"), col("__orig")).as("text"))
  }

  /** Chunk-level exact duplication via content-defined chunking
    * ([[Chunking.cdcChunks]]): which CDC chunks recur across documents.
    * Because CDC boundaries are content-anchored, a boilerplate block
    * shared by thousands of pages hashes to the SAME chunks regardless
    * of what surrounds it — catching partial duplication that
    * whole-document hashing misses and [[repeatedSpans]]' fixed
    * n-gram spans pay shingle-explosion for.
    *
    * Plan: the chunker's shuffle-free map, then ONE hash aggregation on
    * the chunk fingerprint with map-side partials — count state per
    * group, never a posting list, so a chunk shared by a million docs
    * costs a counter, not a million-row bucket. `minWords` drops
    * sub-threshold chunks (single stopwords would dominate otherwise).
    *
    * Output, one row per duplicated chunk: `chunk_fp`, `n_docs`
    * (distinct docs containing it), `n_occurrences`, `min_doc`
    * (canonical owner).
    */
  def cdcDuplicateChunks(
      df: DataFrame, idCol: String, textCol: String,
      avgWords: Int = 32, minWords: Int = 5): DataFrame =
    Chunking.cdcChunks(df, idCol, textCol, avgWords)
      .filter(col("n_words") >= minWords)
      .groupBy("chunk_fp")
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("min_doc"))
      .filter(col("n_docs") >= 2)

  /** The deduplicated corpus in one call: MinHash-LSH candidates →
    * connected components → drop every non-canonical member (keep each
    * dup group's minimum id plus all unpaired docs) — the composition
    * a curation pipeline actually ships (`dd_dedup_apply`). All stages
    * are id-keyed; the band-occupancy star-pairing keeps the result
    * identical at any cap (component invariance, property-pinned).
    */
  def dedupByMinhash(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 8, bands: Int = 2,
      maxBandOccupancy: Long = 1000L): DataFrame = {
    val pairs = minhashLshCandidates(df, idCol, textCol, n, k, bands, maxBandOccupancy)
    dropNonCanonical(df, idCol, pairs)
  }

  /** [[dedupByMinhash]] on the exact-hamming simhash63 family
    * (`dd_dedup_apply_simhash`): collapsed pairs → components →
    * anti-join. Near-dup rule is hamming ≤ `maxHamming` instead of
    * estimated Jaccard — the cheaper, exact-threshold alternative.
    */
  def dedupBySimhash(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxHamming: Int = 3): DataFrame = {
    val pairs = simhashPairs63Collapsed(df, idCol, textCol, n, maxHamming)
    dropNonCanonical(df, idCol, pairs)
  }

  /** docs minus every pair-graph member that is not its component's
    * minimum — shared tail of the dedup-apply compositions.
    */
  private def dropNonCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val dupes = connectedComponents(pairs, "da", "db")
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(dupes, Seq(idCol), "left_anti")
  }

  /** [[dedupByMinhash]] with a QUALITY keep-rule: each duplicate group
    * keeps its best member by (`ord` DESC, ties → lowest id) instead
    * of the minimum id — what a curation pipeline wants when the
    * near-dup cluster mixes a clean original with mangled clones.
    * The representative comes from two component-keyed partial
    * aggregates (max ord, then min id among the maximizers — a
    * struct-max over `(ord, -id)` would be one agg but silently nulls
    * non-numeric ids, emptying the keep set and dropping every group
    * member); no window anywhere, and components are invariant under
    * the band cap's star-pairing. Null-safe on `ord`: a group whose
    * members all score null keeps its minimum id.
    */
  def dedupByMinhashKeepBest(
      df: DataFrame, idCol: String, textCol: String, ord: Column,
      n: Int = 3, k: Int = 8, bands: Int = 2,
      maxBandOccupancy: Long = 1000L): DataFrame = {
    val pairs = minhashLshCandidates(df, idCol, textCol, n, k, bands, maxBandOccupancy)
    val labels = connectedComponents(pairs, "da", "db")
    val scored = df.select(col(idCol).as("id"), ord.as("__ord")).join(labels, "id")
      .localCheckpoint(false) // feeds both the max-ord agg and the keep join
    val bestOrd = scored.groupBy("comp").agg(max("__ord").as("__bord"))
    val keep = scored.join(bestOrd, "comp")
      .filter(col("__ord") <=> col("__bord"))
      .groupBy("comp").agg(min("id").as("id"))
      .select("id")
    val drop = labels.select("id").join(keep, Seq("id"), "left_anti")
    df.join(drop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Embedding cosine near-dup pairs, LSH-blocked — the scale path and
    * the default: random-hyperplane buckets generate candidates (ids
    * only, one bucket-key shuffle), then the exact cosine filter keeps
    * pairs above `minCosine`. Pair generation is linear in bucket
    * occupancy, never the O(n²) pair space. Approximate in the standard
    * LSH sense: a qualifying pair colliding in no bucket is missed;
    * raise `tables` for recall (recall measured in OperatorsSpec
    * against [[embeddingCosinePairs]]).
    */
  def embeddingCosinePairsBlocked(
      df: DataFrame, idCol: String, vecCol: String, minCosine: Double,
      planes: Int = 16, tables: Int = 4, maxBucket: Long = 1000L): DataFrame =
    Similarity.lshCandidates(df, idCol, vecCol, planes, tables, maxBucket)
      .select(col("ida"), col("idb"),
        Similarity.cosine(col("veca"), col("vecb")).as("cos"))
      .filter(col("cos") > minCosine)
      .select("ida", "idb")

  /** Embedding cosine near-dup pairs — the all-pairs baseline (small
    * side only; at 100 TB use [[embeddingCosinePairsBlocked]]). Dot
    * products fold left-to-right in double so scores are
    * engine-reproducible.
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String, minCosine: Double): DataFrame = {
    // norms once per row before the O(n²) join; per pair only the dot remains
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.norm2(col(vecCol)).as("nrm"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(
        col("a.id").as("ida"), col("b.id").as("idb"),
        (Similarity.dot(col("a.vec"), col("b.vec")) /
          sqrt(col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") > minCosine)
      .select("ida", "idb")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    * embedding clustering. The corpus is partitioned by a learned IVF
    * coarse quantizer ([[Similarity.ivfCentroids]] — deterministic and
    * engine-reproducible end to end), pairwise cosine runs only WITHIN
    * each cluster (the paper's trick: k-means blocking turns the O(n²)
    * pair space into Σ mᵢ² with mᵢ ≈ n/nList), pairs above `eps` form a
    * duplicate graph, and each connected component keeps exactly one
    * member: the doc LEAST similar to its cluster centroid (the paper's
    * keep-low rule — the component member nearest the cluster edge is
    * the most informative example to retain; ties → lowest id).
    *
    * At 100 TB, size `nList` ∝ corpus so mᵢ stays constant (the paper
    * uses 50k clusters for LAION); the within-cluster join is then a
    * plain hash join on the list id with bounded per-key work. As a
    * guard for MIS-sized nList or a degenerate quantizer (mass-duplicate
    * embeddings collapsing into one list), lists larger than
    * `maxListOccupancy` are EXCLUDED from pairing (their members stay,
    * un-deduped) — same boilerplate contract as `maxBucket` on the
    * vector-LSH path, and visibly conservative: semantic dedup of a
    * cluster it cannot afford to compare is skipped, not guessed.
    *
    * Returns one row per input id: (id, grp, keep) where `grp` is the
    * component label (own id for singletons) and `keep` marks the
    * retained representative.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      eps: Double = 0.4, nList: Int = 16, iters: Int = 2,
      maxListOccupancy: Long = 100000L): DataFrame = {
    val assigned = ivfAssignedWithCc(df, idCol, vecCol, nList, iters)
    val pairs = pairsFromAssigned(assigned, eps, maxListOccupancy)
    val comp = connectedComponents(pairs, "da", "db")
    // Representative selection FUSED into one pass over the DUP-GRAPH-
    // sized label frame (r16 this was two corpus-frame joins + a
    // corpus-wide aggregation: corpus ⋈ comp, groupBy(comp) over it,
    // reps joined back). comp holds only ids that appear in a pair, so
    // (comp ⋈ the assignment's cc column) is dup-graph-sized; ranking
    // its members by (cc ASC, id ASC) within each component marks the
    // keeper — row_number == 1 is EXACTLY the old min(struct(cc, id))
    // representative (same total order on (cc, id), ids unique so no
    // ties) — and one left join on id attaches (grp, keep) to the
    // corpus. The window runs over component members only, never the
    // corpus (singletons — the overwhelming mass at scale — skip it).
    val labeled = comp.join(assigned.select(col("id"), col("cc")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(col("cc").asc, col("id").asc)
    val marked = labeled
      .withColumn("__rn", row_number().over(w))
      .select(col("id"), col("comp"), (col("__rn") === 1).as("__keep"))
    assigned.select(col("id"))
      .join(marked, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("comp"), col("id")).as("grp"),
        coalesce(col("__keep"), lit(true)).as("keep"))
  }

  /** Apply [[semanticDedup]]: the corpus minus semantic duplicates —
    * every input row whose id the keep rule retained (one member per
    * eps-component, the one least similar to its centroid). A left-semi
    * join on the keeper ids; both sides key on the id, no row data
    * crosses the join.
    */
  def dedupBySemantic(
      df: DataFrame, idCol: String, vecCol: String,
      eps: Double = 0.4, nList: Int = 16, iters: Int = 2,
      maxListOccupancy: Long = 100000L): DataFrame = {
    val keep = semanticDedup(df, idCol, vecCol, eps, nList, iters, maxListOccupancy)
      .filter(col("keep")).select(col("id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** The candidate-pair stage of [[semanticDedup]], standalone: (da, db)
    * pairs with cosine above `eps` inside the same IVF list. Exposed so
    * the eps-graph can feed other consumers (audit, custom keep rules)
    * and so the plan shape is pinnable — the pairing must stay a hash
    * join on the list id, never a cartesian.
    */
  def semanticPairs(
      df: DataFrame, idCol: String, vecCol: String,
      eps: Double = 0.4, nList: Int = 16, iters: Int = 2,
      maxListOccupancy: Long = 100000L): DataFrame =
    pairsFromAssigned(
      ivfAssignedWithCc(df, idCol, vecCol, nList, iters), eps, maxListOccupancy)

  /** Corpus rows labeled by the learned quantizer: (id, vec, list, nrm,
    * cc) where cc is the cosine to the assigned centroid (the keep
    * rule's ordering key; -1 for zero vectors so no NaN is ever
    * compared). Snapshot via localCheckpoint: the assignment feeds the
    * occupancy count, both pair-join sides, and the final output — four
    * consumers, one quantizer run.
    */
  private def ivfAssignedWithCc(
      df: DataFrame, idCol: String, vecCol: String,
      nList: Int, iters: Int): DataFrame = {
    val unit = Similarity.unitNorm(
      Similarity.ivfCentroids(df, idCol, vecCol, nList, iters))
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("list", graft.functions.Kernels.ivfAssign(col("vec"), unit))
      .withColumn("nrm", Similarity.norm2(col("vec")))
      .withColumn("cc",
        when(col("nrm") === 0d, lit(-1d)).otherwise(
          element_at(graft.functions.Kernels.ivfScores(col("vec"), unit),
            col("list") + 1) / sqrt(col("nrm"))))
      // EAGER, deliberately: four consumers read this frame, and the
      // first two (the oversized-list broadcast subquery and the pair
      // join's own build side) run CONCURRENTLY on broadcast threads —
      // a lazy checkpoint lets both race the un-materialized lineage
      // and duplicate the scan+kernel work (A/B measured: lazy DOUBLED
      // dd_dedup_apply_semantic, 1.5 → 3.8 s). Loop rounds with exactly
      // one sequential consumer (connectedComponents, Redirects) are
      // where lazy snapshots win.
      .localCheckpoint(true)
  }

  /** Within-list eps-graph edges over a labeled corpus. Oversized-list
    * keys are component-cardinality-sized → broadcast anti join, which
    * keeps a degenerate hot list out of any single-task window/sort.
    */
  private def pairsFromAssigned(
      assigned: DataFrame, eps: Double, maxListOccupancy: Long): DataFrame = {
    val over = assigned.groupBy("list").agg(count(lit(1)).as("m"))
      .filter(col("m") > maxListOccupancy).select("list")
    val ok = assigned.join(broadcast(over), Seq("list"), "left_anti")
    val a = ok.select(col("list"), col("id").as("da"), col("vec").as("va"), col("nrm").as("na"))
    val b = ok.select(col("list"), col("id").as("db"), col("vec").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("list"))
      .where(col("da") < col("db"))
      .filter(col("na") > 0d && col("nb") > 0d)
      .filter((Similarity.dot(col("va"), col("vb")) /
        sqrt(col("na") * col("nb"))) > eps)
      .select("da", "db")
  }
}
