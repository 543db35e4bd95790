package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.EpochTime.epochSeconds

/** Temporal joins the reference lacks entirely (SURVEY §2.6) but a
  * training-data/observability pipeline needs: as-of (point-in-time)
  * join.
  *
  * The naive formulation — range-join `l.ts >= r.ts` then keep the max
  * r.ts per left row — is a cross-ish join that explodes at scale. The
  * scalable shape used here is union + carry-forward:
  *
  *   1. tag both sides, union on (key, ts) — ONE dataset
  *   2. one window over (key) ordered by (ts, side) with
  *      `last(right_value, ignoreNulls)` carries the most recent right
  *      row forward onto every left row
  *   3. filter back to left rows
  *
  * Cost: a single hash shuffle on the join key + an in-partition sort —
  * the same price as one sort-merge join, independent of how many right
  * rows precede each left row. Right rows tie-break BEFORE left rows at
  * equal timestamps (`l.ts >= r.ts` semantics, matching DuckDB's
  * ASOF JOIN, which the oracle uses).
  */
object Temporal {

  /** Left as-of join: for each left row, the latest right row with
    * `r.tsCol <= l.tsCol` on the same key. Right columns (except key
    * and ts) are appended; left rows with no prior right row keep
    * nulls (left-outer semantics).
    *
    * `toleranceSeconds` bounds staleness: a carried right row older
    * than the tolerance (floor-second difference) is treated as no
    * match — same nulls as a missing right row. Costs nothing extra:
    * the matched right ts already rides in the carried struct.
    *
    * NULL join keys never match (right null-key rows are dropped, left
    * null-key rows keep nulls) — SQL equi-join semantics, matching
    * DuckDB's ASOF JOIN; Spark's Window would otherwise group the two
    * sides' NULL keys into one partition and fabricate matches. Right
    * rows should be UNIQUE per (key, ts): among sort-equal duplicates
    * the carried one is partition-layout-dependent (the same ambiguity
    * the SQL ASOF has) — pre-aggregate duplicates to a deterministic
    * representative first, as the library's own callers do.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      toleranceSeconds: Option[Long] = None,
      direction: String = "backward"): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoin: direction must be backward, forward or nearest, got [$direction]")
    val forward = direction == "forward"
    val nearest = direction == "nearest"
    val rightVals = right.columns.filter(c => c != keyCol && c != tsCol).toSeq
    val leftVals = left.columns.filter(c => c != keyCol && c != tsCol).toSeq
    val overlap = leftVals.intersect(rightVals)
    require(overlap.isEmpty,
      s"asofJoin: non-key columns present on both sides: ${overlap.mkString(", ")} — rename before joining")

    // The matched right row must be carried AS A UNIT: one
    // last(struct(...), ignoreNulls) — carrying each column with its own
    // last(col, ignoreNulls) would back-fill a legitimate NULL in the
    // latest right row from an OLDER right row, fabricating a composite
    // row that never existed (diverges from DuckDB ASOF JOIN).
    // The struct leads with the right row's own ts so the tolerance
    // check can see how stale the match is.
    import org.apache.spark.sql.types.{StructField, StructType}
    val rvType = StructType(
      StructField("__rts", right.schema(tsCol).dataType) +: rightVals.map(c => right.schema(c)))

    // backward: right sorts BEFORE left at equal ts (>= match) and the
    // latest prior right row carries forward. forward: right sorts
    // AFTER left at equal ts (<= match) and the earliest following
    // right row carries backward. Same single shuffle either way.
    val (rightSide, leftSide) = if (forward) (1, 0) else (0, 1)
    val taggedRight = right.filter(col(keyCol).isNotNull).select(
      (col(keyCol) +: col(tsCol).as("__ts") +: lit(rightSide).as("__side") +:
        struct((col(tsCol).as("__rts") +: rightVals.map(col)): _*).as("__rv") +:
        leftVals.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val taggedLeft = left.select(
      (col(keyCol) +: col(tsCol).as("__ts") +: lit(leftSide).as("__side") +:
        lit(null).cast(rvType).as("__rv") +: leftVals.map(col)): _*)

    val base = Window.partitionBy(keyCol).orderBy(col("__ts"), col("__side"))
    val union = taggedRight.unionByName(taggedLeft)
    // nearest = BOTH carries over the same sorted partition (still one
    // shuffle + one sort, two frame passes), then pick the smaller
    // floor-second distance; ties (incl. equal-ts matches, which live
    // in the backward frame under backward side order) go backward
    val carried =
      if (nearest) {
        val bwd = last(col("__rv"), ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val fwd = first(col("__rv"), ignoreNulls = true)
          .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing))
        val db = epochSeconds(col("__ts")) - epochSeconds(col("__b").getField("__rts"))
        val df = epochSeconds(col("__f").getField("__rts")) - epochSeconds(col("__ts"))
        union.withColumn("__b", bwd).withColumn("__f", fwd)
          .withColumn("__rv",
            when(col("__b").isNull, col("__f"))
              .when(col("__f").isNull, col("__b"))
              .when(db <= df, col("__b"))
              .otherwise(col("__f")))
          .drop("__b", "__f")
      } else if (forward) union.withColumn("__rv",
        first(col("__rv"), ignoreNulls = true)
          .over(base.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      else union.withColumn("__rv",
        last(col("__rv"), ignoreNulls = true)
          .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rts = epochSeconds(col("__rv").getField("__rts"))
    val lts = epochSeconds(col("__ts"))
    val staleness =
      if (nearest) greatest(lts - rts, rts - lts)
      else if (forward) rts - lts
      else lts - rts
    val bounded = toleranceSeconds.fold(carried)(tol =>
      carried.withColumn("__rv", when(staleness <= tol, col("__rv"))))
    bounded.filter(col("__side") === leftSide)
      .select((col(keyCol) +: col("__ts").as(tsCol) +:
        (leftVals.map(col) ++ rightVals.map(c => col("__rv").getField(c).as(c)))): _*)
  }

  /** Build-time materialization of a giant-interval side channel: one
    * pass over the (filtered) interval lineage either proves the frame
    * empty (None — the guard drops from the plan) or yields its rows
    * as a LocalRelation, so the run-time broadcast reads the rows the
    * probe already computed instead of re-executing the lineage — the
    * probe's pass is never wasted. Giants past `cap` (10k — far beyond
    * broadcast-sane; "giants are rare by definition, else the bucket
    * grain is wrong") fall back to the planned frame unchanged, so
    * results are identical in every branch.
    *
    * The probe itself reads a SINGLE constant column (`lit(1)` under
    * the limit), so the common empty case never ships full-width
    * interval rows to the driver — wide payload columns cost nothing
    * until giants are PROVEN to exist and to fit the cap, and only
    * then does a second bounded pass collect the rows the broadcast
    * genuinely needs (r13, closing the r12 ADVICE probe-width item).
    */
  private def materializeGiants(g: DataFrame, cap: Int = 10000): Option[DataFrame] = {
    val found = g.select(lit(1).as("__one")).limit(cap + 1).collect().length
    if (found == 0) None
    else if (found > cap) Some(g)
    else Some(g.sparkSession.createDataFrame(
      java.util.Arrays.asList(g.limit(cap).collect(): _*), g.schema))
  }

  /** Range (interval-containment) join with NO equi-key: pairs every
    * point with the intervals containing it.
    *
    * Without an equi-key Spark would pick BroadcastNestedLoop (small
    * side only) or a cartesian product — quadratic at scale. Bucketing
    * manufactures the equi-key: each interval explodes to the
    * `bucketSeconds`-grain buckets it covers, each point maps to its
    * single bucket, the join runs as a plain hash join on the bucket,
    * and the exact containment predicate filters inside. A point lives
    * in exactly one bucket, so no pair duplicates and no distinct.
    *
    * Cost: interval replication × ceil(span/bucket) — pick
    * `bucketSeconds` near the typical interval span so replication
    * stays O(1) per interval. Degenerate giant intervals are the skew
    * case: `maxBucketsPerInterval` routes any interval spanning more
    * buckets than that down a broadcast side-channel (giants are rare
    * by definition — were they common, the bucket grain is simply
    * wrong) joined with the raw predicate, so results are IDENTICAL
    * with or without the cap and no interval ever explodes into
    * unbounded replication.
    *
    * Predicate columns are qualified per side, so `points` and
    * `intervals` may share column names.
    */
  def rangeJoin(
      points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketSeconds: Long,
      maxBucketsPerInterval: Option[Long] = None): DataFrame = {
    val b = lit(bucketSeconds)
    def nBuckets(df: DataFrame) =
      (epochSeconds(df(endCol)) / b).cast("long") - (epochSeconds(df(startCol)) / b).cast("long") + 1
    // Plan-time probe: the cap is a skew GUARD, and in the common case
    // (interval spans bounded by construction) the giant frame is
    // EMPTY — yet an empty-but-planned broadcast union still costs an
    // exchange build + cleanup per run (measured as the in-suite
    // q36_interval_overlap outlier). The probe proves emptiness and
    // drops the side-channel — and the normals filter with it — from
    // the plan entirely; when giants DO exist, the probe's pass is not
    // wasted either: the rows it read are materialized as a local
    // relation (see materializeGiants), so the broadcast side never
    // re-executes the interval lineage at run time (r12, closing the
    // r11 ADVICE probe-cost item).
    // The probe is an ACTION at build time: it snapshots the input as
    // of now (an input that gains its first giant between build and
    // execution — e.g. a view over a growing path — keeps the
    // probe-time plan; rebuild per run for moving data) and cannot run
    // on a streaming frame, which keeps the guard planned instead.
    val giantsOpt = maxBucketsPerInterval.flatMap { m =>
      val g = intervals.filter(nBuckets(intervals) > m)
      if (!intervals.isStreaming) materializeGiants(g)
      else Some(g)
    }
    val normals =
      if (giantsOpt.isEmpty) intervals
      else intervals.filter(nBuckets(intervals) <= maxBucketsPerInterval.get)
    val iv = normals.withColumn("__bucket",
      explode(sequence(
        (epochSeconds(col(startCol)) / b).cast("long"),
        (epochSeconds(col(endCol)) / b).cast("long"))))
    val pt = points.withColumn("__bucket", (epochSeconds(col(tsCol)) / b).cast("long"))
    val bucketedJoin = pt.join(iv, pt("__bucket") === iv("__bucket") &&
        pt(tsCol) >= iv(startCol) && pt(tsCol) <= iv(endCol))
      .drop(pt("__bucket")).drop(iv("__bucket"))
    giantsOpt.fold(bucketedJoin) { giants =>
      bucketedJoin.union(points.join(broadcast(giants),
        points(tsCol) >= giants(startCol) && points(tsCol) <= giants(endCol)))
    }
  }

  /** Interval-overlap join with NO equi-key: pairs every left interval
    * with every right interval it overlaps (`l.start <= r.end AND
    * r.start <= l.end`, closed intervals).
    *
    * Same bucket-manufactured equi-key as [[rangeJoin]], with the
    * standard dedup-free trick for interval×interval: both sides
    * explode to their covered buckets, and a pair is emitted ONLY in
    * the first bucket where both intervals coexist —
    * `bucket == floor(max(l.start, r.start) / bucketSeconds)` — so
    * every overlapping pair appears exactly once without a `distinct`
    * shuffle over the pair space. Replication cost is rangeJoin's;
    * `maxBucketsPerInterval` is the same giant-interval guard — an
    * interval spanning more buckets than the cap (on either side)
    * skips bucketing and joins via the broadcast side-channel with the
    * raw overlap predicate, partitioned so every pair still appears
    * exactly once: normal×normal bucketed, giant-left×all-right and
    * normal-left×giant-right broadcast.
    *
    * Predicate columns are qualified per side, so the two inputs may
    * share column names (e.g. both `start`/`end`).
    */
  def intervalOverlapJoin(
      left: DataFrame, lStartCol: String, lEndCol: String,
      right: DataFrame, rStartCol: String, rEndCol: String,
      bucketSeconds: Long,
      maxBucketsPerInterval: Option[Long] = None): DataFrame = {
    val b = lit(bucketSeconds)
    def nBuckets(df: DataFrame, s: String, e: String) =
      (epochSeconds(df(e)) / b).cast("long") - (epochSeconds(df(s)) / b).cast("long") + 1
    def bucketed(df: DataFrame, s: String, e: String) = df.withColumn("__bucket",
      explode(sequence(
        (epochSeconds(col(s)) / b).cast("long"),
        (epochSeconds(col(e)) / b).cast("long"))))
    def overlaps(lDf: DataFrame, rDf: DataFrame) =
      lDf(lStartCol) <= rDf(rEndCol) && rDf(rStartCol) <= lDf(lEndCol)
    def bucketedJoin(lDf: DataFrame, rDf: DataFrame) = {
      val l = bucketed(lDf, lStartCol, lEndCol)
      val r = bucketed(rDf, rStartCol, rEndCol)
      l.join(r,
          l("__bucket") === r("__bucket") && overlaps(l, r) &&
            l("__bucket") === (greatest(epochSeconds(l(lStartCol)), epochSeconds(r(rStartCol))) / b).cast("long"))
        .drop(l("__bucket")).drop(r("__bucket"))
    }
    maxBucketsPerInterval match {
      case None => bucketedJoin(left, right)
      case Some(m) =>
        // Same plan-time emptiness probe as rangeJoin: each giant
        // side-channel (and its paired normals filter) only enters the
        // plan when a limit-1 probe finds an actual giant — two empty
        // broadcast unions otherwise tax every run for a guard that
        // never fires. Same build-time-snapshot caveat as rangeJoin's
        // probe; streaming frames skip the probe and keep the guard.
        def probeGiants(df: DataFrame, sc: String, ec: String): Option[DataFrame] = {
          val g = df.filter(nBuckets(df, sc, ec) > m)
          if (!df.isStreaming) materializeGiants(g)
          else Some(g)
        }
        val lGiant = probeGiants(left, lStartCol, lEndCol)
        val rGiant = probeGiants(right, rStartCol, rEndCol)
        val lNorm =
          if (lGiant.isEmpty) left else left.filter(nBuckets(left, lStartCol, lEndCol) <= m)
        val rNorm =
          if (rGiant.isEmpty) right else right.filter(nBuckets(right, rStartCol, rEndCol) <= m)
        val base = bucketedJoin(lNorm, rNorm)
        val withL = lGiant.fold(base)(g => base.union(broadcast(g).join(right, overlaps(g, right))))
        rGiant.fold(withL)(g => withL.union(lNorm.join(broadcast(g), overlaps(lNorm, g))))
    }
  }
}
