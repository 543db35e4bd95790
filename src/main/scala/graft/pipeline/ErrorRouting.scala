package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The heart of the port: per-stage success/filtered/failure routing
  * (`node/node.go:178-196`). A stage application splits its input into
  *
  *   - dead letters (failWhen matched) → `FbEventError` envelope rows
  *     delivered to the node's error_handler (`node/node.go:277-295`)
  *   - filtered rows (keepWhen false) → dropped, counted
  *   - successes → expanded (fanout) then projected, delivered to all
  *     children
  *
  * All three branches derive from ONE declarative plan, and none of
  * them is cached: each consumer re-derives the split from the build's
  * input, the one frame a build caches (`Pipeline.build` persists the
  * read source of a branching tree, a stream persists each micro
  * batch) — the source is
  * never read twice (SURVEY §7 hard part a). Only an async stage's
  * call result is cached, by [[callOnce]].
  */
object ErrorRouting {

  final case class Split(output: DataFrame, deadLetters: Option[DataFrame])

  /** EventError envelope columns (error.go:12-25): payload becomes
    * struct<timestamp, event string, error struct<code,message>>.
    */
  def toEventError(failed: DataFrame, spec: FailSpec): DataFrame =
    failed.select(
      struct(
        col("created").as("timestamp"),
        col("payload").cast("string").as("event"),
        struct(spec.code.as("code"), spec.msg.as("message")).as("error")).as("payload"),
      col("created"),
      col("recovery"))

  /** An async stage's per-row call, run once: returns the frame the
    * branches route on and the stage without its call. The call result
    * is CACHED (lazy localCheckpoint): the output and dead-letter
    * branches are separate lineages, and without the cache each action
    * would re-fire every RPC — doubling side effects, and near a
    * timeout_ms boundary letting one evaluation time out while the
    * other succeeds, putting a row in both branches or neither (the
    * route-every-row-exactly-once contract, node/node.go:178-196,
    * forbids both). Declarative stages stay uncached — they are
    * deterministic and Catalyst re-derives them. Pipeline.buildNode
    * calls this itself, to observe `<id>.received` below the break. */
  def callOnce(input: DataFrame, stage: Stage): (DataFrame, Stage) = stage.pre match {
    case Some(f) => (f(input).localCheckpoint(false), stage.copy(pre = None))
    case None => (input, stage)
  }

  def apply(input: DataFrame, stage: Stage): Split = {
    // async stages (Stage.pre) run their per-row call FIRST, so the
    // declarative branches below route on the call's outcome columns —
    // an AsyncNode error-routes exactly like a SyncNode
    val (pred, _) = callOnce(input, stage)
    val (ok0, dead) = stage.failWhen match {
      case Some(spec) =>
        // A NULL predicate (e.g. null payload reaching a parse check) must
        // not vanish from BOTH branches: treat null as failure so every
        // input row lands in exactly one branch, matching the reference's
        // route-every-row contract (node/node.go:178-196).
        val failCond = coalesce(spec.cond, lit(true))
        (pred.filter(!failCond), Some(toEventError(pred.filter(failCond), spec)))
      case None => (pred, None)
    }
    val kept = stage.keepWhen.map(ok0.filter).getOrElse(ok0)
    val expanded = stage.expand.map(f => f(kept)).getOrElse(kept)
    Split(stage.project(expanded), dead)
  }
}
