package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** The dataflow contract: every node input/output is an *event
  * DataFrame* with the envelope columns of the reference's
  * `firebolt.Event` (`event.go:5-10`):
  *
  *   - `payload`  — any type (binary/string/struct), per-stage typed
  *   - `created`  — TimestampType
  *   - `recovery` — BooleanType
  *
  * A stage declares its behavior *declaratively* so the whole node tree
  * fuses into whole-stage codegen — no per-row closures, no UDFs:
  *
  *   - `failWhen`: rows matching the predicate are routed to the node's
  *     error_handler as dead letters (`node/node.go:178-183` semantics).
  *     Declared, not thrown: Spark cannot catch per-row exceptions
  *     without abandoning codegen, and the reference's own nodes decide
  *     failure by inspecting the event anyway.
  *   - `keepWhen`: the "return nil to filter" contract
  *     (`README.md:55`, `node/node.go:184-188`); dropped rows count as
  *     filtered.
  *   - `expand`: 1→N fanout (`node/node.go:30-33`) — an array column to
  *     explode, applied before `project`. Empty array = filtered.
  *   - `project`: the payload transform (SyncNode's map step).
  *
  * A stage must be deterministic (no rand/uuid/current_timestamp, no
  * order-dependent pick after a shuffle): no node's output is cached,
  * so a node with more than one child re-runs its stage once per
  * child's write, including any shuffle of a `narrow = false` stage,
  * and every child must still see the same rows.
  */
final case class Stage(
    failWhen: Option[FailSpec] = None,
    keepWhen: Option[Column] = None,
    expand: Option[DataFrame => DataFrame] = None,
    project: DataFrame => DataFrame = identity,
    /** terminal sink behavior (KafkaProducer returns (nil, nil):
      * `kafkaproducer.go:92-115`) — output is written, not propagated */
    terminal: Boolean = false,
    /** applied BEFORE failWhen — the AsyncNode hook
      * (`node/node.go:36-39`): runs the per-row call and attaches
      * outcome columns that failWhen/keepWhen then route on
      * declaratively. None for every synchronous stage. */
    pre: Option[DataFrame => DataFrame] = None,
    /** true (the default, and true of every built-in stage) when
      * `expand`/`project`/`pre` preserve the input partitioning —
      * select/filter/explode/mapPartitions. A custom stage whose
      * transform SHUFFLES (groupBy, join, repartition) must set
      * narrow=false so the per-node `workers` floor re-measures the
      * actual partition count downstream instead of trusting the
      * static estimate (Pipeline.buildNode). Under a node with more
      * than one child that shuffle runs once per child. */
    narrow: Boolean = true)

/** Error predicate + structured error columns (reference FBError,
  * `error.go:50-54`).
  */
final case class FailSpec(cond: Column, code: Column, msg: Column)

/** Factory registered per node type — the analog of the reference
  * registry's `Registration{factory, Consumes, Produces}`
  * (`node/registry.go:25-30`), with string type tags standing in for
  * reflect.Type.
  */
trait StageFactory {
  def consumes: String
  def produces: String
  def build(params: Map[String, String]): Stage
}

trait SourceFactory {
  def produces: String
  /** batch read (streaming handled by graft.streaming). */
  def read(spark: org.apache.spark.sql.SparkSession, params: Map[String, String]): DataFrame
}
