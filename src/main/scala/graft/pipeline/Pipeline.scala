package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.{AppConfig, NodeConf}

/** Plans a validated config tree once, then folds it into a DataFrame
  * DAG. `plan` instantiates every stage, as the reference does once at
  * startup (`node/node.go:76-127`); batch mode applies the immutable
  * [[Plan]] once, a stream applies it to every micro-batch. A build
  * caches at most one frame, its input: `buildOn` persists nothing,
  * `build` persists the read source when the tree branches, and a
  * stream persists each micro-batch.
  *
  * Mapping of the reference's execution semantics
  * (`executor/executor.go:142-207`) onto Spark:
  *
  *   - source→roots broadcast + parent→children replication
  *     (`executor/executor.go:183-186`, `node/node.go:190-194`): the
  *     same DataFrame is reused by every consumer, as the reference
  *     hands each event to every child by reference. Node outputs are
  *     never cached: every stage must be deterministic (see `Stage`),
  *     so each leaf re-derives its narrow stage chain from the one
  *     cached input, which keeps the source read once. The error handler is not a
  *     consumer of the output: it reads the dead-letter lineage of the
  *     node's input.
  *   - per-node workers (`executor/executor.go:319-337`): a partition
  *     floor — the node's input is repartitioned up when it plans to
  *     fewer partitions than its configured workers (see buildNode).
  *     buffersize only matters with discard_on_full_buffer (below);
  *     finer scheduling belongs to Spark.
  *   - disabled node: skip node and whole subtree (`node/node.go:76-80`).
  *   - per-node received/success counters: `observe` metrics (collected
  *     by the driver on action, zero extra jobs) named
  *     `<id>.received` / `<id>.emitted`, matching the reference's
  *     metric names conceptually (`metrics/metrics.go:106-185`).
  */
object Pipeline {

  final case class BuiltNode(
      conf: NodeConf,
      output: DataFrame,
      deadLetters: Option[DataFrame],
      errorHandlerOutput: Option[DataFrame],
      children: List[BuiltNode]) {

    def find(id: String): Option[BuiltNode] =
      if (conf.id == id) Some(this)
      else children.view.flatMap(_.find(id)).headOption
  }

  final case class Built(
      roots: List[BuiltNode],
      /** terminal outputs (leaves + error handler outputs), as `Plan.leafKeys` */
      leaves: List[(String, DataFrame)],
      /** the frame this build persisted: `build`'s read source when the
        * tree branches, else nothing — callers unpersist it once the
        * leaves are written */
      persisted: List[DataFrame]) {
    def find(id: String): Option[BuiltNode] = roots.view.flatMap(_.find(id)).headOption
    def unpersistAll(): Unit = persisted.foreach(_.unpersist())
  }

  /** A node as the tree delivers to it: its stage, its error handler's
    * stage if dead letters reach it (the stage has a failWhen), and the
    * children it delivers to — the active ones, none below a terminal
    * stage. A node without children is a leaf, a handler adds `<id>.errors`. */
  private final case class Node(conf: NodeConf, stage: Stage, handler: Option[Stage], children: List[Node]) {
    def leafKeys: List[String] =
      (if (children.isEmpty) List(conf.id) else children.flatMap(_.leafKeys)) ++
        handler.map(_ => errorsKey(conf.id))
    def setsWorkers: Boolean = conf.workers > 1 || children.exists(_.setsWorkers)
    def branches: Boolean = children.size > 1 || children.exists(_.branches)
  }

  private def errorsKey(id: String): String = s"$id.errors"

  def plan(nodes: List[NodeConf], registry: Registry): Plan = {
    def stage(c: NodeConf) = registry.instantiateNode(c.name, c.params)
    def planNodes(ns: List[NodeConf]): List[Node] =
      ns.filterNot(_.disabled).map { conf =>
        val s = stage(conf)
        // Terminal stages (kafkaproducer returns (nil, nil),
        // kafkaproducer.go:92-115) propagate nothing: children configured
        // under one would otherwise receive the sink-projected frame, which
        // the reference never delivers.
        Node(conf, s, if (s.failWhen.isDefined) conf.errorHandler.map(stage) else None,
          if (s.terminal) Nil else planNodes(conf.children))
      }
    new Plan(planNodes(nodes))
  }

  /** Plan and build against the configured source. */
  def build(
      spark: SparkSession,
      config: AppConfig,
      registry: Registry,
      observeMetrics: Boolean = false): Built = {
    val plan = Pipeline.plan(config.nodes, registry)
    val read = registry.instantiateSource(config.source.name).read(spark, config.source.params)
    val shared = Option.when(plan.branches)(read.persist(StorageLevel.MEMORY_AND_DISK))
    plan.buildOn(shared.getOrElse(read), observeMetrics).copy(persisted = shared.toList)
  }

  /** `leafKeys` key `Built.leaves` before any source exists: a stream
    * checks its sinks against them before its first micro-batch. */
  final class Plan private[Pipeline] (private[Pipeline] val roots: List[Node]) {

    val leafKeys: List[String] = roots.flatMap(_.leafKeys)
    private val setsWorkers = roots.exists(_.setsWorkers)
    /** more than one consumer reads the source: >1 active root, or a
      * node with >1 active child, whose output each child re-derives */
    private[Pipeline] val branches = roots.size > 1 || roots.exists(_.branches)

    def buildOn(source: DataFrame, observeMetrics: Boolean = false): Built = {
      val outputs = mutable.Map[String, DataFrame]()
      // the `workers` floor's partition count: measured once per build,
      // only if some node sets workers > 1, and propagated statically
      // through the (narrow) stages below
      val parts = if (setsWorkers) source.rdd.getNumPartitions else Int.MaxValue
      val built = roots.map(buildNode(source, parts, _, observeMetrics, outputs))
      Built(built, leafKeys.map(k => k -> outputs(k)), Nil)
    }
  }

  private def buildNode(
      input: DataFrame,
      inputParts: Int,
      node: Node,
      observe: Boolean,
      outputs: mutable.Map[String, DataFrame]): BuiltNode = {
    val Node(conf, stage, handler, children) = node
    // discard_on_full_buffer load shedding (node/node.go:200-217): the
    // reference drops an event at delivery when the child's bounded
    // channel is full, instead of blocking the parent. Spark has no
    // per-operator buffer to fill — the micro-batch analog (documented
    // divergence, SURVEY §2.4) is a PER-PARTITION admission counter:
    // each task admits the first `buffersize` events of its partition
    // per batch and discards the rest, modelling one bounded channel
    // per worker (total trigger capacity = buffersize × partitions,
    // with the workers floor below applied FIRST so `workers` sizes
    // the channel count exactly like the reference's per-node worker
    // pool). The admission is a narrow codegen filter — no shuffle,
    // no single-partition GlobalLimit collapse (the pre-r11 shape,
    // which serialized the node and forced a repartition after) —
    // so the guard is itself scale-safe and preserves parallelism.
    // `<id>.offered` vs `<id>.received` observe metrics expose the
    // discard count (reference DiscardedEvents, metrics/metrics.go).
    val offered =
      if (conf.discardOnFullBuffer && observe)
        input.observe(s"${conf.id}.offered", count(lit(1)).as("count"))
      else input
    // An observe value is idempotent within a batch: when several
    // downstream actions (multiple leaves, dead-letter branch)
    // re-evaluate the operator, each reports the same total for this
    // node — PipelineMetrics therefore takes last-value-per-batch, not
    // a sum (see its scaladoc).
    //
    // ASYNC stages checkpoint their per-row call result (ErrorRouting's
    // exactly-once guard). The localCheckpoint TRUNCATES the logical
    // plan, so any observe upstream of the break never reaches a
    // listener — this node's `received` would read 0. Order: workers
    // floor (the async calls' parallelism) → `pre` + checkpoint →
    // `received` observe downstream of the break; pre maps rows 1:1
    // (outcome columns only), so the count is identical. ANCESTOR
    // nodes' counters stay above the break and are not observable for
    // the async subtree's lineage — the accepted cost of the
    // exactly-once RPC guard (a cache's recompute-on-eviction would
    // re-fire RPCs); a chain's parent.emitted is recoverable as
    // the async node's own `received` (1:1), asserted in
    // ChaosDrillSpec. The same break swallows THIS node's `.offered`
    // counter when discard_on_full_buffer is combined with an async
    // stage: offered is by definition upstream of the admission limit,
    // which must run before the RPCs (shedding exists to avoid firing
    // them), so the exact discard count of an async+discard node is
    // unobservable — Metrics.discardedEvents max-guards to 0 for it
    // (documented there) rather than reporting a negative.

    // Per-node `workers` (executor/executor.go:319-337): the reference
    // runs N goroutines per node pulling from its channel; Spark's
    // analog of per-stage concurrency is the partition count, so
    // `workers` acts as a parallelism FLOOR — a node whose input plans
    // to fewer partitions than its configured workers is round-robin
    // repartitioned up before the stage applies. workers=1 (the
    // reference default, config/config.go:219-228) never forces a
    // shuffle, and inputs already at or above the floor are left
    // alone — coalescing DOWN would serialize a wide stage, which is
    // Spark's scheduler's call, not the config's.
    //
    // EXCEPT under discard_on_full_buffer: the shed contract is
    // "exactly `workers` bounded channels", so the admission only has
    // its documented deterministic capacity (workers × buffersize) if
    // the partition count IS workers. An input that already plans
    // wider (a multi-split parquet scan, an upstream shuffle) must be
    // repartitioned DOWN too, or the capacity silently becomes
    // buffersize × however-many-splits-the-file-layout-produced —
    // unnoticeable at test SFs where one file is one split, wrong at
    // corpus scale (caught by round-11 review). The shuffle is the
    // cost of opting into the reference's bounded-channel semantics,
    // exactly as its fixed worker pool serializes there too.
    val (parallel0, outParts) =
      if (conf.discardOnFullBuffer && inputParts != conf.workers)
        (offered.repartition(conf.workers), conf.workers)
      else if (conf.workers > 1 && inputParts < conf.workers)
        (offered.repartition(conf.workers), conf.workers)
      else (offered, inputParts)
    val parallel =
      if (conf.discardOnFullBuffer) {
        // admission = a codegen FILTER on the per-task row counter:
        // monotonically_increasing_id() is partitionIndex·2³³ + the
        // 0-based row index within the task, so its low 33 bits ARE
        // "how many this channel has already admitted". A filter never
        // short-circuits the upstream iterator (unlike take/limit), so
        // the `.offered` CollectMetrics above still counts every
        // produced event — in the reference too the parent produces
        // every event and the drop happens at channel delivery
        // (node/node.go:200-217). Zero extra operators, no
        // Row-encoder round trip, stays inside whole-stage codegen
        // (the first implementation was a mapPartitions drain —
        // measured ~2× the per-trigger-cap cost at bench SF purely
        // from the InternalRow↔Row conversion).
        parallel0.filter(
          org.apache.spark.sql.functions.monotonically_increasing_id
            .bitwiseAND(lit((1L << 33) - 1)) < lit(conf.bufferSize.toLong))
      } else parallel0
    val (called, routed) = ErrorRouting.callOnce(parallel, stage)
    val observed =
      if (observe) called.observe(s"${conf.id}.received", count(lit(1)).as("count"))
      else called

    val split = ErrorRouting(observed, routed)

    // Only the children read the output, each re-deriving it from the
    // build's input; the error handler reads split.deadLetters, a
    // separate lineage from this node's input.
    val outObserved =
      if (observe) split.output.observe(s"${conf.id}.emitted", count(lit(1)).as("count"))
      else split.output

    val errorHandlerOutput = for {
      h <- handler
      dead <- split.deadLetters
    } yield ErrorRouting(dead, h).output
    outputs += conf.id -> outObserved
    errorHandlerOutput.foreach(outputs += errorsKey(conf.id) -> _)

    // static partition propagation assumes the stage is NARROW (true
    // of every built-in); a custom wide stage declares narrow=false
    // and children re-measure the actual count — the per-batch plan
    // compile the estimate exists to avoid, paid only by pipelines
    // that embed a shuffle in a stage (they pay the shuffle anyway)
    lazy val childParts =
      if (stage.narrow) outParts
      else outObserved.rdd.getNumPartitions
    BuiltNode(
      conf,
      outObserved,
      split.deadLetters,
      errorHandlerOutput,
      children.map(buildNode(outObserved, childParts, _, observe, outputs)))
  }
}
