package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.{AppConfig, NodeConf}

/** Folds a validated config tree into a DataFrame DAG.
  *
  * Mapping of the reference's execution semantics
  * (`executor/executor.go:142-207`) onto Spark:
  *
  *   - source→roots broadcast + parent→children replication
  *     (`executor/executor.go:183-186`, `node/node.go:190-194`): the
  *     same DataFrame is reused by every consumer; when a node has >1
  *     active child its output is persisted in batch mode so the
  *     upstream work runs once. The error handler is not a consumer of
  *     the output: it reads the dead-letter lineage of the node's input.
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

    /** all terminal outputs (leaves + error handler outputs), keyed by id */
    def leaves: List[(String, DataFrame)] = {
      val own = if (children.isEmpty) List(conf.id -> output) else children.flatMap(_.leaves)
      own ++ errorHandlerOutput.map(conf.id + ".errors" -> _).toList
    }
  }

  final case class Built(
      source: DataFrame,
      roots: List[BuiltNode],
      /** every frame this build persisted (shared source + multi-child
        * node outputs) — streaming callers MUST unpersist these after each
        * micro-batch or a long-running stream accumulates cached blocks */
      persisted: List[DataFrame] = Nil) {
    def find(id: String): Option[BuiltNode] = roots.view.flatMap(_.find(id)).headOption
    def leaves: List[(String, DataFrame)] = roots.flatMap(_.leaves)
    def unpersistAll(): Unit = persisted.foreach(_.unpersist())
  }

  /** Build the full DAG for a config against a batch source DataFrame. */
  def build(
      spark: SparkSession,
      config: AppConfig,
      registry: Registry,
      observeMetrics: Boolean = false,
      persistShared: Boolean = true): Built = {
    val src = registry.instantiateSource(config.source.name).read(spark, config.source.params)
    buildOn(src, config.nodes, registry, observeMetrics, persistShared)
  }

  /** Build against an explicit source (tests, streaming micro-batches). */
  def buildOn(
      source: DataFrame,
      nodes: List[NodeConf],
      registry: Registry,
      observeMetrics: Boolean = false,
      persistShared: Boolean = true): Built = {
    val activeRoots = nodes.filterNot(_.disabled)
    val persisted = scala.collection.mutable.ListBuffer[DataFrame]()
    val src =
      if (activeRoots.size > 1 && persistShared) {
        val p = source.persist(StorageLevel.MEMORY_AND_DISK)
        persisted += p; p
      } else source
    // Partition count for the `workers` floor decision, computed AT MOST
    // ONCE per build (the old per-node observed.rdd.getNumPartitions
    // compiled a throwaway physical plan per node per micro-batch) and
    // only if some node actually configures workers > 1. Stages are
    // narrow (select/filter/expand/mapPartitions), so the count is
    // propagated statically through the tree below.
    lazy val srcParts = src.rdd.getNumPartitions
    def anyWorkers(ns: List[NodeConf]): Boolean =
      ns.exists(n => !n.disabled && (n.workers > 1 || anyWorkers(n.children)))
    val parts = if (anyWorkers(activeRoots)) srcParts else Int.MaxValue
    Built(
      src,
      activeRoots.map(buildNode(src, parts, _, registry, observeMetrics, persistShared, persisted)),
      persisted.toList)
  }

  private def buildNode(
      input: DataFrame,
      inputParts: Int,
      conf: NodeConf,
      registry: Registry,
      observe: Boolean,
      persistShared: Boolean,
      persisted: scala.collection.mutable.ListBuffer[DataFrame]): BuiltNode = {
    val stage = registry.instantiateNode(conf.name, conf.params)
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
    // exactly-once RPC guard (recompute-on-eviction with persist()
    // would re-fire RPCs); a chain's parent.emitted is recoverable as
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
    val (preDone, stageForSplit) = stage.pre match {
      case Some(f) => (f(parallel).localCheckpoint(false), stage.copy(pre = None))
      case None => (parallel, stage)
    }
    val observed =
      if (observe) preDone.observe(s"${conf.id}.received", count(lit(1)).as("count"))
      else preDone

    val split = ErrorRouting(observed, stageForSplit)

    // Terminal stages (kafkaproducer returns (nil, nil),
    // kafkaproducer.go:92-115) propagate nothing: children configured
    // under one would otherwise receive the sink-projected frame, which
    // the reference never delivers.
    val activeChildren =
      if (stage.terminal) Nil else conf.children.filterNot(_.disabled)
    // Only the children read the output; the error handler reads
    // split.deadLetters, a separate lineage from this node's input.
    val out0 = split.output
    val out =
      if (activeChildren.size > 1 && persistShared) {
        val p = out0.persist(StorageLevel.MEMORY_AND_DISK)
        persisted += p; p
      } else out0
    val outObserved =
      if (observe) out.observe(s"${conf.id}.emitted", count(lit(1)).as("count"))
      else out

    val errorHandlerOutput = for {
      ehConf <- conf.errorHandler
      dead <- split.deadLetters
    } yield {
      val ehStage = registry.instantiateNode(ehConf.name, ehConf.params)
      ErrorRouting(dead, ehStage).output
    }

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
      activeChildren.map(buildNode(outObserved, childParts, _, registry, observe, persistShared, persisted)))
  }
}
