package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp

import graft.catalog.Catalog
import graft.quality.Expectations

/** Declarative pipeline graph — the DLT analogue (Gold_Products.py:84-105:
  * `@dlt.table` defs + expectations + `dlt.apply_changes`, with DLT
  * ordering the graph). Tables are DECLARED with their inputs,
  * expectations, and materialization; [[PipelineGraph!.run]] validates the
  * graph, orders it topologically (declaration order breaks ties, so runs
  * are deterministic), and executes each node over the existing
  * snapshot/merge machinery:
  *
  *   - [[PipelineGraph.Snapshot]] — versioned overwrite (silver style);
  *   - [[PipelineGraph.Scd1]]/[[PipelineGraph.Scd2]]/[[PipelineGraph.Upsert]]
  *     — the gold dimension/fact load protocol (first load creates the
  *     table with audit columns, later runs merge), via the same
  *     [[GoldLoad]] the imperative [[Medallion]] methods call — the
  *     declarative and imperative paths are one implementation;
  *   - [[PipelineGraph.View]] — computed, never persisted (`@dlt.view`).
  *
  * Expectations run BEFORE materialization ([[PipelineGraph.DropRows]] =
  * `expect_all_or_drop`, [[PipelineGraph.FailRun]] = `expect_all_or_fail`,
  * [[PipelineGraph.WarnOnly]] = `expect` — keep rows, count violations);
  * per-rule violation counts come back in the [[PipelineGraph.RunResult]].
  *
  * A node's build function sees only its DECLARED inputs through the
  * resolver it is handed — an undeclared read throws, so the dependency
  * list can never silently drift from the code (DLT gets this from static
  * `Live.` analysis; here the declaration is the contract). Downstream
  * nodes read a persisted upstream table back from the CATALOG, not the
  * in-flight frame — each stage consumes exactly what was committed, the
  * same read-your-committed-snapshot semantics the imperative pipelines
  * have.
  *
  * Scale: the graph itself is driver-side metadata (a few dozen nodes);
  * all data movement stays inside the per-node Spark plans. Nothing here
  * adds a shuffle or a collect.
  */
class PipelineGraph(spark: SparkSession, cat: Catalog,
    dimBuckets: Option[Int] = None,
    now: Column = current_timestamp()) {
  import PipelineGraph._

  private val nodes = mutable.LinkedHashMap.empty[String, Node]

  /** Declare a table (or, with [[View]], an ephemeral node). Persisted
    * nodes are named `layer.table`. `build` receives a resolver serving the
    * declared `inputs` — external frames (supplied to [[run]]) or upstream
    * nodes. */
  def table(name: String, inputs: Seq[String] = Nil,
      expectations: Map[String, String] = Map.empty,
      onViolation: OnViolation = DropRows,
      materialize: Materialize = Snapshot)(
      build: (String => DataFrame) => DataFrame): this.type = {
    require(!nodes.contains(name), s"node '$name' is already declared")
    if (materialize != View)
      require(name.split('.').length == 2,
        s"persisted node '$name' must be named layer.table")
    nodes(name) = Node(name, inputs, expectations, onViolation,
      materialize, build)
    this
  }

  /** `@dlt.view`: a computed node that is never persisted. */
  def view(name: String, inputs: Seq[String] = Nil)(
      build: (String => DataFrame) => DataFrame): this.type =
    table(name, inputs, materialize = View)(build)

  /** Validate + topologically order the declared nodes. Fails fast on an
    * input that is neither a node nor a supplied external, and on a cycle
    * (naming its members). */
  private[pipeline] def topoOrder(externals: Set[String]): Seq[String] = {
    nodes.values.foreach { n =>
      n.inputs.foreach(i => require(nodes.contains(i) || externals(i),
        s"node '${n.name}' depends on '$i', which is neither a declared " +
          "node nor a supplied external input"))
    }
    val order = mutable.ArrayBuffer.empty[String]
    val done = mutable.Set.empty[String]
    var remaining = nodes.keys.toSeq
    while (remaining.nonEmpty) {
      val ready = remaining.filter(n =>
        nodes(n).inputs.forall(i => done(i) || !nodes.contains(i)))
      if (ready.isEmpty)
        throw new IllegalStateException(
          "pipeline graph has a cycle among: " + remaining.mkString(", "))
      ready.foreach { r => order += r; done += r }
      remaining = remaining.filterNot(done)
    }
    order.toSeq
  }

  /** Execute the graph in dependency order. `batchId`, when supplied,
    * stamps every [[IncrementalAgg]] refresh this run performs — the
    * exactly-once hook: a caller that re-runs a crashed graph with the
    * SAME externals and SAME batchId has its agg deltas dropped by the
    * in-state replay guard instead of double-counted. Without it the id
    * auto-advances (at-least-once: re-presenting a batch re-applies it).
    *
    * `epoch`, when set, names a [[PipelineEpoch]] stream: after EVERY
    * node commit succeeds, the run publishes one epoch marker recording
    * each persisted table's committed version — readers that resolve
    * through [[PipelineEpoch.read]] see this run's tables all-or-nothing
    * (a crash mid-run leaves the previous epoch fully readable), closing
    * the mixed-generation window per-table commits leave open. */
  def run(externals: Map[String, DataFrame] = Map.empty,
      batchId: Option[Long] = None,
      epoch: Option[String] = None): RunResult = {
    val order = topoOrder(externals.keySet)
    val viewOut = mutable.Map.empty[String, DataFrame]
    val violations = mutable.Map.empty[String, Map[String, Long]]
    order.foreach { name =>
      val n = nodes(name)
      def resolve(i: String): DataFrame = {
        require(n.inputs.contains(i),
          s"node '$name' reads '$i', which is not among its declared " +
            s"inputs ${n.inputs.mkString("[", ", ", "]")}")
        externals.get(i)
          .orElse(viewOut.get(i))
          .getOrElse(readNode(i))
      }
      val built = n.build(resolve)
      val gated =
        if (n.expectations.isEmpty) built
        else n.onViolation match {
          case DropRows =>
            val r = Expectations.applyOrDrop(built, n.expectations)
            violations(name) = r.violations
            r.kept
          case FailRun => Expectations.applyOrFail(built, n.expectations)
          case WarnOnly =>
            violations(name) =
              Expectations.violationCounts(built, n.expectations)
            built
        }
      n.materialize match {
        case View => viewOut(name) = gated
        case Snapshot =>
          val (layer, tbl) = split(name)
          cat.overwriteSnapshot(gated, layer, tbl)
        case Scd1(keys, tracked, skeyCol) =>
          GoldLoad.scd1(spark, cat, dimBuckets, split(name)._2, gated,
            keys, tracked, skeyCol, now)
        case Scd2(keys, tracked, skeyCol) =>
          GoldLoad.scd2(spark, cat, dimBuckets, split(name)._2, gated,
            keys, tracked, skeyCol, now)
        case Upsert(keys) =>
          GoldLoad.upsert(spark, cat, dimBuckets, split(name)._2, gated,
            keys, now)
        case IncrementalAgg(groupBy, measures, nBuckets) =>
          val (layer, tbl) = split(name)
          val ma = new MaterializedAgg(spark, cat, layer, tbl,
            groupBy, measures, nBuckets)
          ma.refresh(gated, batchId.getOrElse(ma.lastRefreshId + 1))
          ()
        case IncrementalJoin(ft, fk, fkc, dt, dpk, dcols, nb) =>
          val (fl, ftb) = split(ft)
          val (dl, dtb) = split(dt)
          val (layer, tbl) = split(name)
          val mj = new MaterializedJoin(spark, cat.path(fl, ftb), fk, fkc,
            cat.path(dl, dtb), dpk, dcols, cat.path(layer, tbl), nb)
          if (!mj.exists) mj.build() else { mj.refresh(); () }
      }
    }
    val committedEpoch = epoch.map { name =>
      val persisted = order.filter(n => nodes(n).materialize != View)
      PipelineEpoch.commit(spark, cat, name, persisted)
    }
    RunResult(order, violations.toMap, committedEpoch)
  }

  /** Read a persisted node's committed table in the layout it recorded
    * (the logical rows: an aggregate's bookkeeping column and a bucketed
    * table's bucket column dropped). */
  private def readNode(name: String): DataFrame = {
    val (layer, tbl) = split(name)
    nodes(name).materialize match {
      case IncrementalAgg(g, m, nB) =>
        new MaterializedAgg(spark, cat, layer, tbl, g, m, nB).read()
      case _ =>
        graft.layout.DeletionVectors.readLogical(spark, cat.path(layer, tbl))
    }
  }

  private def split(name: String): (String, String) = {
    val parts = name.split('.')
    (parts(0), parts(1))
  }
}

object PipelineGraph {
  /** How a node's frame is written each run. */
  sealed trait Materialize
  /** Versioned snapshot overwrite (silver-style). */
  case object Snapshot extends Materialize
  /** Ephemeral: computed and passed downstream, never persisted. */
  case object View extends Materialize
  /** Gold SCD1 dimension: first load creates with SCD1 audit columns,
    * later runs merge (tracked-attribute changes overwrite in place). */
  case class Scd1(keys: Seq[String], tracked: Seq[String],
      skeyCol: String) extends Materialize
  /** Gold SCD2 dimension: history rows with effective date range. */
  case class Scd2(keys: Seq[String], tracked: Seq[String],
      skeyCol: String) extends Materialize
  /** Gold fact upsert keyed on `keys`. */
  case class Upsert(keys: Seq[String]) extends Materialize
  /** Incrementally maintained aggregate ([[MaterializedAgg]]): the node's
    * frame is treated as THIS RUN'S append batch and folded into the
    * stored state — refresh cost O(batch)+O(groups). Pass `run(batchId =
    * …)` to get crash-replay drops (re-run with the same id is a no-op);
    * the auto-advancing default re-applies whatever batch is presented. */
  case class IncrementalAgg(groupBy: Seq[String],
      measures: Seq[MaterializedAgg.Measure],
      nBuckets: Option[Int] = None) extends Materialize
  /** Incrementally maintained JOIN view ([[MaterializedJoin]]): the node
    * names its fact and dim tables (both must be graph nodes or existing
    * catalog tables — declare them as `inputs` so they refresh first);
    * the first run builds the full join, later runs pull both change
    * feeds and rewrite only the dependent join-key buckets. The node's
    * own build frame is ignored (maintenance is CDC-driven). */
  case class IncrementalJoin(factTable: String, factKeys: Seq[String],
      fkCol: String, dimTable: String, dimPk: String,
      dimCols: Seq[String], nBuckets: Int = 64) extends Materialize

  sealed trait OnViolation
  /** `expect_all_or_drop`: offending rows are dropped, counts reported. */
  case object DropRows extends OnViolation
  /** `expect_all_or_fail`: any offending row aborts the run. */
  case object FailRun extends OnViolation
  /** DLT `expect` (monitor mode): every row is KEPT, per-rule violation
    * counts are still reported — quality telemetry without gating. */
  case object WarnOnly extends OnViolation

  /** Execution order, per-node per-rule dropped-row counts, and — when
    * the run published a [[PipelineEpoch]] — its epoch number. */
  case class RunResult(order: Seq[String],
      violations: Map[String, Map[String, Long]],
      epoch: Option[Int] = None)

  private case class Node(name: String, inputs: Seq[String],
      expectations: Map[String, String], onViolation: OnViolation,
      materialize: Materialize,
      build: (String => DataFrame) => DataFrame)
}
