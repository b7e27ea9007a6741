package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Catalog
import graft.merge.PartitionedMerge

/** Incrementally maintained materialized aggregate — the DLT/Databricks
  * materialized-view refresh the reference's gold rollups would get from
  * `CREATE MATERIALIZED VIEW` (Gold_Products.py keeps full-recompute
  * aggregates; at 100 TB a full recompute per batch re-reads the entire
  * fact history, which is exactly what this avoids).
  *
  * Only ALGEBRAIC aggregates are admitted — `count`, `sum`, `min`, `max`
  * — because their partial states merge associatively: refresh cost is
  * O(batch) + O(groups), never O(all facts ever). `avg` is `sum/count`
  * derived at read time; non-algebraic aggregates (exact distinct,
  * median) genuinely need the history and belong to a full recompute.
  *
  * Exactly-once: every refresh carries a monotonically increasing
  * `refreshId` stored in a `_graft_refresh_id` column that commits
  * ATOMICALLY with the data (same snapshot/bucket swap — there is no
  * separate marker file to crash between). A replayed batch (same or
  * older id) is a no-op, so a restarted driver can blindly re-send the
  * last batch — the Delta `txnAppId` idiom on this layout.
  *
  * Layout: `nBuckets` is the first load's; later refreshes merge through
  * `Catalog.mergePath` in the layout the state recorded. Unbucketed tables
  * snapshot-swap the whole (small) aggregate; a state bucketed on the
  * group keys rewrites ONLY buckets containing batch groups
  * ([[PartitionedMerge.prunedMerge]]) — per-batch I/O is O(touched
  * buckets), the posture for group cardinalities that are themselves
  * large (e.g. per-document stats over 10^10 documents). */
class MaterializedAgg(spark: SparkSession, cat: Catalog,
    layer: String, table: String,
    groupBy: Seq[String], measures: Seq[MaterializedAgg.Measure],
    nBuckets: Option[Int] = None) {
  import MaterializedAgg._

  require(groupBy.nonEmpty && measures.nonEmpty,
    "need at least one group column and one measure")
  require(measures.map(_.out).distinct.size == measures.size,
    "measure output names must be unique")

  private val IdCol = MaterializedAgg.RefreshIdCol
  private def path = cat.path(layer, table)

  /** Merge two states: re-aggregate with each measure's COMBINE function
    * (sum-of-sums, sum-of-counts, min-of-mins, max-of-maxs). */
  private def combine(states: DataFrame): DataFrame =
    states.groupBy(groupBy.map(col): _*)
      .agg(measures.head.combineExpr,
        measures.tail.map(_.combineExpr) :+ max(col(IdCol)).as(IdCol): _*)

  /** The last applied refresh id (high-water mark), -1 before first load.
    * Read from the committed state itself — it cannot disagree with the
    * data it guards. A retraction can legitimately EMPTY the state (every
    * group's count reached zero), which would take the in-state watermark
    * with it — and an empty state with a lost watermark re-applies a
    * crash-replayed delta as NEGATIVE ghost groups. Unbucketed writes
    * therefore also stamp the id as a commit tag (atomic with the same
    * swap — still no second commit point), read here exactly when the
    * state carries no rows to ask. A bucket swap has no tag store, so
    * bucketed states rely on the in-state column alone. */
  def lastRefreshId: Long =
    if (!exists) -1L
    else {
      val m = stateRead().agg(max(col(IdCol))).head()
      if (!m.isNullAt(0)) m.getLong(0)
      else Catalog.lastCommitTag(spark, path, WatermarkTagKey)
        .map(_.toLong).getOrElse(-1L)
    }

  private def exists: Boolean = Catalog.existsPath(spark, path)

  private def stateRead(): DataFrame =
    graft.layout.DeletionVectors.readLogical(spark, path)

  /** Apply one append batch. Returns true when applied, false when the
    * refreshId was already covered (replay — dropped whole). */
  def refresh(batch: DataFrame, refreshId: Long): Boolean =
    applyDelta(batch.groupBy(groupBy.map(col): _*)
      .agg(measures.head.partialExpr, measures.tail.map(_.partialExpr): _*),
      refreshId)

  /** Apply a STATE-SHAPED delta (group keys + measure output columns —
    * i.e. a partial state, possibly carrying NEGATED sum/count partials
    * for retraction). This is the incremental-view-maintenance seam: the
    * SQL REFRESH surface folds source deletes as negated partials through
    * here, which is sound exactly for the measures whose combine is group
    * addition (sum/count) — min/max deltas must never be negative-folded
    * (their combine is idempotent-extremal, not invertible; callers
    * enforce). `prune` drops groups matching it AFTER the combine — the
    * "count reached zero → group vanished" rule that makes retraction
    * agree with a full recompute. Same replay guard as refresh. */
  def applyDelta(delta: DataFrame, refreshId: Long,
      prune: Option[Column] = None): Boolean = {
    if (refreshId <= lastRefreshId) return false
    val p = delta.withColumn(IdCol, lit(refreshId))
    def pruned(df: DataFrame): DataFrame =
      prune.map(c => df.filter(!coalesce(c, lit(false)))).getOrElse(df)
    val wm = Some(WatermarkTagKey -> refreshId.toString)
    if (!exists) nBuckets match {
      case Some(n) => PartitionedMerge.write(pruned(p), path, groupBy, n)
      case None =>
        cat.overwriteSnapshot(pruned(p), layer, table, commitTag = wm)
    } else
      cat.merge(layer, table, p, groupBy,
        commitTag = wm.filterNot(_ =>
          graft.layout.ReadProbeCache.probe(spark, path).isBucketed))(
        (target, src) => pruned(combine(target.unionByName(src))))
    true
  }

  /** The maintained aggregate (without the refresh-id bookkeeping column). */
  def read(): DataFrame = stateRead().drop(IdCol)
}

object MaterializedAgg {
  /** The in-state refresh high-water mark column (the Delta `txnVersion`
    * idiom) — shared with the SQL materialized-view surface. */
  val RefreshIdCol = "_graft_refresh_id"

  /** Commit-tag key carrying the same watermark on unbucketed snapshot
    * swaps — survives a state that retraction legitimately emptied. */
  val WatermarkTagKey = "mv_refresh_id"

  /** An algebraic measure: `partialExpr` folds raw batch rows,
    * `combineExpr` folds partial states of the SAME output column. */
  sealed abstract class Measure(val out: String,
      val partialExpr: Column, val combineExpr: Column)
  case class CountRows(override val out: String) extends Measure(out,
    count(lit(1)).as(out), sum(col(out)).as(out))
  case class Sum(src: Column, override val out: String) extends Measure(out,
    sum(src).as(out), sum(col(out)).as(out))
  case class Min(src: Column, override val out: String) extends Measure(out,
    min(src).as(out), min(col(out)).as(out))
  case class Max(src: Column, override val out: String) extends Measure(out,
    max(src).as(out), max(col(out)).as(out))
}
