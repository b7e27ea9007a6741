package graft.sql

import org.apache.spark.sql.{GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.LongType

/** Row-level `DELETE FROM` / `UPDATE` SQL over graft snapshot tables —
  * the remaining two DML verbs next to [[MergeIntoRunner]]'s MERGE (the
  * reference platform gets all three from Delta; Spark PARSES both since
  * 3.4 — `DeleteFromTable` / `UpdateTable` — but executes them only
  * against v2 merge-capable catalogs, so a plain parquet external table
  * raises). Same lowering strategy as MERGE: a declarative rewrite of the
  * table (filter for DELETE, conditional projection for UPDATE) committed
  * through the catalog's atomic snapshot swap — versioned, time-travelable
  * and CHECK-constraint-gated like every other write.
  *
  * Semantics (Delta's):
  *   - `DELETE FROM t WHERE c`: rows where the condition is TRUE are
  *     removed; NULL/false rows stay. Returns num_affected_rows.
  *   - `UPDATE t SET x = e, ... [WHERE c]`: assignments apply to matching
  *     rows (every row when no WHERE), cast to the column's existing type;
  *     unassigned generated columns recompute from the updated values; all
  *     other columns and rows pass through. Returns num_affected_rows.
  *
  * Both lower to [[graft.catalog.Catalog.deleteWherePath]] /
  * [[graft.catalog.Catalog.updateWherePath]], the catalog API's own route:
  * its scaladoc tabulates the per-layout paths. */
object DmlRunner {

  /** The statement's target table: its name, the alias its condition and
    * values may qualify with, and its storage dir. */
  private def resolveTarget(spark: SparkSession, table
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      stmt: String) = {
    val (nameParts, alias) = MergeIntoRunner.targetNameAndAlias(table)
    (nameParts, alias.getOrElse(nameParts.last),
      GraftSql.resolveDir(spark, nameParts, stmt))
  }

  private def refreshed(spark: SparkSession, nameParts: Seq[String],
      dir: String, affected: Long): Long = {
    if (affected > 0) GraftSql.refreshTarget(spark, nameParts, dir)
    affected
  }

  /** `DELETE FROM t [AS a] WHERE cond` → rows where cond is not TRUE. */
  def delete(spark: SparkSession, d: DeleteFromTable): Long = {
    val (nameParts, alias, dir) = resolveTarget(spark, d.table, "DELETE FROM")
    refreshed(spark, nameParts, dir, graft.catalog.Catalog.deleteWherePath(
      spark, dir, GraftShims.column(d.condition), alias = Some(alias)))
  }

  /** `UPDATE t [AS a] SET x = e, ... [WHERE cond]`. */
  def update(spark: SparkSession, u: UpdateTable): Long = {
    val (nameParts, alias, dir) = resolveTarget(spark, u.table, "UPDATE")
    def keyName(e: Expression): String = e match {
      case ua: UnresolvedAttribute => ua.nameParts.last
      case a: Attribute => a.name
      case other => other.sql
    }
    refreshed(spark, nameParts, dir, graft.catalog.Catalog.updateWherePath(
      spark, dir, u.condition.map(GraftShims.column).getOrElse(lit(true)),
      u.assignments.map(a => keyName(a.key) -> GraftShims.column(a.value)),
      alias = Some(alias)))
  }
}

/** The executables the parser substitutes for raw `DeleteFromTable` /
  * `UpdateTable` plans (leaf commands — resolution is late-bound inside
  * [[DmlRunner]], the [[GraftMergeIntoCommand]] pattern). One row:
  * num_affected_rows, Delta's result shape. */
case class GraftDeleteCommand(d: DeleteFromTable) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_affected_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DmlRunner.delete(spark, d)))
}

case class GraftUpdateCommand(u: UpdateTable) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_affected_rows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(DmlRunner.update(spark, u)))
}
