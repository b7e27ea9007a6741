package org.apache.spark.sql

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge to `private[sql]` seams needed by graft's native
  * Catalyst expressions and its MERGE INTO surface (see
  * `graft.functions.VectorFunctions`, `graft.sql.MergeIntoSql`): wrapping an
  * `Expression` in a user-facing `Column`, registering a function builder on
  * an already-built session, running a parsed `LogicalPlan` as a DataFrame,
  * and reading a table's catalog entry. The same
  * extension-package pattern every open-source Spark format layer uses
  * (Delta ships `org.apache.spark.sql.delta` for exactly these seams);
  * everything else in the engine uses public API.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def registerFunction(
      spark: SparkSession,
      id: FunctionIdentifier,
      info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
  }

  /** Analyze + wrap a logical plan as a DataFrame (`Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Rebuild a [[org.apache.spark.sql.execution.datasources.HadoopFsRelation]]
    * over an explicit surviving-file list (the data-skipping rule's seam):
    * a [[GraftPrunedFileIndex]] — a plain InMemoryFileIndex whose class
    * doubles as the already-pruned marker — replaces the original
    * location; schema is pinned so no re-inference happens. */
  def prunedFsRelation(spark: SparkSession,
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      paths: Seq[org.apache.hadoop.fs.Path])
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val idx = new GraftPrunedFileIndex(spark, paths, Some(rel.dataSchema))
    rel.copy(location = idx)(spark)
  }

  /** Rebuild a relation over its own current file list with a
    * [[GraftDvFileIndex]] — the marker `graft.layout.DvApplyRule` uses so
    * its rewritten subtree's inner scan is never rewritten again. Keeps
    * whatever pruning the incoming location already did (a
    * skipping-pruned index survives via `allFiles`). */
  def dvMarkedRelation(spark: SparkSession,
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val idx = new GraftDvFileIndex(spark,
      rel.location.inputFiles.toSeq
        .map(new org.apache.hadoop.fs.Path(_)), Some(rel.dataSchema))
    rel.copy(location = idx)(spark)
  }

  /** [[dvMarkedRelation]] for a PARTITIONED relation (the bucketed
    * layout): the index must root at the table dir so partition discovery
    * keeps yielding the partition column — an index over leaf FILES would
    * lose the `gbucket=N` values. Partition pruning still happens at
    * physical planning against this index's own discovered spec. */
  def dvMarkedPartitionedRelation(spark: SparkSession,
      rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
      root: org.apache.hadoop.fs.Path)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val idx = new GraftDvFileIndex(spark, Seq(root), None)
    rel.copy(location = idx)(spark)
  }

  /** Re-tag a batch DataFrame as a STREAMING one (`isStreaming = true`)
    * — the seam a v1 [[org.apache.spark.sql.execution.streaming.Source]]
    * needs to hand `getBatch` results to the micro-batch engine (every
    * classic file/socket source used exactly this internal). */
  def streamingFrame(sqlContext: SQLContext, df: DataFrame): DataFrame = {
    val classicCtx = sqlContext.asInstanceOf[classic.SQLContext]
    classicCtx.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse of [[streamingFrame]] — re-tag a micro-batch's streaming
    * DataFrame as a BATCH one so a v1
    * [[org.apache.spark.sql.execution.streaming.Sink]] can hand it to an
    * ordinary writer. `addBatch` receives a frame whose plan is the
    * engine's IncrementalExecution; re-planning it through a batch write
    * would re-resolve streaming leaves, so the established sink pattern
    * (memory/foreachBatch do the same) is to take the computed rows via
    * `queryExecution.toRdd` and wrap them as a plain local frame. */
  def batchFrame(sqlContext: SQLContext, df: DataFrame): DataFrame = {
    val classicCtx = sqlContext.asInstanceOf[classic.SQLContext]
    classicCtx.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The storage location of a session-catalog table; None when the name
    * is a temp view or not a catalog table. */
  def tableStorage(spark: SparkSession, nameParts: Seq[String])
      : Option[java.net.URI] = {
    val catalog = spark.sessionState.catalog
    val ident = nameParts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case _ => return None
    }
    if (catalog.isTempView(nameParts) || !catalog.tableExists(ident)) None
    else {
      val meta = catalog.getTableMetadata(ident)
      meta.storage.locationUri
    }
  }
}

/** An InMemoryFileIndex over an explicit surviving-file list. The class
  * itself is the marker that a scan has already been stats-pruned, so the
  * skipping rule never re-prunes (and never stacks indexes). */
class GraftPrunedFileIndex(spark: SparkSession,
    paths: Seq[org.apache.hadoop.fs.Path],
    schema: Option[org.apache.spark.sql.types.StructType])
  extends org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
    spark, paths, Map.empty[String, String], schema)

/** The already-DV-applied marker (`graft.layout.DvApplyRule`) — a distinct
  * class from [[GraftPrunedFileIndex]] so deletion-vector application and
  * skipping pruning compose instead of masking each other. */
class GraftDvFileIndex(spark: SparkSession,
    paths: Seq[org.apache.hadoop.fs.Path],
    schema: Option[org.apache.spark.sql.types.StructType])
  extends org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
    spark, paths, Map.empty[String, String], schema)
