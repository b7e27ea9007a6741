package graft.sql

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `MERGE INTO` SQL surface (SURVEY.md §2.5 J3-J5's SQL entry point).
  *
  * The reference drives all three Gold loads through SQL MERGE text
  * (Gold_Customers.py:75-97, Gold_Orders.py:60-81,
  * Gold_Products_No_Delta_Live.py:69-95). Vanilla Spark PARSES the
  * statement (`MergeIntoTable` has been in Catalyst since 3.0) but only
  * executes it against v2 tables with a merge-capable catalog — a plain
  * parquet external table raises. This module closes that gap Spark-first:
  * the native parser's `MergeIntoTable` is lowered onto the same join-based
  * relational program [[graft.merge.MergeEngine]] uses, over the LOGICAL
  * target read off its files (the registration's metastore holds no
  * partitions), and `Catalog.mergePath` commits it in the table's layout.
  *
  * Semantics (ANSI + the Delta extensions the reference relies on):
  *   - any number of WHEN MATCHED [AND cond] THEN UPDATE SET ... / DELETE
  *     clauses — first matching clause wins, later ones never fire;
  *   - WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (...) and
  *     INSERT * — unassigned target columns become NULL;
  *   - UPDATE SET * (assign every target column from the same-named source
  *     column);
  *   - WHEN NOT MATCHED BY SOURCE THEN UPDATE / DELETE;
  *   - MERGE WITH SCHEMA EVOLUTION INTO ...: new source columns are
  *     appended to the target as nullable before the lowering (the add-only
  *     widening rule ingest's evolvedSchema uses) — pre-existing rows read
  *     them as NULL;
  *   - a target row matching MULTIPLE source rows raises (Delta's
  *     `MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW`), plan-embedded like
  *     MergeEngine's duplicate-key guard;
  *   - assignments are cast to the target column's type.
  *
  * Scale posture: one full-outer join shuffled on the merge condition's
  * equi-keys (AQE broadcasts a small source batch) — no driver-side
  * action beyond a bucket-pruned merge's touched-bucket collect (one int
  * per bucket); the whole statement is a single distributed plan followed
  * by the commit. This is the same shape Delta's MergeIntoCommand plans
  * internally after file pruning. The cardinality guard is free at
  * scale for the common pure-equi ON condition: a target row can only
  * match multiple source rows if the source duplicates its key tuple, so
  * the guard is a window count over the SOURCE keys (small side, and hash
  * partitioned on the same keys the join shuffles on). Only a non-equi ON
  * falls back to a post-join window over per-target-row ids.
  */
object MergeIntoRunner {
  private val TM = "__graft_t_present"
  private val SM = "__graft_s_present"
  private val TID = "__graft_t_id"
  private val SID = "__graft_s_id"
  private val SCNT = "__graft_s_keycount"
  private val KEEP = "__graft_keep"

  /** When EVERY conjunct of the ON condition is `t.x = s.y` (both sides
    * qualified, one per relation), return each conjunct's (target side,
    * source side); any residual filter, unqualified attribute, or
    * non-equality returns None — it disables the source-side guard (a
    * source-key count would then over- or under-count actual matches) and
    * the bucket-pruned path. */
  private def equiKeys(m: MergeIntoTable)
      : Option[Seq[(Expression, Column)]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    val (tAlias, sAlias) = aliases(m)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // which single relation does this (sub)expression read from?
    def sideOf(e: Expression): Option[Char] = {
      val attrs = e.collect { case ua: UnresolvedAttribute => ua }
      if (attrs.isEmpty || attrs.exists(_.nameParts.size < 2)) return None
      val quals = attrs.map(_.nameParts.head)
      if (quals.forall(_.equalsIgnoreCase(tAlias))) Some('t')
      else if (sAlias.exists(a => quals.forall(_.equalsIgnoreCase(a)))) Some('s')
      else None
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(l, r) => (sideOf(l), sideOf(r)) match {
        case (Some('t'), Some('s')) => Some((l, GraftShims.column(r)))
        case (Some('s'), Some('t')) => Some((r, GraftShims.column(l)))
        case _ => None
      }
      case _ => None
    }
    if (keys.nonEmpty && keys.forall(_.isDefined)) Some(keys.flatten)
    else None
  }

  /** The target's alias (else its table name) and the source's. */
  private def aliases(m: MergeIntoTable): (String, Option[String]) = {
    val (nameParts, tAlias) = targetNameAndAlias(m.targetTable)
    (tAlias.getOrElse(nameParts.last), m.sourceTable match {
      case SubqueryAlias(ident, _) => Some(ident.name)
      case _ => None
    })
  }

  /** `Catalog.mergePath` applies [[lowered]] in the target's recorded
    * layout. A pure equi-join ON plain target columns, without WHEN NOT
    * MATCHED BY SOURCE (it changes rows the source does not name) or
    * schema evolution, is key-local: on the bucket keys it prunes. */
  def run(spark: SparkSession, m: MergeIntoTable): Unit = {
    val nameParts = targetNameAndAlias(m.targetTable)._1
    val tableName = nameParts.map(p => s"`$p`").mkString(".")
    val dir = GraftSql.resolveDir(spark, nameParts, "MERGE INTO")
    val keys = (for {
      ks <- equiKeys(m)
      if m.notMatchedBySourceActions.isEmpty && !m.withSchemaEvolution
      named = ks.collect { case (u: UnresolvedAttribute, c)
        if u.nameParts.size == 2 => (u.nameParts.last, c) }
      if named.size == ks.size
    } yield named).getOrElse(Nil)
    var evolvedCols = Array.empty[org.apache.spark.sql.types.StructField]
    graft.catalog.Catalog.mergePath(spark, dir,
      GraftShims.ofRows(spark, m.sourceTable), keys.map(_._1),
      keys.map(_._2), allowSchemaChange = m.withSchemaEvolution) { (t, s) =>
      val (merged, evolved) = lowered(spark, m, dir, t, s)
      evolvedCols = evolved
      merged
    }
    // Schema evolution must reach the REGISTRATION, not just the files: a
    // v1 external table pins its metastore schema at CREATE time, so
    // without ALTER TABLE the next spark.table / MERGE would still see the
    // old shape — and a later non-evolving merge would silently drop the
    // new column from the snapshot it rewrites.
    if (evolvedCols.nonEmpty)
      spark.sql(s"ALTER TABLE $tableName ADD COLUMNS (" +
        evolvedCols.map(f => s"`${f.name}` ${f.dataType.sql}")
          .mkString(", ") + ")")
    spark.catalog.refreshTable(tableName)
  }

  /** The statement's merged rows over `targetDF` (the logical target:
    * deletion vectors applied, no bucket column) and the source, with the
    * columns schema evolution added — the write-back is [[run]]'s, so
    * plan-quality specs can assert the merged frame's physical shape. */
  private[graft] def lowered(spark: SparkSession, m: MergeIntoTable,
      dir: String, targetDF: DataFrame, source: DataFrame)
      : (DataFrame, Array[org.apache.spark.sql.types.StructField]) = {
    // WITH SCHEMA EVOLUTION (Delta's merge extension): widen the target with
    // source columns it lacks, appended as nullable — the same add-only rule
    // ingest's evolvedSchema applies (types come from the source; existing
    // columns keep their pinned type). Pre-existing target rows read the new
    // columns as NULL; the name diff is case-insensitive unless
    // spark.sql.caseSensitive. Without the clause, the target schema is law
    // and extra source columns are simply never projected.
    val baseSchema = targetDF.schema
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def inTarget(n: String): Boolean =
      if (caseSensitive) baseSchema.fieldNames.contains(n)
      else baseSchema.fieldNames.exists(_.equalsIgnoreCase(n))
    val evolvedCols =
      if (!m.withSchemaEvolution) Array.empty[org.apache.spark.sql.types.StructField]
      else source.schema.fields
        .filterNot(f => inTarget(f.name)).map(_.copy(nullable = true))
    val targetSchema =
      org.apache.spark.sql.types.StructType(baseSchema.fields ++ evolvedCols)
    val tAliasName = aliases(m)._1

    // Pure-equi ON (every conjunct `t.x = s.y`)? Then a target row matches
    // >1 source rows iff the source duplicates its key tuple — the guard
    // can count over the source keys BEFORE the join (small side, same
    // hash partitioning as the join) instead of windowing the full joined
    // output by target-row id.
    val srcEquiKeys: Option[Seq[Column]] = equiKeys(m).map(_.map(_._2))

    // Marker columns tell the three MERGE branches apart after the
    // full-outer join; the per-row ids feed the non-equi guard fallback.
    val t0 = targetDF.alias(tAliasName).withColumn(TM, lit(true))
    val t = if (srcEquiKeys.isDefined) t0
            else t0.withColumn(TID, monotonically_increasing_id())
    val s0 = source.withColumn(SM, lit(true))
    val s = srcEquiKeys match {
      case Some(keys) =>
        s0.withColumn(SCNT, count(lit(1)).over(Window.partitionBy(keys: _*)))
      case None => s0.withColumn(SID, monotonically_increasing_id())
    }

    val joined = t.join(s, GraftShims.column(m.mergeCondition), "full_outer")
    val tm = col(TM).isNotNull
    val sm = col(SM).isNotNull

    def condCol(c: Option[Expression]): Column =
      c.map(GraftShims.column).getOrElse(lit(true))

    // First-clause-wins chain: WHEN order is significant in MERGE.
    def chain(actions: Seq[MergeAction], value: MergeAction => Column,
        default: Column): Column =
      actions.foldLeft(Option.empty[Column]) { (acc, a) =>
        Some(acc match {
          case None => when(condCol(a.condition), value(a))
          case Some(prev) => prev.when(condCol(a.condition), value(a))
        })
      }.map(_.otherwise(default)).getOrElse(default)

    def assignmentKeyName(e: Expression): String = e match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.nameParts.last
      case a: Attribute => a.name
      case other => other.sql
    }

    def assigned(assigns: Seq[Assignment], c: String): Option[Column] =
      assigns.collectFirst {
        case a if assignmentKeyName(a.key).equalsIgnoreCase(c) =>
          GraftShims.column(a.value)
      }

    // A generated column the firing UPDATE or INSERT leaves unassigned is
    // recomputed from the row's new values (Delta's rule, and
    // TableRules.updateImage's): the projection flags those rows, and a
    // second projection evaluates the definition over the merged columns.
    // Carrying the target's old value instead would hand the write gate a
    // stale "provided" value that fails its consistency check.
    val gens = graft.catalog.TableRules.generated(spark, dir).filter {
      case (n, _) => targetSchema.fieldNames.exists(_.equalsIgnoreCase(n)) }
    def genFlag(n: String) = s"__graft_regen_$n"
    val regen = gens.map { case (n, _) =>
      def unassigned(assigns: Seq[Assignment]) = lit(assigned(assigns, n).isEmpty)
      when(tm && sm, chain(m.matchedActions, {
        case u: UpdateAction => unassigned(u.assignments)
        case _ => lit(false)
      }, lit(false)))
        .when(!tm && sm, chain(m.notMatchedActions, {
          case i: InsertAction => unassigned(i.assignments)
          case _ => lit(false)
        }, lit(false)))
        .otherwise(chain(m.notMatchedBySourceActions, {
          case u: UpdateAction => unassigned(u.assignments)
          case _ => lit(false)
        }, lit(false)))
        .as(genFlag(n))
    }

    val outCols = targetSchema.fields.map { f =>
      val c = f.name
      // an evolved column has no target-side value: pre-existing rows read NULL
      def tCol: Column = if (inTarget(c)) t(c) else lit(null)
      val matchedVal = chain(m.matchedActions, {
        case u: UpdateAction => assigned(u.assignments, c).getOrElse(tCol)
        case _: UpdateStarAction => s(c)
        case _: DeleteAction => tCol // value irrelevant: row dropped by KEEP
        case other => unsupported(other)
      }, tCol)
      val insertVal = chain(m.notMatchedActions, {
        case i: InsertAction =>
          assigned(i.assignments, c).getOrElse(lit(null))
        case _: InsertStarAction => s(c)
        case other => unsupported(other)
      }, lit(null))
      val bySourceVal = chain(m.notMatchedBySourceActions, {
        case u: UpdateAction => assigned(u.assignments, c).getOrElse(tCol)
        case _: DeleteAction => tCol
        case other => unsupported(other)
      }, tCol)
      when(tm && sm, matchedVal)
        .when(!tm && sm, insertVal)
        .otherwise(bySourceVal)
        .cast(f.dataType).as(c)
    }

    val matchedKeep = chain(m.matchedActions,
      { case _: DeleteAction => lit(false); case _ => lit(true) }, lit(true))
    val insertKeep = chain(m.notMatchedActions, _ => lit(true), lit(false))
    val bySourceKeep = chain(m.notMatchedBySourceActions,
      { case _: DeleteAction => lit(false); case _ => lit(true) }, lit(true))

    // Cardinality guard: >1 source match for one target row would fan the
    // row out into several post-merge versions — raise instead, exactly as
    // Delta does. Equi path: the pre-join source key count; non-equi
    // fallback: a post-join window by target-row id (unmatched-source rows
    // get their own negative partition key so the window doesn't funnel
    // them into one giant null partition).
    val multiMatch = srcEquiKeys match {
      case Some(_) => tm && sm && col(SCNT) > 1
      case None =>
        val guardPart = coalesce(col(TID), -col(SID) - lit(1L))
        val srcMatches =
          sum(when(tm && sm, lit(1)).otherwise(lit(0)))
            .over(Window.partitionBy(guardPart))
        tm && sm && srcMatches > 1
    }
    val keepRaw = when(tm && sm, matchedKeep)
      .when(!tm && sm, insertKeep)
      .otherwise(bySourceKeep)
    val keep = when(multiMatch,
      raise_error(lit("MERGE INTO: a target row matched multiple source " +
        "rows — dedupe the source or tighten the ON condition"))
        .cast("boolean"))
      .otherwise(keepRaw)

    val kept = joined
      .select(outCols.toSeq ++ regen :+ keep.as(KEEP): _*)
      .filter(col(KEEP)).drop(KEEP)
    val merged = gens.foldLeft(kept) { case (df, (n, e)) =>
      val f = targetSchema.fields.find(_.name.equalsIgnoreCase(n)).get
      df.withColumn(f.name, when(col(genFlag(n)), expr(e).cast(f.dataType))
        .otherwise(col(f.name))).drop(genFlag(n))
    }

    (merged, evolvedCols)
  }

  private def unsupported(a: MergeAction): Nothing =
    throw new IllegalArgumentException(
      s"unsupported MERGE action: ${a.getClass.getSimpleName}")

  private[sql] def targetNameAndAlias(p: LogicalPlan): (Seq[String], Option[String]) =
    p match {
      case SubqueryAlias(ident, u: UnresolvedRelation) =>
        (u.multipartIdentifier, Some(ident.name))
      case u: UnresolvedRelation => (u.multipartIdentifier, None)
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE INTO target shape: ${other.nodeName}")
    }
}

/** The executable the parser substitutes for a raw `MergeIntoTable`: a leaf
  * command, so the analyzer treats the held (pre-resolution) merge plan as
  * opaque — resolution happens inside [[MergeIntoRunner]] against the live
  * session, the same late-binding a v2 merge-capable catalog performs. */
case class GraftMergeIntoCommand(merge: MergeIntoTable)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    MergeIntoRunner.run(spark, merge)
    Seq.empty
  }
}

/** `DESCRIBE HISTORY <table>` — Delta's syntax, unknown to Spark's
  * grammar, so it is intercepted as text before delegation. One row per
  * readable version of the snapshot log, newest first. */
case class GraftDescribeHistoryCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types._
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    Seq(
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("is_current", BooleanType, nullable = false)(),
      AttributeReference("snapshot_time", TimestampType)(),
      AttributeReference("num_entries", IntegerType, nullable = false)(),
      AttributeReference("size_bytes", LongType, nullable = false)(),
      AttributeReference("operation", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    graft.catalog.Catalog.historyRows(spark,
      GraftSql.resolveDir(spark, nameParts, "DESCRIBE HISTORY"))
      .sortBy(-_._1)
      .map { case (v, cur, ts, n, sz, op) => Row(v, cur, ts, n, sz, op) }
  }
}

/** `DESCRIBE DETAIL <table>` — Delta's one-row table profile, extended
  * with this engine's table-level state: snapshot version, CHECK
  * constraints, and data-skipping stat columns. Driver-side listings
  * only (file metadata, the two sibling manifests). */
case class GraftDescribeDetailCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types._
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("num_files", IntegerType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("num_versions", IntegerType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("generated_columns", StringType, nullable = false)(),
    AttributeReference("identity_columns", StringType, nullable = false)(),
    AttributeReference("skipping_columns", StringType, nullable = false)(),
    AttributeReference("skipping_resolution", StringType, nullable = false)(),
    AttributeReference("num_dv_positions", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "DESCRIBE DETAIL")
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var nFiles = 0; var bytes = 0L
    val q = f.makeQualified(p).toString
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      val rel = f.makeQualified(st.getPath).toString.stripPrefix(q)
      if (!n.startsWith("_") && !n.startsWith(".") &&
          !rel.contains("/_")) { // skip _skipping/ and friends
        nFiles += 1; bytes += st.getLen
      }
    }
    val hist = graft.catalog.Catalog.historyRows(spark, dir)
    val cons = graft.catalog.TableRules.constraints(spark, dir)
      .map { case (n, e) => s"$n CHECK ($e)" }.mkString("; ")
    val gens = graft.catalog.TableRules.generated(spark, dir)
      .map { case (n, e) => s"$n AS ($e)" }.mkString("; ")
    val idents = graft.catalog.TableRules.identity(spark, dir)
      .map { case (n, s, k) => s"$n IDENTITY (START WITH $s INCREMENT BY $k)" }
      .mkString("; ")
    val skip = graft.layout.DataSkipping.analyzedColumns(spark, dir)
      .map { case (cols, blooms, _, _) =>
        (cols.map(c => if (blooms.contains(c)) s"$c(bloom)" else c))
          .mkString(", ")
      }.getOrElse("")
    Seq(Row("parquet", dir, nFiles, bytes,
      hist.filter(_._2).map(_._1).headOption.getOrElse(1),
      hist.length, cons, gens, idents, skip,
      // driver vs distributed manifest resolution (the Delta
      // large-checkpoint threshold, observable per VERDICT r7 #3)
      graft.layout.DataSkipping.resolutionMode(spark, dir),
      // the merge-on-read debt awaiting OPTIMIZE (Delta's DV metrics)
      graft.layout.DeletionVectors.dvRowCount(spark, dir)))
  }
}

/** `OPTIMIZE <table> [ZORDER BY (c1, c2, ...)]` — Delta's small-file
  * compaction statement (not in Spark's grammar). Packs the table into
  * ~target-sized files as a new version; with ZORDER BY the rewrite also
  * Morton-clusters rows on the named columns ([[graft.layout.ZOrder]]) so
  * every file's min/max footer range is tight on all of them. Bucketed
  * tables compact per bucket. The target comes from
  * `spark.graft.optimize.targetFileSize` (default 128 MiB). */
case class GraftOptimizeCommand(nameParts: Seq[String],
    zorderBy: Seq[String] = Nil,
    where: Option[String] = None) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "OPTIMIZE")
    val target = spark.conf
      .get("spark.graft.optimize.targetFileSize", (128L * 1024 * 1024).toString)
      .toLong
    where match {
      case Some(pred) =>
        // Delta's partition-scoped OPTIMIZE; ZORDER clusters across the
        // whole table and contradicts a partition-local rewrite
        require(zorderBy.isEmpty,
          "OPTIMIZE ... WHERE cannot combine with ZORDER BY")
        graft.catalog.Catalog.compactWherePath(spark, dir, pred)
      case None =>
        graft.catalog.Catalog.compactPath(spark, dir, target,
          zorderBy = zorderBy)
    }
    GraftSql.refreshTarget(spark, nameParts, dir)
    Seq.empty
  }
}

/** `COPY INTO <table> FROM '<path>' FILEFORMAT = <fmt>
  *  [FORMAT_OPTIONS ('k' = 'v', ...)]` — Databricks SQL's idempotent
  * batch file ingestion, lowered onto [[graft.ingest.CopyInto]]. One
  * result row mirroring the platform's counters. */
case class GraftCopyIntoCommand(nameParts: Seq[String], src: String,
    format: String, options: Map[String, String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_files_loaded", LongType, nullable = false)(),
    AttributeReference("num_rows_loaded", LongType, nullable = false)(),
    AttributeReference("num_files_skipped", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "COPY INTO")
    val r = graft.ingest.CopyInto.run(spark, dir, src, format, options)
    GraftSql.refreshTarget(spark, nameParts, dir)
    Seq(Row(r.filesLoaded, r.rowsLoaded, r.filesSkipped))
  }
}

/** `CREATE TABLE <dst> DEEP|SHALLOW CLONE <src>` — Delta's clone
  * statements: DEEP is an independent physical copy of the live snapshot
  * with fresh history; SHALLOW shares the source's data files (hard-link
  * tree on link-capable filesystems — see [[graft.catalog.Catalog!.shallowClone]]).
  * The destination's directory derives from the warehouse the source
  * lives in (`<warehouse>/<layer>/<table>`); it is registered in the
  * session catalog when the source is. */
case class GraftCloneCommand(dstParts: Seq[String],
    srcParts: Seq[String], version: Option[Int] = None,
    shallow: Boolean = false)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val kind = if (shallow) "SHALLOW CLONE" else "DEEP CLONE"
    require(dstParts.length == 2,
      s"$kind destination must be layer.table, got " +
        dstParts.mkString("."))
    val srcDir = GraftSql.resolveDir(spark, srcParts, kind)
    val warehouse = new org.apache.hadoop.fs.Path(srcDir)
      .getParent.getParent
    val dstDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse, dstParts.head),
      dstParts(1)).toString
    graft.catalog.Catalog.clonePath(spark, srcDir, dstDir, version, shallow)
    spark.sql(s"CREATE SCHEMA IF NOT EXISTS ${dstParts.head}")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS ${dstParts.mkString(".")}
                  USING parquet LOCATION '$dstDir'""")
    Seq.empty
  }
}

/** `CREATE [OR REPLACE] TABLE <layer.table> AS <select>` — versioned CTAS.
  * Spark's native CTAS writes a bare parquet directory outside the version
  * log; this lowering materializes the query through the catalog's swap
  * protocol, so the created table is born versioned (time travel, RESTORE,
  * CDF, DESCRIBE HISTORY from version 1) and registered in the session
  * catalog. `OR REPLACE` commits the query's rows as the existing table's
  * next version — schema change allowed, Delta's REPLACE TABLE semantics —
  * and rebuilds the registration when the schema moved.
  *
  * The physical location derives from the warehouse of the FIRST
  * graft-managed table the query reads (same rule materialized views use):
  * SQL has no warehouse handle, and the sources say where the data lives.
  * A query over only raw paths or temp views has no anchor → error. */
case class GraftCtasCommand(nameParts: Seq[String], replace: Boolean,
    selectSql: String, partitionBy: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(nameParts.length == 2,
      s"CTAS target must be layer.table, got ${nameParts.mkString(".")}")
    val df = spark.sql(selectSql)
    val hconf = spark.sparkContext.hadoopConfiguration
    val srcDirs = df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.headOption.map(_.toString)
          case _ => None
        }
    }.flatten
    val anchor = srcDirs.find { d =>
      val p = new org.apache.hadoop.fs.Path(d + ".history")
      p.getFileSystem(hconf).exists(p)
    }.getOrElse(throw new IllegalArgumentException(
      "CTAS needs at least one graft-managed source table to locate the " +
        s"warehouse; the query reads only ${srcDirs.mkString(", ")}"))
    val warehouse = new org.apache.hadoop.fs.Path(anchor)
      .getParent.getParent.toString
    val cat = new graft.catalog.Catalog(spark, warehouse)
    val (layer, table) = (nameParts.head, nameParts(1))
    val dir = cat.path(layer, table)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    val exists = fs.exists(new org.apache.hadoop.fs.Path(dir))
    if (exists && !replace)
      throw new IllegalArgumentException(
        s"CTAS target exists: $dir (use CREATE OR REPLACE TABLE)")
    // REPLACE on a materialized view would clobber maintained state while
    // its definition sidecar and cursors stay live — Delta refuses REPLACE
    // across table kinds for the same reason
    require(!fs.exists(new org.apache.hadoop.fs.Path(
      MaterializedViewSql.defFile(dir))),
      s"${nameParts.mkString(".")} is a materialized view; " +
        "DROP MATERIALIZED VIEW it first")
    if (exists)
      graft.catalog.Catalog.overwritePath(spark, df, dir,
        partitionBy = partitionBy, allowSchemaChange = true,
        operation = "REPLACE TABLE AS SELECT")
    else
      graft.catalog.Catalog.overwritePath(spark, df, dir,
        partitionBy = partitionBy, operation = "CREATE TABLE AS SELECT")
    spark.sql(s"CREATE SCHEMA IF NOT EXISTS $layer")
    if (exists) GraftSql.reRegister(spark, nameParts, dir)
    spark.sql(s"""CREATE TABLE IF NOT EXISTS ${nameParts.mkString(".")}
                  USING parquet LOCATION '$dir'""")
    spark.catalog.refreshByPath(dir)
    Seq.empty
  }
}

/** `INSERT INTO / INSERT OVERWRITE <t> [(cols)] [BY NAME] <query>` over a
  * graft table. Spark's own v1 insert writes files into the directory IN
  * PLACE — bypassing the version log, CHECK constraints, and generated
  * columns; lowering onto [[graft.catalog.Catalog.appendPath]] /
  * `overwritePath` makes every insert a real constraint-gated version.
  * Column resolution is Delta's: an explicit column list (or BY NAME)
  * matches by name with absent target columns going NULL; positional
  * inserts must carry either every target column or every non-generated
  * one. Generated columns may be omitted (computed at write) or provided
  * (validated at write). */
case class GraftInsertCommand(nameParts: Seq[String],
    userCols: Seq[String], query: LogicalPlan, overwrite: Boolean,
    byName: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "INSERT")
    val target = spark.read.parquet(dir).schema
    val gens = graft.catalog.TableRules.generated(spark, dir)
      .map(_._1.toLowerCase).toSet
    val idents = graft.catalog.TableRules.identity(spark, dir)
      .map(_._1.toLowerCase).toSet
    // project onto the target schema: provided columns cast to the target
    // type, absent plain columns go NULL, absent GENERATED/IDENTITY
    // columns stay absent so the write path computes them. ALWAYS
    // semantics: an identity column can never be provided by an INSERT.
    def project(d: DataFrame): DataFrame = {
      d.columns.foreach { c =>
        require(!idents(c.toLowerCase),
          s"$c is GENERATED ALWAYS AS IDENTITY on " +
            s"${nameParts.mkString(".")} — INSERT cannot provide values " +
            "for it")
        require(target.fields.exists(_.name.equalsIgnoreCase(c)),
          s"INSERT column $c is not a column of ${nameParts.mkString(".")} " +
            s"(have: ${target.fieldNames.mkString(", ")})")
      }
      val cols = target.fields.flatMap { f =>
        d.columns.find(_.equalsIgnoreCase(f.name)) match {
          case Some(c) => Some(d(c).cast(f.dataType).as(f.name))
          case None if gens(f.name.toLowerCase) ||
                       idents(f.name.toLowerCase) => None
          case None => Some(lit(null).cast(f.dataType).as(f.name))
        }
      }
      d.select(cols.toSeq: _*)
    }
    val src = GraftShims.ofRows(spark, query)
    val aligned =
      if (userCols.nonEmpty) {
        require(src.columns.length == userCols.length,
          s"INSERT column list has ${userCols.length} columns but the " +
            s"query produces ${src.columns.length}")
        project(src.toDF(userCols: _*))
      } else if (byName) project(src)
      else {
        val writable = target.fields.filterNot(f =>
          gens(f.name.toLowerCase) || idents(f.name.toLowerCase))
        if (src.columns.length == target.fields.length &&
            idents.isEmpty)
          project(src.toDF(target.fields.map(_.name).toSeq: _*))
        else {
          require(src.columns.length == writable.length,
            s"positional INSERT needs ${writable.length} columns " +
              s"(generated/identity columns are assigned at write), got " +
              s"${src.columns.length}")
          project(src.toDF(writable.map(_.name).toSeq: _*))
        }
      }
    if (overwrite)
      graft.catalog.Catalog.overwritePath(spark, aligned, dir,
        operation = "INSERT OVERWRITE")
    else
      graft.catalog.Catalog.appendPath(spark, aligned, dir)
    GraftSql.refreshTarget(spark, nameParts, dir)
    Seq.empty
  }
}

/** `INSERT INTO <t> REPLACE WHERE <cond> <query>` — Databricks/Delta's
  * predicate-scoped atomic replacement: rows matching the predicate are
  * deleted and the query's rows inserted, as ONE versioned commit
  * through [[graft.catalog.Catalog.replaceWherePath]] (which holds the
  * rules and picks the layout's path). This command only aligns the
  * query's columns to the table's, INSERT's positional rule: all of the
  * logical columns, or all but the generated ones (the write gate
  * computes those). */
case class GraftReplaceWhereCommand(nameParts: Seq[String], cond: String,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "REPLACE WHERE")
    val targetFields = graft.layout.DeletionVectors.readLogical(spark, dir)
      .schema.fields.toSeq
    val gens = graft.catalog.TableRules.generated(spark, dir)
    val src = GraftShims.ofRows(spark, query)
    val writable = targetFields.filterNot(f =>
      gens.exists(_._1.equalsIgnoreCase(f.name)))
    val fields =
      if (src.columns.length == targetFields.length) targetFields
      else if (src.columns.length == writable.length) writable
      else throw new IllegalArgumentException(
        s"REPLACE WHERE insert needs ${targetFields.length} columns " +
          s"(or ${writable.length} skipping generated), got " +
          s"${src.columns.length}")
    val named = src.toDF(fields.map(_.name): _*)
    val aligned = named.select(fields.map(f =>
      named(f.name).cast(f.dataType).as(f.name)): _*)
    graft.catalog.Catalog.replaceWherePath(spark, dir, expr(cond), aligned)
    GraftSql.refreshTarget(spark, nameParts, dir)
    Seq.empty
  }
}

/** `ALTER TABLE <t> RENAME COLUMN a TO b` over a graft table. Spark
  * PARSES this (v2 grammar) but executes it only against v2 catalogs;
  * here it lowers onto the catalog's versioned rewrite
  * ([[graft.catalog.Catalog.renameColumnPath]]) and the v1 registration
  * is rebuilt (its metastore schema is pinned at CREATE time). */
case class GraftRenameColumnCommand(nameParts: Seq[String],
    oldName: String, newName: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "RENAME COLUMN")
    graft.catalog.Catalog.renameColumnPath(spark, dir, oldName, newName)
    GraftSql.reRegister(spark, nameParts, dir)
    Seq.empty
  }
}

/** `ALTER TABLE <t> DROP COLUMN c` / `DROP COLUMNS (a, b)` over a graft
  * table — same lowering as rename. */
case class GraftDropColumnsCommand(nameParts: Seq[String],
    cols: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "DROP COLUMN")
    graft.catalog.Catalog.dropColumnsPath(spark, dir, cols)
    GraftSql.reRegister(spark, nameParts, dir)
    Seq.empty
  }
}

/** `ANALYZE TABLE <t> COMPUTE SKIPPING STATISTICS FOR COLUMNS (a, b)
  *  [BLOOM (c, d)]` — stats collection for file-level data skipping
  * ([[graft.layout.DataSkipping]]). Distinct from Spark's own
  * `ANALYZE TABLE … COMPUTE STATISTICS` (CBO stats), which still parses
  * natively. One row: the number of data files profiled. */
case class GraftAnalyzeSkippingCommand(nameParts: Seq[String],
    cols: Seq[String], bloomCols: Seq[String]) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.IntegerType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_files", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "ANALYZE")
    Seq(Row(graft.layout.DataSkipping.analyze(spark, dir, cols, bloomCols)))
  }
}

/** `ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<expr>)` — Delta's
  * constraint DDL (OSS Spark's v1 grammar has no CHECK constraints).
  * Existing rows are validated first; afterwards every snapshot write
  * through the catalog enforces the predicate (NULL passes — SQL
  * standard). */
case class GraftAddConstraintCommand(nameParts: Seq[String],
    constraint: String, check: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "ADD CONSTRAINT")
    graft.catalog.Catalog.addConstraintPath(spark, dir, constraint, check)
    Seq.empty
  }
}

/** `ALTER TABLE <t> ADD COLUMN <c> BIGINT GENERATED ALWAYS AS IDENTITY
  *  [(START WITH n INCREMENT BY k)]` — Delta's identity column DDL
  * (Spark's grammar reserves identity for v2 catalogs). Existing rows are
  * materialized as a new version; later writes assign above the
  * column-pruned max watermark. */
case class GraftAddIdentityCommand(nameParts: Seq[String], colName: String,
    start: Long, step: Long) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "ADD IDENTITY COLUMN")
    graft.catalog.Catalog.addIdentityColumnPath(spark, dir, colName, start,
      step)
    val name = nameParts.map(p => s"`$p`").mkString(".")
    spark.sql(s"ALTER TABLE $name ADD COLUMNS (`$colName` BIGINT)")
    spark.catalog.refreshTable(nameParts.mkString("."))
    Seq.empty
  }
}

/** `ALTER TABLE <t> SET TBLPROPERTIES
  *  ('graft.enableDeletionVectors' = 'true'|'false')` — Delta's
  * deletion-vector switch (`delta.enableDeletionVectors`), scoped to the
  * one property graft understands. With it on, `DELETE FROM` / `UPDATE`
  * become merge-on-read position commits ([[graft.layout.DeletionVectors]]);
  * off returns future statements to copy-on-write (existing sidecars stay
  * applied until OPTIMIZE materializes them). */
case class GraftSetDvModeCommand(nameParts: Seq[String],
    enabled: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "SET TBLPROPERTIES")
    if (enabled) graft.layout.DeletionVectors.enable(spark, dir)
    else graft.layout.DeletionVectors.disable(spark, dir)
    Seq.empty
  }
}

/** `REORG TABLE <t> APPLY (PURGE)` — Delta's statement for folding
  * deletion vectors into rewritten files without changing layout policy.
  * No-op (no new version) when the table carries no sidecar. */
case class GraftReorgPurgeCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "REORG TABLE")
    graft.layout.DeletionVectors.materialize(spark, dir)
    GraftSql.refreshTarget(spark, nameParts, dir)
    Seq.empty
  }
}

/** `ALTER TABLE <t> DROP CONSTRAINT <name>`. */
case class GraftDropConstraintCommand(nameParts: Seq[String],
    constraint: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "DROP CONSTRAINT")
    graft.catalog.Catalog.dropConstraintPath(spark, dir, constraint)
    Seq.empty
  }
}

/** `VACUUM <table> [DRY RUN]` — Delta's syntax. One row per reclaimed
  * (or, DRY RUN, reclaimable) path. */
/** `SHOW PARTITIONS <t>` over a graft-registered path table (Spark's
  * native command works only for catalog-partitioned tables): one row
  * per leaf partition in Spark's `c1=v1/c2=v2` rendering, discovered
  * from the directory tree — metadata-only, no data read. Bucketed
  * layouts report their live bucket directories the same way;
  * unpartitioned tables are rejected with Spark's own wording. */
/** `SHOW TBLPROPERTIES <table> [('key')]` over a graft table — Delta
  * surfaces its table properties here; this engine's equivalent
  * material is the COMMIT TAGS carried on the live snapshot: operator
  * bounds (`ivf.maxList` — the index skew bound, VERDICT r11 #8),
  * materialized-view refresh watermarks, streaming exactly-once batch
  * markers, and the `operation` stamp. With `('key')` the single value
  * is returned (Spark's native one-key shape); an absent key yields an
  * empty result rather than an error, matching a property-less table.
  * Metadata-only: one bounded `listStatus` of the live dir. */
case class GraftShowTblPropertiesCommand(nameParts: Seq[String],
    key: Option[String]) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "SHOW TBLPROPERTIES")
    val tags = graft.catalog.Catalog.listCommitTags(spark, dir)
    key.fold(tags)(k => tags.filter(_._1 == k))
      .map { case (k, v) => Row(k, v) }
  }
}

/** `SHOW ENGINE HEALTH [FOR <table>]` — the degradation surface
  * ([[graft.Health]]): non-atomic-publish count, bench fence status,
  * epoch-pin cache size, declared graph bounds; with `FOR`, the
  * table's epoch-pinned snapshot versions. Metadata-only. */
case class GraftShowEngineHealthCommand(nameParts: Option[Seq[String]])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = nameParts.map(np =>
      GraftSql.resolveDir(spark, np, "SHOW ENGINE HEALTH"))
    graft.Health.rows(spark, dir).map { case (k, v) => Row(k, v) }
  }
}

case class GraftShowPartitionsCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("partition", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "SHOW PARTITIONS")
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path): Seq[String] = {
      val sub = f.listStatus(d).filter { s =>
        val n = s.getPath.getName
        s.isDirectory && n.contains("=") &&
          !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getPath.getName)
      if (sub.isEmpty) Seq("")
      else sub.toSeq.flatMap { s =>
        walk(s.getPath).map { rest =>
          if (rest.isEmpty) s.getPath.getName
          else s.getPath.getName + "/" + rest
        }
      }
    }
    val parts = if (f.exists(p)) walk(p).filter(_.nonEmpty) else Nil
    if (parts.isEmpty)
      throw new IllegalArgumentException(
        s"SHOW PARTITIONS is not allowed on a table that is not " +
          s"partitioned: ${nameParts.mkString(".")}")
    parts.sorted.map(Row(_))
  }
}

/** `VACUUM <table> [RETAIN n VERSIONS] [DRY RUN]` — reclaim staging
  * leftovers and history versions past the retention window (Delta's
  * VACUUM, with the retention expressed in snapshot VERSIONS — this
  * engine's log is version-addressed, not timestamp-addressed). DRY RUN
  * lists what would go without deleting; RETAIN defaults to the
  * catalog's keepVersions (10). `VERSION AS OF` within the retained
  * window keeps reading (MergeSqlSpec pins the lifecycle). */
case class GraftVacuumCommand(nameParts: Seq[String],
    keepVersions: Option[Int] = None,
    dryRun: Boolean = false) extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.types.StringType
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "VACUUM")
    graft.catalog.Catalog.vacuumPath(spark, dir,
      keepVersions = keepVersions.getOrElse(10), dryRun = dryRun).map(Row(_))
  }
}

/** `RESTORE TABLE <t> TO VERSION AS OF n | TIMESTAMP AS OF 'ts'` —
  * Delta's syntax: the resolved version's contents become the live
  * snapshot, committed as a NEW version (the restored-from state stays in
  * the log). Timestamps resolve to the newest version committed at or
  * before them, session time zone governing the string. */
case class GraftRestoreCommand(nameParts: Seq[String],
    version: Option[Int], timestamp: Option[String] = None)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val dir = GraftSql.resolveDir(spark, nameParts, "RESTORE")
    val v = version.getOrElse(
      graft.catalog.Catalog.resolveTimestampVersion(spark, dir,
        GraftSql.tsToMillis(spark, timestamp.get)))
    graft.catalog.Catalog.restorePath(spark, dir, v)
    GraftSql.refreshTarget(spark, nameParts, dir)
    Seq.empty
  }
}

/** The extension-session entry point: a delegating parser that runs every
  * statement through [[GraftSql.intercept]] (identifiers and sub-queries
  * parsed by `delegate`) and lowers anything else with [[GraftSql.lower]].
  * Everything that is not a whole statement (expressions, identifiers,
  * types) is the delegate's. [[GraftSql.sql]] is the other entry point,
  * for sessions built without the extension; both share one statement
  * table and one lowering, so the two cannot disagree on a statement. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  private def parseOrIntercept(sqlText: String,
      parse: String => LogicalPlan): LogicalPlan =
    GraftSql.intercept(session, delegate, sqlText).getOrElse(
      GraftSql.lower(session,
        parse(GraftSql.lowerQualify(sqlText).getOrElse(sqlText))))
  override def parsePlan(sqlText: String): LogicalPlan =
    parseOrIntercept(sqlText, delegate.parsePlan)
  override def parsePlanWithParameters(sqlText: String,
      ctx: ParameterContext): LogicalPlan =
    parseOrIntercept(sqlText, delegate.parsePlanWithParameters(_, ctx))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

/** The engine's SQL statement surface: one statement table
  * ([[GraftSql.intercept]]) and one lowering ([[GraftSql.lower]]) behind
  * two entry points.
  *  - `spark.sql` on a session built with [[graft.functions.GraftExtensions]]
  *    reaches them through [[GraftSqlParser]];
  *  - [[GraftSql.sql]] reaches them on any session, including one built
  *    without the extension (a parser cannot be injected into an
  *    already-built `SessionState`).
  * Both entry points produce the same command for the same text. */
object GraftSql {
  import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel

  /** Anchored full-statement matches so a string literal mentioning one of
    * these statements can never trigger the interception. */
  private[sql] val DescribeHistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+([\w.`]+)\s*;?\s*$""".r
  private[sql] val DescribeDetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+([\w.`]+)\s*;?\s*$""".r
  private[sql] val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+([\w.`]+)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$""".r

  /** `ZORDER BY (a, b)` column list → trimmed, backtick-stripped names. */
  private[sql] def splitZOrderCols(group: String): Seq[String] =
    Option(group).toSeq.flatMap(_.split(","))
      .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)

  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** First occurrence of `word` (whole-word, case-insensitive) at paren
    * depth 0, outside '…'/"…"/`…` literals and `--` comments, at or after
    * `from`; -1 if none. The scanner QUALIFY lowering is built on. */
  private[sql] def topLevelIndexOf(text: String, word: String,
      from: Int): Int = {
    val n = text.length
    var i = math.max(from, 0)
    var depth = 0
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        i += 1
        while (i < n && text.charAt(i) != c) i += 1
      } else if (c == '-' && i + 1 < n && text.charAt(i + 1) == '-') {
        while (i < n && text.charAt(i) != '\n') i += 1
      } else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 &&
          text.regionMatches(true, i, word, 0, word.length) &&
          (i == 0 || !isIdentChar(text.charAt(i - 1))) &&
          (i + word.length >= n || !isIdentChar(text.charAt(i + word.length))))
        return i
      i += 1
    }
    -1
  }

  /** QUALIFY-clause lowering (Databricks/Snowflake/DuckDB surface; Spark's
    * grammar has none): `… SELECT <sel> FROM <rest> QUALIFY <pred>
    * [ORDER BY/LIMIT/OFFSET <tail>]` rewrites to
    * {{{
    * … SELECT * EXCEPT (__graft_qualify)
    *   FROM (SELECT <sel>, (<pred>) AS __graft_qualify FROM <rest>) q
    *   WHERE __graft_qualify [<tail>]
    * }}}
    * — the window predicate is evaluated as a hidden select-list column
    * (after grouping, exactly QUALIFY's evaluation point) and filtered
    * one level out, which is the same lowering DuckDB applies
    * internally. Anything before the main SELECT (a CTE list, an INSERT
    * INTO prefix) stays outside the wrap. Returns None when the
    * statement has no top-level QUALIFY. Top-level set operations and
    * SELECT DISTINCT are rejected with a clear error — wrap those in a
    * subquery. */
  def lowerQualify(text: String): Option[String] = {
    if (topLevelIndexOf(text, "QUALIFY", 0) < 0) return None
    val qi = topLevelIndexOf(text, "QUALIFY", 0)
    val head = text.substring(0, qi)
    val rest = text.substring(qi + 7).replaceAll("[;\\s]+$", "")
    val cut = Seq(topLevelIndexOf(rest, "ORDER", 0),
      topLevelIndexOf(rest, "LIMIT", 0),
      topLevelIndexOf(rest, "OFFSET", 0)).filter(_ >= 0)
      .sorted.headOption.getOrElse(rest.length)
    val pred = rest.substring(0, cut).trim
    val tail = rest.substring(cut).trim
    require(pred.nonEmpty, "QUALIFY requires a predicate")
    val si = topLevelIndexOf(head, "SELECT", 0)
    val fi = if (si < 0) -1 else topLevelIndexOf(head, "FROM", si)
    require(si >= 0 && fi > si,
      "QUALIFY requires a SELECT ... FROM block")
    Seq("UNION", "INTERSECT", "MINUS", "EXCEPT").foreach { op =>
      require(topLevelIndexOf(head, op, fi) < 0,
        s"QUALIFY over a top-level $op is unsupported; " +
          "wrap the set operation in a subquery")
    }
    require(!head.substring(si + 6).trim
        .regionMatches(true, 0, "DISTINCT", 0, 8),
      "QUALIFY with SELECT DISTINCT is unsupported; " +
        "apply DISTINCT in a subquery")
    val inner = head.substring(si, fi) +
      s", ($pred) AS __graft_qualify " + head.substring(fi)
    Some(head.substring(0, si) +
      "SELECT * EXCEPT (__graft_qualify) FROM (" + inner +
      ") __graft_qualify_sub WHERE __graft_qualify" +
      (if (tail.nonEmpty) " " + tail else ""))
  }
  private[sql] val CopyIntoRe =
    """(?is)^\s*COPY\s+INTO\s+([\w.`]+)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)(?:\s+FORMAT_OPTIONS\s*\(([^)]*)\))?\s*;?\s*$""".r

  /** `FORMAT_OPTIONS ('k' = 'v', ...)` → Map. */
  private[sql] def parseFormatOptions(group: String): Map[String, String] =
    Option(group).map { g =>
      """'([^']*)'\s*=\s*'([^']*)'""".r.findAllMatchIn(g)
        .map(m => m.group(1) -> m.group(2)).toMap
    }.getOrElse(Map.empty)

  private[sql] val TableChangesRe =
    """(?is)^\s*SELECT\s+\*\s+FROM\s+table_changes\(\s*'([\w.`]+)'\s*,\s*(\d+)\s*,\s*(\d+)\s*(?:,\s*'([^']*)'\s*)?\)\s*;?\s*$""".r

  /** `SELECT * FROM pipeline_epoch('pipeline'[, epoch], 'layer.table')`
    * — the SQL seam onto [[graft.pipeline.PipelineEpoch.readAt]]:
    * cross-table generation consistency for SQL-first consumers
    * (`VERSION AS OF` pins one table; this pins the PIPELINE — every
    * table read through the same epoch number is one generation).
    * Epoch omitted = the newest published one, resolved ONCE per
    * statement; consumers needing one generation across several
    * statements pass the explicit number. */
  private[sql] val PipelineEpochRe =
    """(?is)^\s*SELECT\s+\*\s+FROM\s+pipeline_epoch\(\s*'(\w+)'\s*,(?:\s*(\d+)\s*,)?\s*'([\w.`]+)'\s*\)\s*;?\s*$""".r

  /** `SELECT * FROM pipeline_epochs('pipeline', 'layer.table')` — the
    * audit listing: every retained epoch's manifest as (epoch,
    * table_name, version) rows. The table identifier locates the
    * warehouse (any pipeline member works). */
  private[sql] val PipelineEpochsRe =
    """(?is)^\s*SELECT\s+\*\s+FROM\s+pipeline_epochs\(\s*'(\w+)'\s*,\s*'([\w.`]+)'\s*\)\s*;?\s*$""".r

  /** `SELECT * FROM pipeline_epoch_history('pipeline', 'layer.table')`
    * — epoch DISCOVERY with commit metadata: one row per retained
    * epoch as (epoch, committed_at, n_tables, min_version,
    * max_version). `pipeline_epochs` answers "what does epoch N pin?";
    * this answers "which epochs exist and when did they commit?" — the
    * entry point an auditor needs before picking a number to read at. */
  private[sql] val PipelineEpochHistoryRe =
    """(?is)^\s*SELECT\s+\*\s+FROM\s+pipeline_epoch_history\(\s*'(\w+)'\s*,\s*'([\w.`]+)'\s*\)\s*;?\s*$""".r

  private[sql] def pipelineEpochHistoryPlan(session: SparkSession,
      pipeline: String, nameParts: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val dir = resolveDir(session, nameParts, "pipeline_epoch_history")
    val rows = graft.pipeline.PipelineEpoch
      .historyRows(session, dir, pipeline)
    import session.implicits._
    rows.toDF("epoch", "committed_at", "n_tables", "min_version",
      "max_version")
  }

  private[sql] def pipelineEpochPlan(session: SparkSession,
      pipeline: String, epochGroup: String, nameParts: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val dir = resolveDir(session, nameParts, "pipeline_epoch")
    val epoch = Option(epochGroup).map(_.toInt).getOrElse(
      graft.pipeline.PipelineEpoch.currentEpochPath(session, dir, pipeline))
    graft.pipeline.PipelineEpoch.readAtPath(session, dir, pipeline, epoch)
  }

  private[sql] def pipelineEpochsPlan(session: SparkSession,
      pipeline: String, nameParts: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val dir = resolveDir(session, nameParts, "pipeline_epochs")
    val rows = graft.pipeline.PipelineEpoch
      .manifestRows(session, dir, pipeline)
    import session.implicits._
    rows.toDF("epoch", "table_name", "version")
  }

  private[sql] def tableChangesPlan(session: SparkSession,
      nameParts: Seq[String], fromV: String, toV: String, keysGroup: String)
      : org.apache.spark.sql.DataFrame = {
    val dir = resolveDir(session, nameParts, "table_changes")
    val keys = Option(keysGroup).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)
    graft.catalog.ChangeFeed.tableChanges(session, dir,
      fromV.toInt, toV.toInt, keys)
  }

  private[sql] val CloneRe =
    """(?is)^\s*CREATE\s+TABLE\s+([\w.`]+)\s+(DEEP|SHALLOW)\s+CLONE\s+([\w.`]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""".r

  private[sql] val VacuumRe =
    """(?is)^\s*VACUUM\s+([\w.`]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?\s*;?\s*$""".r
  private[sql] val ShowPartitionsRe =
    """(?is)^\s*SHOW\s+PARTITIONS\s+([\w.`]+)\s*;?\s*$""".r
  private[sql] val ShowEngineHealthRe =
    """(?is)^\s*SHOW\s+ENGINE\s+HEALTH(?:\s+FOR\s+([\w.`]+))?\s*;?\s*$""".r
  private[sql] val ShowTblPropertiesRe =
    """(?is)^\s*SHOW\s+TBLPROPERTIES\s+([\w.`]+)(?:\s*\(\s*'([^']*)'\s*\))?\s*;?\s*$""".r
  private[sql] val RestoreRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?([\w.`]+)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private[sql] val RestoreTsRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?([\w.`]+)\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""".r

  /** A timestamp string → epoch millis under the SESSION time zone (the
    * same semantics `TIMESTAMP AS OF` reads get). */
  private[sql] def tsToMillis(spark: SparkSession, s: String): Long = {
    val row = spark.range(1)
      .select(org.apache.spark.sql.functions.lit(s).cast("timestamp")
        .as("__t")).collect()(0)
    require(!row.isNullAt(0), s"'$s' is not a timestamp")
    row.getTimestamp(0).getTime
  }
  private[sql] val ReplaceWhereRe =
    """(?is)^\s*INSERT\s+INTO\s+([\w.`]+)\s+REPLACE\s+WHERE\s+(.+?)\s+((?:SELECT|VALUES)\s+.*)$""".r
  private[sql] val AddIdentityRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+COLUMN\s+(\w+)\s+""" +
     """BIGINT\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY""" +
     """(?:\s*\(\s*START\s+WITH\s+(-?\d+)\s+INCREMENT\s+BY\s+(\d+)\s*\))?""" +
     """\s*;?\s*$""").r
  private[sql] val ReorgPurgeRe =
    """(?is)^\s*REORG\s+TABLE\s+([\w.`]+)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""".r
  private[sql] val SetDvModeRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+SET\s+TBLPROPERTIES\s*\(\s*'graft\.enableDeletionVectors'\s*=\s*'(true|false)'\s*\)\s*;?\s*$""".r
  private[sql] val AddConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""".r
  private[sql] val DropConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""".r
  private[sql] val AnalyzeSkippingRe =
    """(?is)^\s*ANALYZE\s+TABLE\s+([\w.`]+)\s+COMPUTE\s+SKIPPING\s+STATISTICS\s+FOR\s+COLUMNS\s*\(([^)]*)\)(?:\s+BLOOM\s*\(([^)]*)\))?\s*;?\s*$""".r
  private[sql] val CreateMviewRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+([\w.`]+)(?:\s+KEY\s*\(([^)]*)\))?\s+AS\s+(SELECT\s+.+)$""".r
  private[sql] val CtasRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+([\w.`]+)\s*(?:PARTITIONED\s+BY\s*\(([^)]*)\))?\s+AS\s+(\(?\s*SELECT\s+.+|\(?\s*WITH\s+.+)$""".r
  private[sql] val RefreshMviewRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`]+)(\s+FULL)?\s*;?\s*$""".r
  private[sql] val DropMviewRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+([\w.`]+)\s*;?\s*$""".r

  /** Rebuild a v1 external-table registration after a schema-changing DDL
    * (rename/drop column): the metastore schema is pinned at CREATE time,
    * so DROP + re-CREATE (schema re-inferred from the files) is the only
    * way `spark.table` sees the new shape. No-op for path-only targets. */
  private[sql] def reRegister(spark: SparkSession, nameParts: Seq[String],
      dir: String): Unit = {
    val name = nameParts.map(p => s"`$p`").mkString(".")
    // Only the existence probe may fail soft (a bare path target has no
    // catalog entry to rebuild). Once we DROP, the re-CREATE must succeed
    // or the caller sees the error — swallowing it would leave the table
    // silently deregistered after a rename/drop-column DDL.
    val exists =
      try spark.catalog.tableExists(nameParts.mkString("."))
      catch { case _: Exception => false }
    if (exists) {
      spark.sql(s"DROP TABLE $name")
      spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$dir'")
      spark.catalog.refreshTable(nameParts.mkString("."))
    }
  }

  /** Lower parsed `ALTER TABLE … RENAME COLUMN / DROP COLUMN(S)` and
    * `INSERT INTO/OVERWRITE` plans onto the graft catalog when the target
    * resolves to one of our storage-backed tables; v2-catalog tables (or
    * anything we can't resolve) pass through untouched. Nested (struct)
    * fields are not rewritable on a flat parquet layout and pass through
    * to Spark's own error. */
  private[sql] def rewriteColumnDdl(session: SparkSession,
      plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFieldName, UnresolvedTable}
    def graftTarget(t: LogicalPlan): Option[Seq[String]] = t match {
      case u: UnresolvedTable
        if GraftShims.tableStorage(session, u.multipartIdentifier).isDefined =>
        Some(u.multipartIdentifier)
      case _ => None
    }
    plan match {
      case RenameColumn(t, UnresolvedFieldName(Seq(old)), nw) =>
        graftTarget(t).map(GraftRenameColumnCommand(_, old, nw))
          .getOrElse(plan)
      case DropColumns(t, cols, _) =>
        val names = cols.collect { case UnresolvedFieldName(Seq(c)) => c }
        if (names.length == cols.length)
          graftTarget(t).map(GraftDropColumnsCommand(_, names))
            .getOrElse(plan)
        else plan // nested fields: pass through to Spark's own handling
      case i @ InsertIntoStatement(u: UnresolvedRelation, partSpec, cols,
          q, overwrite, ifNotExists, byName)
        if partSpec.isEmpty && !ifNotExists &&
           GraftShims.tableStorage(session, u.multipartIdentifier).isDefined =>
        GraftInsertCommand(u.multipartIdentifier, cols, q, overwrite, byName)
      case other => other
    }
  }

  /** Invalidate every cache layer that could serve stale file listings
    * after a statement rewrote the target's files: the path-keyed
    * FileIndex caches AND the session catalog's relation cache (the two
    * are keyed differently; refreshing only the path leaves a registered
    * table's cached relation pointing at retired part files). */
  private[sql] def refreshTarget(spark: SparkSession, nameParts: Seq[String],
      dir: String): Unit = {
    spark.catalog.refreshByPath(dir)
    val name = nameParts.mkString(".")
    try {
      if (spark.catalog.tableExists(name)) spark.catalog.refreshTable(name)
    } catch { case _: Exception => () } // path-only targets have no entry
  }

  /** Does the name resolve to a storage-backed catalog table this
    * engine manages? Used to pass statements Spark can also execute
    * (SHOW PARTITIONS on its own catalog tables) through to the
    * delegate when the target is not ours. */
  private[sql] def resolvesToGraftTable(spark: SparkSession,
      nameParts: Seq[String]): Boolean =
    try GraftShims.tableStorage(spark, nameParts).isDefined
    catch { case _: Exception => false }

  /** A statement target's storage directory (raises for temp views /
    * tables without a location). */
  private[sql] def resolveDir(spark: SparkSession, nameParts: Seq[String],
      stmt: String): String = {
    val uri = GraftShims.tableStorage(spark, nameParts).getOrElse(
      throw new IllegalArgumentException(
        s"$stmt target ${nameParts.mkString(".")} must be a catalog table " +
          "with a storage location"))
    new org.apache.hadoop.fs.Path(uri).toString
  }

  /** Evaluate a `TIMESTAMP AS OF` expression to epoch millis. The grammar
    * admits any expression (`'2024-01-01'`, `now() - INTERVAL 1 DAY`); it is
    * constant with respect to the query, so it is evaluated once driver-side
    * through a one-row local plan — the same eager resolution Delta applies.
    * Session time zone governs string→timestamp interpretation. */
  private def evalTimestampMillis(session: SparkSession, e: Expression): Long = {
    val row = session.range(1)
      .select(GraftShims.column(e).cast("timestamp").as("__graft_tt_ts"))
      .collect()(0)
    require(!row.isNullAt(0),
      s"TIMESTAMP AS OF expression ${e.sql} did not evaluate to a timestamp")
    row.getTimestamp(0).getTime
  }

  /** `VERSION AS OF n` / `TIMESTAMP AS OF ts` over a graft-registered table
    * → the catalog's snapshot-log entry (for a timestamp: the newest version
    * committed at or before it — Delta's rule). Non-graft tables pass
    * through to Spark's own (v2-only) time-travel resolution. */
  private[sql] def rewriteTimeTravel(session: SparkSession,
      plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
        GraftShims.tableStorage(session, u.multipartIdentifier) match {
          case Some(uri) =>
            val tableDir = new org.apache.hadoop.fs.Path(uri).toString
            val v = (ver, ts) match {
              case (Some(verStr), _) =>
                Some(verStr.trim).filter(_.forall(_.isDigit)).map(_.toInt)
                  .getOrElse(throw new IllegalArgumentException(
                    s"VERSION AS OF expects an integer version, got $verStr"))
              case (None, Some(tsExpr)) =>
                graft.catalog.Catalog.resolveTimestampVersion(session,
                  tableDir, evalTimestampMillis(session, tsExpr))
              case (None, None) => throw new IllegalArgumentException(
                "time travel requires VERSION AS OF or TIMESTAMP AS OF")
            }
            // alias-wrap so qualified references (`tbl.col`) still resolve
            // against the substituted relation
            SubqueryAlias(u.multipartIdentifier.last,
              graft.catalog.Catalog.versionRead(session, tableDir, v)
                .queryExecution.analyzed)
          case None => tt
        }
    }

  /** The statement table: statements outside Spark's grammar, matched as
    * anchored text — `DESCRIBE HISTORY` / `DESCRIBE DETAIL`, `OPTIMIZE
    * [WHERE] [ZORDER BY]`, `VACUUM [RETAIN n VERSIONS] [DRY RUN]`,
    * `RESTORE … VERSION|TIMESTAMP AS OF`, `COPY INTO`, `CREATE TABLE …
    * DEEP|SHALLOW CLONE`, `SELECT * FROM table_changes(...)` /
    * `pipeline_epoch(...)` / `pipeline_epochs(...)` /
    * `pipeline_epoch_history(...)`, `SHOW ENGINE HEALTH`, `SHOW
    * PARTITIONS` / `SHOW TBLPROPERTIES` over a graft table, `INSERT INTO …
    * REPLACE WHERE`, `CREATE [OR REPLACE] TABLE … AS`, materialized-view
    * DDL, identity / constraint / deletion-vector DDL, `REORG TABLE …
    * APPLY (PURGE)` and `ANALYZE TABLE … COMPUTE SKIPPING STATISTICS`.
    * Identifiers and sub-queries come from `parser`. None = not one of
    * these: parse the text natively and [[lower]] the plan. */
  def intercept(session: SparkSession, parser: ParserInterface,
      text: String): Option[LogicalPlan] = {
    def ident(s: String): Seq[String] = parser.parseMultipartIdentifier(s)
    def ours(s: String): Boolean = resolvesToGraftTable(session, ident(s))
    PartialFunction.condOpt(text) {
      case DescribeHistoryRe(t) => GraftDescribeHistoryCommand(ident(t))
      case DescribeDetailRe(t) => GraftDescribeDetailCommand(ident(t))
      case OptimizeRe(t, wpred, zcols) =>
        GraftOptimizeCommand(ident(t), splitZOrderCols(zcols),
          Option(wpred).map(_.trim))
      case TableChangesRe(t, v1, v2, ks) =>
        tableChangesPlan(session, ident(t), v1, v2, ks).queryExecution.logical
      case PipelineEpochRe(pipe, epoch, t) =>
        pipelineEpochPlan(session, pipe, epoch, ident(t))
          .queryExecution.logical
      case PipelineEpochsRe(pipe, t) =>
        pipelineEpochsPlan(session, pipe, ident(t)).queryExecution.logical
      case PipelineEpochHistoryRe(pipe, t) =>
        pipelineEpochHistoryPlan(session, pipe, ident(t))
          .queryExecution.logical
      case CopyIntoRe(t, src, fmt, opts) =>
        GraftCopyIntoCommand(ident(t), src, fmt.toLowerCase,
          parseFormatOptions(opts))
      case CloneRe(dst, kind, src, v) =>
        GraftCloneCommand(ident(dst), ident(src), Option(v).map(_.toInt),
          kind.equalsIgnoreCase("SHALLOW"))
      case VacuumRe(t, retain, dry) =>
        GraftVacuumCommand(ident(t),
          keepVersions = Option(retain).map(_.toInt), dryRun = dry != null)
      case ShowEngineHealthRe(t) =>
        GraftShowEngineHealthCommand(Option(t).map(ident))
      case ShowPartitionsRe(t) if ours(t) =>
        GraftShowPartitionsCommand(ident(t))
      case ShowTblPropertiesRe(t, key) if ours(t) =>
        GraftShowTblPropertiesCommand(ident(t), Option(key))
      case RestoreRe(t, v) => GraftRestoreCommand(ident(t), Some(v.toInt))
      case RestoreTsRe(t, ts) => GraftRestoreCommand(ident(t), None, Some(ts))
      case ReplaceWhereRe(t, cond, query) =>
        GraftReplaceWhereCommand(ident(t), cond.trim, parser.parseQuery(query))
      case CreateMviewRe(t, keys, select) =>
        GraftCreateMviewCommand(ident(t), splitZOrderCols(keys), select)
      case CtasRe(replace, t, parts, select) =>
        GraftCtasCommand(ident(t), replace != null, select,
          splitZOrderCols(parts))
      case RefreshMviewRe(t, full) =>
        GraftRefreshMviewCommand(ident(t), full != null)
      case DropMviewRe(t) => GraftDropMviewCommand(ident(t))
      case AddIdentityRe(t, cname, start, step) =>
        GraftAddIdentityCommand(ident(t), cname,
          Option(start).map(_.toLong).getOrElse(1L),
          Option(step).map(_.toLong).getOrElse(1L))
      case ReorgPurgeRe(t) => GraftReorgPurgeCommand(ident(t))
      case SetDvModeRe(t, flag) =>
        GraftSetDvModeCommand(ident(t), flag.equalsIgnoreCase("true"))
      case AddConstraintRe(t, cname, check) =>
        GraftAddConstraintCommand(ident(t), cname, check.trim)
      case DropConstraintRe(t, cname) =>
        GraftDropConstraintCommand(ident(t), cname)
      case AnalyzeSkippingRe(t, cols, blooms) =>
        GraftAnalyzeSkippingCommand(ident(t), splitZOrderCols(cols),
          splitZOrderCols(blooms))
    }
  }

  /** The lowering of a natively parsed statement. Spark parses these but
    * executes them only against v2 catalogs, so they become graft commands:
    *  - `VERSION AS OF n` / `TIMESTAMP AS OF ts` over a graft table read
    *    the catalog's snapshot log ([[rewriteTimeTravel]]);
    *  - MERGE / DELETE FROM / UPDATE run through [[MergeIntoRunner]] /
    *    [[DmlRunner]];
    *  - `ALTER TABLE … RENAME COLUMN / DROP COLUMN(S)` and `INSERT INTO /
    *    OVERWRITE` over a graft table become versioned rewrites
    *    ([[rewriteColumnDdl]]).
    * Anything else passes through. Idempotent: on an extension session the
    * parser has already lowered the plan [[sql]] lowers again. */
  def lower(session: SparkSession, plan: LogicalPlan): LogicalPlan =
    rewriteTimeTravel(session, plan) match {
      case m: MergeIntoTable => GraftMergeIntoCommand(m)
      case d: DeleteFromTable => GraftDeleteCommand(d)
      case u: UpdateTable => GraftUpdateCommand(u)
      case other => rewriteColumnDdl(session, other)
    }

  /** The entry point for any session: the statement table, else the
    * session's own parse (after QUALIFY lowering) and [[lower]]. */
  def sql(spark: SparkSession, sqlText: String): DataFrame = {
    val parser = spark.sessionState.sqlParser
    GraftShims.ofRows(spark, intercept(spark, parser, sqlText).getOrElse(
      lower(spark, parser.parsePlan(lowerQualify(sqlText).getOrElse(sqlText)))))
  }
}
