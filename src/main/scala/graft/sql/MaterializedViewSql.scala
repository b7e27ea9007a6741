package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, ChangeFeed}
import graft.pipeline.{MaterializedAgg, MaterializedJoin}
import graft.pipeline.MaterializedAgg._
import graft.layout.SwapProtocol

/** SQL surface for incrementally maintained materialized views —
  * Databricks' `CREATE MATERIALIZED VIEW` / `REFRESH MATERIALIZED VIEW` /
  * `DROP MATERIALIZED VIEW` (the reference's gold notebooks full-recompute
  * both their rollups AND their denormalized joins every run; the MV
  * statement is what Databricks replaced that pattern with). Two view
  * shapes, each lowered onto its maintenance engine:
  *
  * AGGREGATE views → [[MaterializedAgg]]:
  *   CREATE MATERIALIZED VIEW gold.mv AS
  *     SELECT k1, k2, sum(x * y) AS s, count(*) AS n
  *     FROM silver.fact [WHERE pred] GROUP BY k1, k2
  * The SELECT must be a single-table algebraic aggregate (sum / count(*)
  * / min / max over any row expression, every aggregate aliased) —
  * exactly what an O(batch) incremental refresh is mathematically
  * possible for. REFRESH folds appended rows; source DELETES fold as
  * NEGATED partials when every measure's combine is group addition
  * (sum/count, with a count(*) present so emptied groups vanish — classic
  * incremental view maintenance); min/max views route non-append history
  * to `REFRESH … FULL` (extremal aggregates don't invert).
  *
  * JOIN views → [[MaterializedJoin]]:
  *   CREATE MATERIALIZED VIEW gold.wide KEY (oid) AS
  *     SELECT f.*, d.c_name FROM silver.fact f
  *     LEFT JOIN silver.dim d ON f.cust = d.c_id
  * `KEY (…)` names the fact's row identity (what upserts key on).
  * REFRESH pulls BOTH sources' change feeds: fact changes upsert
  * O(batch ⋈ dim); dim changes rewrite only buckets holding dependent
  * join keys. The state is bucket-partitioned, so the registration is a
  * catalog VIEW projecting the data table (the bucket column stays
  * internal).
  *
  * Both kinds: CREATE computes the initial state and pins change-feed
  * cursors at the versions it read; the definition survives in a
  * sidecar; REFRESH is O(changes), never O(source); replays drop whole
  * (in-state high-water mark / idempotent upsert). */
case class GraftCreateMviewCommand(nameParts: Seq[String],
    keyCols: Seq[String], selectSql: String) extends LeafRunnableCommand {
  import MaterializedViewSql._

  override def run(spark: SparkSession): Seq[Row] = {
    require(nameParts.length == 2,
      s"materialized view name must be layer.table, got ${nameParts.mkString(".")}")
    if (JoinShapeRe.findFirstIn(selectSql).isDefined)
      createJoinView(spark, nameParts, keyCols, selectSql)
    else {
      require(keyCols.isEmpty,
        "KEY (…) applies to join-shaped materialized views only")
      createAggView(spark, nameParts, selectSql)
    }
    Seq.empty
  }
}

case class GraftRefreshMviewCommand(nameParts: Seq[String],
    full: Boolean) extends LeafRunnableCommand {
  import MaterializedViewSql._

  override def run(spark: SparkSession): Seq[Row] = {
    val viewDir = resolveMviewDir(spark, nameParts)
    readDefinition(spark, viewDir) match {
      case d: AggDef => refreshAgg(spark, nameParts, viewDir, d, full)
      case d: JoinDef =>
        val mj = materializedJoin(spark, viewDir, d)
        if (full) {
          // join views maintain deletes/updates natively; FULL is the
          // rebuild-from-scratch escape hatch (e.g. after a source
          // VACUUM broke feed continuity)
          val fs = new org.apache.hadoop.fs.Path(viewDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          Seq(viewDir, viewDir + ".history", viewDir + ".cursors")
            .map(new org.apache.hadoop.fs.Path(_))
            .foreach(p => if (fs.exists(p)) fs.delete(p, true))
          mj.build()
        } else mj.refresh()
    }
    spark.catalog.refreshByPath(viewDir)
    Seq.empty
  }
}

/** `DROP MATERIALIZED VIEW layer.view` — removes the registration, the
  * state (with its version history), the definition sidecar, and the
  * change-feed cursor(s); refuses for tables that are not materialized
  * views (a plain DROP TABLE must not silently destroy data files). */
case class GraftDropMviewCommand(nameParts: Seq[String])
    extends LeafRunnableCommand {
  import MaterializedViewSql._

  override def run(spark: SparkSession): Seq[Row] = {
    val viewDir = resolveMviewDir(spark, nameParts)
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(defFile(viewDir))),
      s"${nameParts.mkString(".")} is not a materialized view")
    val name = nameParts.map(p => s"`$p`").mkString(".")
    readDefinition(spark, viewDir) match {
      case _: AggDef => spark.sql(s"DROP TABLE $name")
      case _: JoinDef =>
        spark.sql(s"DROP VIEW $name")
        spark.sql(s"DROP TABLE ${dataTableName(nameParts)}")
    }
    Seq(viewDir, viewDir + ".history", defFile(viewDir),
        cursorFile(viewDir), viewDir + ".cursors")
      .map(new org.apache.hadoop.fs.Path(_))
      .foreach(p => if (fs.exists(p)) fs.delete(p, true))
    Seq.empty
  }
}

object MaterializedViewSql {
  sealed trait MviewDef

  /** One aggregate of an agg view: kind ∈ count/sum/min/max, the row
    * expression's ORIGINAL sql text (None for count), output name. */
  final case class MeasureDef(kind: String, exprSql: Option[String],
      out: String) {
    def toMeasure: Measure = kind match {
      case "count" => CountRows(out)
      case "sum" => Sum(expr(exprSql.get), out)
      case "min" => Min(expr(exprSql.get), out)
      case "max" => Max(expr(exprSql.get), out)
    }
  }

  final case class AggDef(srcDir: String, where: Option[String],
      groupBy: Seq[String], measureDefs: Seq[MeasureDef])
      extends MviewDef {
    def measures: Seq[Measure] = measureDefs.map(_.toMeasure)
    def filtered(df: DataFrame): DataFrame =
      where.map(w => df.filter(expr(w))).getOrElse(df)
  }

  final case class JoinDef(factDir: String, factKeys: Seq[String],
      fkCol: String, dimDir: String, dimPk: String,
      dimCols: Seq[String]) extends MviewDef

  private[sql] def cursorFile(viewDir: String) = s"$viewDir.mviewcursor"
  private[sql] def defFile(viewDir: String) = s"$viewDir.mviewdef"
  private[sql] def dataTableName(nameParts: Seq[String]) =
    s"`${nameParts.head}`.`${nameParts(1)}__data`"

  /** The warehouse root is a source dir's grandparent (`wh/layer/tbl`) —
    * views live in the same warehouse as their sources. */
  private def warehouseOf(srcDir: String): String =
    new org.apache.hadoop.fs.Path(srcDir).getParent.getParent.toString

  /** The view's storage dir: agg views register the state dir directly;
    * join views register a projection VIEW over `<tbl>__data`. */
  private[sql] def resolveMviewDir(spark: SparkSession,
      nameParts: Seq[String]): String =
    try GraftSql.resolveDir(spark, nameParts, "MATERIALIZED VIEW")
    catch { case e: IllegalArgumentException =>
      try GraftSql.resolveDir(spark,
        Seq(nameParts.head, nameParts(1) + "__data"), "MATERIALIZED VIEW")
      catch { case _: IllegalArgumentException => throw e }
    }

  // ---------------------------------------------------------- agg views

  private val SelectRe =
    """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+([\w.`]+)(?:\s+WHERE\s+(.*?))?\s+GROUP\s+BY\s+(.+?)\s*;?\s*$""".r
  private val AggRe =
    """(?is)^(sum|min|max)\s*\((.+)\)\s+AS\s+(\w+)$""".r
  private val CountRe =
    """(?is)^count\s*\(\s*(?:\*|1)\s*\)\s+AS\s+(\w+)$""".r

  /** Split on commas at paren depth 0 (aggregate arguments may nest). */
  private[sql] def topLevelSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }

  /** Parse + validate the aggregate-MV SELECT. The source must be a
    * registered graft table (its storage dir anchors the change feed);
    * every aggregate must be algebraic and aliased; the projected keys
    * must equal the GROUP BY list. */
  private[sql] def parseAggDefinition(spark: SparkSession,
      selectSql: String): AggDef = selectSql match {
    case SelectRe(items, src, where, grp) =>
      val groupBy = topLevelSplit(grp).map { g =>
        require(g.matches("""[\w`]+"""),
          s"GROUP BY must name plain columns, got: $g")
        g.stripPrefix("`").stripSuffix("`")
      }
      var keysSeen = Vector.empty[String]
      val measures = topLevelSplit(items).flatMap {
        case CountRe(out) => Some(MeasureDef("count", None, out))
        case AggRe(fn, inner, out) =>
          Some(MeasureDef(fn.toLowerCase, Some(inner.trim), out))
        case key if key.matches("""[\w`]+""") =>
          keysSeen :+= key.stripPrefix("`").stripSuffix("`"); None
        case other => throw new IllegalArgumentException(
          "materialized views admit algebraic aggregates only — " +
            s"sum/count(*)/min/max AS alias — got: $other")
      }
      require(measures.nonEmpty, "no aggregate in the SELECT")
      require(keysSeen.map(_.toLowerCase).sorted ==
          groupBy.map(_.toLowerCase).sorted,
        s"projected keys ${keysSeen.mkString(",")} must equal GROUP BY " +
          groupBy.mkString(","))
      val srcDir = GraftSql.resolveDir(spark, splitTable(src),
        "CREATE MATERIALIZED VIEW source")
      AggDef(srcDir, Option(where).map(_.trim).filter(_.nonEmpty),
        groupBy, measures)
    case _ => throw new IllegalArgumentException(
      "materialized view query must be SELECT ... FROM <table> " +
        "[WHERE ...] GROUP BY ... — got: " + selectSql)
  }

  private[sql] def createAggView(spark: SparkSession,
      nameParts: Seq[String], selectSql: String): Unit = {
    val d = parseAggDefinition(spark, selectSql)
    val cat = new Catalog(spark, warehouseOf(d.srcDir))
    val viewDir = cat.path(nameParts.head, nameParts(1))
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(viewDir)),
      s"materialized view target exists: $viewDir")
    val srcVersion = SwapProtocol.readPointer(fs, d.srcDir)
    require(srcVersion >= 1, s"source does not exist: ${d.srcDir}")
    val ma = new MaterializedAgg(spark, cat, nameParts.head, nameParts(1),
      d.groupBy, d.measures)
    // the refreshId IS the source version the state covers (the Delta
    // txnVersion idiom): ids stay monotone because source versions do,
    // and a crash-replay of any later refresh re-presents the SAME
    // version, tripping the in-state guard instead of double-applying
    ma.refresh(d.filtered(spark.read.parquet(d.srcDir)), srcVersion)
    ChangeFeed.commitCursor(spark, cursorFile(viewDir), srcVersion)
    writeDefinition(spark, viewDir, d)
    spark.sql(s"CREATE SCHEMA IF NOT EXISTS ${nameParts.head}")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS ${nameParts.mkString(".")}
                  USING parquet LOCATION '$viewDir'""")
  }

  private[sql] def refreshAgg(spark: SparkSession, nameParts: Seq[String],
      viewDir: String, d: AggDef, full: Boolean): Unit = {
    val cat = new Catalog(spark, warehouseOf(d.srcDir))
    val ma = new MaterializedAgg(spark, cat, nameParts.head, nameParts(1),
      d.groupBy, d.measures)
    val fs = new org.apache.hadoop.fs.Path(viewDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (full) {
      // recompute from the live source and re-pin — the escape hatch for
      // non-retractable measures over non-append history
      val cur = SwapProtocol.readPointer(fs, d.srcDir)
      val state = d.filtered(spark.read.parquet(d.srcDir))
        .groupBy(d.groupBy.map(col): _*)
        .agg(d.measures.head.partialExpr,
          d.measures.tail.map(_.partialExpr): _*)
        // stamp the SOURCE VERSION the recompute read: if we crash
        // before the cursor commit, the replayed incremental delta
        // arrives as refreshId == cur == lastRefreshId and drops
        .withColumn(RefreshIdCol, lit(cur.toLong))
      cat.overwriteSnapshot(state, nameParts.head, nameParts(1),
        commitTag = Some(MaterializedAgg.WatermarkTagKey -> cur.toString))
      ChangeFeed.commitCursor(spark, cursorFile(viewDir), cur)
    } else ChangeFeed.consumeChanges(spark, d.srcDir,
        cursorFile(viewDir)) match {
      case None => ()
      case Some((ch, from, to)) =>
        val inserts = d.filtered(
          ch.filter(col(ChangeFeed.ChangeCol) === "insert")
            .drop(ChangeFeed.ChangeCol))
        val deletes = d.filtered(
          ch.filter(col(ChangeFeed.ChangeCol) === "delete")
            .drop(ChangeFeed.ChangeCol))
        // refreshId = the source version this delta advances the state
        // to — NOT lastRefreshId + 1, which would mint a FRESH id for a
        // crash-replayed delta (cursor uncommitted → same (from, to]
        // consumed again) and double-count it past the replay guard
        if (deletes.isEmpty)
          ma.refresh(inserts, to.toLong)
        else {
          // classic incremental view maintenance: deleted source rows
          // fold as NEGATED partials — sound exactly when every measure's
          // combine is group addition (sum/count; min/max are extremal,
          // not invertible) and a count(*) measure is present to detect
          // groups whose last row left (count 0 → the group vanishes,
          // matching a full recompute)
          val retractable = d.measureDefs
            .forall(m => m.kind == "sum" || m.kind == "count")
          val countOut = d.measureDefs.find(_.kind == "count").map(_.out)
          require(retractable && countOut.isDefined,
            s"source ${d.srcDir} changed by more than appends between " +
              s"versions $from and $to, and the view is not retractable " +
              "(retraction needs sum/count-only measures incl. a " +
              "count(*)) — run REFRESH MATERIALIZED VIEW " +
              s"${nameParts.mkString(".")} FULL")
          def signedPartial(df: DataFrame, neg: Boolean) =
            df.groupBy(d.groupBy.map(col): _*)
              .agg(signedExpr(d.measureDefs.head, neg),
                d.measureDefs.tail.map(signedExpr(_, neg)): _*)
          val delta = signedPartial(inserts, neg = false)
            .unionByName(signedPartial(deletes, neg = true))
          ma.applyDelta(delta, to.toLong,
            prune = Some(col(countOut.get) === 0L))
        }
        ChangeFeed.commitCursor(spark, cursorFile(viewDir), to)
    }
  }

  /** A measure's partial over a batch, negated for retraction batches.
    * `negate` preserves the aggregate's type (a `* -1` would widen
    * decimals); count negates too — the count partial is a group SIZE
    * here, summed by the combine, not an idempotent count. */
  private[sql] def signedExpr(m: MeasureDef,
      neg: Boolean): org.apache.spark.sql.Column = {
    val pos = m.kind match {
      case "count" => count(lit(1))
      case "sum" => sum(expr(m.exprSql.get))
      case "min" => min(expr(m.exprSql.get))
      case "max" => max(expr(m.exprSql.get))
    }
    (if (neg) negate(pos) else pos).as(m.out)
  }

  // --------------------------------------------------------- join views

  private[sql] val JoinShapeRe =
    """(?is)\sLEFT\s+(?:OUTER\s+)?JOIN\s""".r
  private val JoinSelectRe =
    ("""(?is)^\s*SELECT\s+(\w+)\.\*\s*,\s*(.+?)\s+FROM\s+([\w.`]+)\s+(?:AS\s+)?(\w+)""" +
     """\s+LEFT\s+(?:OUTER\s+)?JOIN\s+([\w.`]+)\s+(?:AS\s+)?(\w+)""" +
     """\s+ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*;?\s*$""").r

  /** Parse + validate the join-MV SELECT: `SELECT f.*, d.c1[, d.c2…]
    * FROM fact f LEFT JOIN dim d ON f.fk = d.pk`. The projection must be
    * the whole fact plus named dim columns — exactly what
    * [[MaterializedJoin]] maintains. */
  private[sql] def parseJoinDefinition(spark: SparkSession,
      keyCols: Seq[String], selectSql: String): JoinDef = selectSql match {
    case JoinSelectRe(starAlias, dimItems, fact, fAlias, dim, dAlias,
        onL, onLCol, onR, onRCol) =>
      require(keyCols.nonEmpty,
        "join-shaped materialized views need KEY (…) — the fact's row " +
          "identity, what refresh upserts on")
      require(starAlias.equalsIgnoreCase(fAlias),
        s"the projection must start with the FACT's $fAlias.*")
      val dimCols = topLevelSplit(dimItems).map {
        case c if c.matches(s"""(?i)$dAlias\\.\\w+""") => c.split('.')(1)
        case other => throw new IllegalArgumentException(
          s"join view projections carry $fAlias.* plus $dAlias.<col> " +
            s"items only, got: $other")
      }
      val (fkCol, dimPk) =
        if (onL.equalsIgnoreCase(fAlias) && onR.equalsIgnoreCase(dAlias))
          (onLCol, onRCol)
        else if (onL.equalsIgnoreCase(dAlias) && onR.equalsIgnoreCase(fAlias))
          (onRCol, onLCol)
        else throw new IllegalArgumentException(
          s"ON must equate $fAlias.<fk> with $dAlias.<pk>, got " +
            s"$onL.$onLCol = $onR.$onRCol")
      JoinDef(
        GraftSql.resolveDir(spark, splitTable(fact),
          "CREATE MATERIALIZED VIEW fact"),
        keyCols, fkCol,
        GraftSql.resolveDir(spark, splitTable(dim),
          "CREATE MATERIALIZED VIEW dim"),
        dimPk, dimCols)
    case _ => throw new IllegalArgumentException(
      "join materialized view must be SELECT f.*, d.c… FROM fact f " +
        "LEFT JOIN dim d ON f.fk = d.pk — got: " + selectSql)
  }

  private[sql] def materializedJoin(spark: SparkSession, viewDir: String,
      d: JoinDef): MaterializedJoin =
    new MaterializedJoin(spark, d.factDir, d.factKeys, d.fkCol,
      d.dimDir, d.dimPk, d.dimCols, viewDir, nBuckets = 64)

  private[sql] def createJoinView(spark: SparkSession,
      nameParts: Seq[String], keyCols: Seq[String],
      selectSql: String): Unit = {
    val d = parseJoinDefinition(spark, keyCols, selectSql)
    val cat = new Catalog(spark, warehouseOf(d.factDir))
    val viewDir = cat.path(nameParts.head, nameParts(1))
    val mj = materializedJoin(spark, viewDir, d)
    require(!mj.exists, s"materialized view target exists: $viewDir")
    mj.build()
    writeDefinition(spark, viewDir, d)
    // the state is bucket-partitioned; the public registration is a
    // catalog VIEW over the PATH (query-time partition discovery — new
    // buckets from later refreshes are seen without MSCK), projecting
    // the bucket column away so SELECT * reads clean. The `__data`
    // table is never queried — it anchors name→dir resolution for
    // REFRESH/DROP (a catalog VIEW carries no storage location).
    val cols = mj.read().columns
      .map(c => s"`$c`").mkString(", ")
    spark.sql(s"CREATE SCHEMA IF NOT EXISTS ${nameParts.head}")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS ${dataTableName(nameParts)}
                  USING parquet LOCATION '$viewDir'""")
    spark.sql(s"""CREATE VIEW ${nameParts.mkString(".")} AS
                  SELECT $cols FROM parquet.`$viewDir`""")
  }

  // ----------------------------------------------------------- sidecar

  private def splitTable(t: String): Seq[String] =
    t.split('.').toSeq.map(_.stripPrefix("`").stripSuffix("`"))

  private def b64(s: String) = java.util.Base64.getEncoder
    .encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String) =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  private[sql] def writeDefinition(spark: SparkSession, viewDir: String,
      d: MviewDef): Unit = {
    val lines = d match {
      case a: AggDef => Seq(
        "kind\tagg",
        s"src\t${b64(a.srcDir)}",
        s"where\t${a.where.map(b64).getOrElse("-")}",
        s"groupBy\t${a.groupBy.map(b64).mkString(",")}") ++
        a.measureDefs.map(m =>
          s"m\t${m.kind}\t${m.exprSql.map(b64).getOrElse("-")}\t${b64(m.out)}")
      case j: JoinDef => Seq(
        "kind\tjoin",
        s"fact\t${b64(j.factDir)}",
        s"factKeys\t${j.factKeys.map(b64).mkString(",")}",
        s"fk\t${b64(j.fkCol)}",
        s"dim\t${b64(j.dimDir)}",
        s"dimPk\t${b64(j.dimPk)}",
        s"dimCols\t${j.dimCols.map(b64).mkString(",")}")
    }
    val p = new org.apache.hadoop.fs.Path(defFile(viewDir))
    graft.layout.SwapProtocol.writeSmallFile(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      lines.mkString("\n"))
  }

  private[sql] def readDefinition(spark: SparkSession,
      viewDir: String): MviewDef = {
    val p = new org.apache.hadoop.fs.Path(defFile(viewDir))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(p),
      s"$viewDir is not a materialized view (no definition sidecar)")
    val lines = graft.layout.SwapProtocol.readSmallFile(f, p)
      .split('\n').toSeq
    def field(k: String) = lines.find(_.startsWith(s"$k\t")).get
      .split('\t')(1)
    field("kind") match {
      case "agg" =>
        val measures = lines.filter(_.startsWith("m\t")).map { l =>
          val Array(_, kind, src, out) = l.split('\t')
          MeasureDef(kind, Some(src).filter(_ != "-").map(unb64),
            unb64(out))
        }
        AggDef(unb64(field("src")),
          Some(field("where")).filter(_ != "-").map(unb64),
          field("groupBy").split(',').toSeq.map(unb64), measures)
      case "join" =>
        JoinDef(unb64(field("fact")),
          field("factKeys").split(',').toSeq.map(unb64),
          unb64(field("fk")), unb64(field("dim")),
          unb64(field("dimPk")),
          field("dimCols").split(',').toSeq.map(unb64))
    }
  }
}
