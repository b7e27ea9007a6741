package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, max,
  sum, when}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.layout.{DeletionVectors, SwapProtocol}
import graft.merge.PartitionedMerge

/** The write gate: every rule a commit must pass before its staged files
  * become a version — the job Delta's transaction does for the reference
  * (schema enforcement, CHECK constraints, generated columns; Gold_*.py
  * MERGE and overwrite). Every commit path — snapshot overwrite, append,
  * first-load create, bucketed write/merge/insert/REPLACE WHERE, and the
  * row-level UPDATE paths (flat, file-granular, deletion-vector, bucketed)
  * — asks THIS module, so the paths cannot disagree about a rule:
  *
  *   - the table's rules live in sibling manifests `<dir>.constraints`,
  *     `<dir>.generated` and `<dir>.identity` (one entry per line,
  *     tmp+rename commit), so they are properties of the TABLE and survive
  *     snapshot swaps;
  *   - [[prepare]] fills absent generated and identity columns and names
  *     the checks the written rows must pass: the CHECK constraints plus
  *     null-safe equality of every generated column the writer provided
  *     with its definition;
  *   - [[updateImage]] is the row image every layout's UPDATE stages;
  *   - [[shapeDiff]] is schema-on-write, [[liveSchema]] its sidecar fast
  *     path;
  *   - [[enforceStaged]] runs the checks over the STAGED files and drops
  *     the stage on a violation;
  *   - [[moveStaged]] moves staged files into the next snapshot,
  *     collision-checked.
  *
  * A table without rules pays one existence probe per manifest a commit
  * consults and nothing else: no Spark job, no data read. */
object TableRules {

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------- manifests

  private def readManifest(spark: SparkSession, dir: String,
      kind: String): List[String] = {
    val f = fsOf(spark, dir)
    val p = new Path(s"$dir.$kind")
    if (!f.exists(p)) Nil
    else SwapProtocol.readSmallFile(f, p).split('\n').filter(_.nonEmpty).toList
  }

  /** Commit a manifest whole; an empty entry list removes it. */
  private def writeManifest(spark: SparkSession, dir: String, kind: String,
      lines: Seq[String]): Unit = {
    val f = fsOf(spark, dir)
    val dst = new Path(s"$dir.$kind")
    if (lines.isEmpty) { if (f.exists(dst)) f.delete(dst, false) }
    else SwapProtocol.writeSmallFile(f, dst, lines.mkString("\n"))
  }

  private def namedExprs(lines: List[String]): Seq[(String, String)] =
    lines.map { l =>
      val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
    }

  /** Table-level CHECK constraints (Delta `ALTER TABLE … ADD CONSTRAINT`,
    * the DQ layer the reference gets from Delta next to DLT expectations —
    * [[graft.quality.Expectations]] gates ROWS, constraints gate WRITES),
    * as (name, expression SQL). SQL-standard violation semantics: a row
    * violates only when the expression evaluates to FALSE — NULL passes
    * (use `x IS NOT NULL` for nullability). */
  def constraints(spark: SparkSession, dir: String): Seq[(String, String)] =
    namedExprs(readManifest(spark, dir, "constraints"))

  private[catalog] def writeConstraints(spark: SparkSession, dir: String,
      entries: Seq[(String, String)]): Unit =
    writeManifest(spark, dir, "constraints",
      entries.map { case (n, e) => s"$n\t$e" })

  /** `GENERATED ALWAYS AS` columns, as (name, expression SQL). */
  def generated(spark: SparkSession, dir: String): Seq[(String, String)] =
    namedExprs(readManifest(spark, dir, "generated"))

  private[catalog] def writeGenerated(spark: SparkSession, dir: String,
      entries: Seq[(String, String)]): Unit =
    writeManifest(spark, dir, "generated",
      entries.map { case (n, e) => s"$n\t$e" })

  /** `GENERATED ALWAYS AS IDENTITY` columns, as (name, start, step). The
    * high watermark is NOT cached here — it derives from a column-pruned
    * max() over the live data at assignment time, so a crash can never
    * strand a stale counter that would hand out duplicate ids (Delta
    * caches it in the txn log, whose atomicity we don't have for a
    * sibling file). The scan reads ONE column; the documented upgrade
    * path at extreme commit rates is a watermark in the version log. */
  def identity(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    readManifest(spark, dir, "identity").map { l =>
      val p = l.split('\t'); (p(0), p(1).toLong, p(2).toLong)
    }

  private[catalog] def writeIdentity(spark: SparkSession, dir: String,
      entries: Seq[(String, Long, Long)]): Unit =
    writeManifest(spark, dir, "identity",
      entries.map { case (n, s, k) => s"$n\t$s\t$k" })

  // ------------------------------------------------- computed columns

  /** A frame ready to stage, and the checks its staged files must pass. */
  private[graft] final case class Gated(frame: DataFrame,
      checks: Seq[(String, String)])

  private def has(df: DataFrame, name: String): Boolean =
    df.columns.exists(_.equalsIgnoreCase(name))

  /** A provided generated column is checked as null-safe equality with its
    * definition (Delta's consistency rule): it can never silently
    * diverge. */
  private def consistency(
      gens: Seq[(String, String)]): Seq[(String, String)] =
    gens.map { case (n, e) => (s"__generated_$n", s"`$n` <=> ($e)") }

  /** Generated columns absent from `df` are computed from their
    * definition; the ones the writer provided join the CHECK constraints
    * as consistency checks. Identity columns are left alone — a merge's
    * output carries them through from the target. */
  private[graft] def generate(spark: SparkSession, dir: String,
      df: DataFrame): Gated =
    fill(spark, dir, generated(spark, dir), df)

  private def fill(spark: SparkSession, dir: String,
      gens: Seq[(String, String)], df: DataFrame): Gated = {
    val filled = gens.foldLeft(df) { case (d, (n, e)) =>
      if (has(d, n)) d else d.withColumn(n, expr(e)) }
    Gated(filled, constraints(spark, dir) ++
      consistency(gens.filter { case (n, _) => has(df, n) }))
  }

  /** [[generate]], then every recorded-but-absent identity column filled —
    * the gate for frames of NEW rows (overwrite, append, insert, first
    * load). */
  private[graft] def prepare(spark: SparkSession, dir: String,
      df: DataFrame): Gated = {
    val g = generate(spark, dir, df)
    g.copy(frame = fillIdentity(spark, dir, g.frame))
  }

  /** The row image a row-level UPDATE stages, on every layout. Each
    * assignment must name a column of `rows` other than the bucket column;
    * its value is cast to that column's type and applies where `matched`
    * holds (on every row when None — `rows` is then the matched rows).
    * Generated columns the statement leaves unassigned are recomputed from
    * the updated values (Delta's rule); an assigned one is writer-provided
    * and checked against its definition. The image has `rows`' columns in
    * `rows`' order, minus the deletion-vector position tags, so a bucketed
    * frame keeps its bucket column. */
  private[graft] def updateImage(spark: SparkSession, dir: String,
      rows: DataFrame, assign: Seq[(String, Column)],
      matched: Option[Column] = None): Gated = {
    val fields = rows.schema.fields.toSeq.filterNot(f =>
      f.name == DeletionVectors.FileCol || f.name == DeletionVectors.PosCol)
    assign.foreach { case (n, _) =>
      require(!n.equalsIgnoreCase(PartitionedMerge.BucketCol),
        "the bucket column is the table's physical layout; it cannot be " +
          "assigned")
      require(fields.exists(_.name.equalsIgnoreCase(n)),
        s"UPDATE assigns unknown column $n on $dir")
    }
    val gens = generated(spark, dir)
    val image = rows.select(fields.flatMap { f =>
      assign.collectFirst {
        case (n, v) if n.equalsIgnoreCase(f.name) => v.cast(f.dataType)
      } match {
        case Some(v) => Some(matched.fold(v)(m =>
          when(m, v).otherwise(col(f.name))).as(f.name))
        case None if gens.exists(_._1.equalsIgnoreCase(f.name)) => None
        case None => Some(col(f.name))
      }
    }: _*)
    val g = fill(spark, dir, gens, image)
    g.copy(frame = g.frame.select(fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*))
  }

  /** Append `base + step·(i+1)` ids: per-partition sequences with
    * partition-size offsets (zipWithIndex — two narrow passes, no
    * single-partition window), the SurrogateKeys.assign shape without the
    * sort: identity promises uniqueness + monotonicity vs the watermark,
    * not any row order. */
  private[catalog] def assignIdentity(df: DataFrame, name: String, base: Long,
      step: Long): DataFrame = {
    val withIdx = df.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (base + step * (i + 1)))
    }
    df.sparkSession.createDataFrame(withIdx,
      StructType(df.schema.fields :+ StructField(name, LongType, false)))
  }

  /** Fill every recorded-but-absent identity column, continuing above the
    * live data's watermark (column-pruned max scan; `start - step` when
    * the table is new/empty so the first id is exactly `start`). */
  private def fillIdentity(spark: SparkSession, dir: String,
      df: DataFrame): DataFrame =
    identity(spark, dir).foldLeft(df) { case (d, (n, start, step)) =>
      if (has(d, n)) d
      else {
        val base =
          if (!fsOf(spark, dir).exists(new Path(dir))) start - step
          else {
            val row = spark.read.parquet(dir).select(n).agg(max(col(n)))
              .collect()(0)
            if (row.isNullAt(0)) start - step else row.getLong(0)
          }
        assignIdentity(d, n, math.max(base, start - step), step)
      }
    }

  // ------------------------------------------------- schema-on-write

  /** The live table's schema for the shape check. Flat snapshots and
    * bucket-partitioned tables keep it in an in-dir sidecar, so with
    * `sidecar` the check reads ONE small file instead of re-inferring
    * from footers (a listing + a one-task Spark job per commit); a table
    * without one falls back to inference. Hive-partitioned trees always
    * infer: partition-column types there come from directory names, which
    * the writer-side schema can't be trusted to mirror. */
  private[graft] def liveSchema(spark: SparkSession, dir: String,
      sidecar: Boolean): StructType =
    (if (sidecar) PartitionedMerge.schemaOf(spark, dir) else None)
      .getOrElse(PartitionedMerge.readRaw(spark, dir).schema)

  /** Delta's schema-on-write: the written frame must carry the table's
    * columns and types (order-, case- and nullability-insensitive) — a
    * typo'd column or upstream type drift fails at the write, not in a
    * downstream reader weeks later. `bucketed` writers route rows
    * themselves, so the bucket column is layout there, not data. Returns
    * the difference named per kind, None when the shapes agree. */
  private[graft] def shapeDiff(table: StructType, written: StructType,
      bucketed: Boolean = false): Option[String] = {
    def shape(s: StructType) = s.fields.filterNot(x =>
        bucketed && x.name.equalsIgnoreCase(PartitionedMerge.BucketCol))
      .map(x => x.name.toLowerCase -> x.dataType).toMap
    val (cur, nw) = (shape(table), shape(written))
    if (cur == nw) None
    else {
      val retyped = cur.keySet.intersect(nw.keySet)
        .filter(k => cur(k) != nw(k)).toSeq.sorted
        .map(k => s"$k: ${cur(k).simpleString} -> ${nw(k).simpleString}")
      Some(Seq("added" -> (nw.keySet -- cur.keySet).toSeq.sorted,
        "removed" -> (cur.keySet -- nw.keySet).toSeq.sorted,
        "retyped" -> retyped).collect {
        case (t, xs) if xs.nonEmpty => s"$t [${xs.mkString(", ")}]"
      }.mkString("; "))
    }
  }

  // ------------------------------------------------- CHECK enforcement

  /** Per-check violation counts over `df` in ONE aggregation pass
    * (`sum(expr IS FALSE)` per check — no per-check scans); raises naming
    * every violated check. No checks, no job. */
  private[graft] def enforce(df: DataFrame, checks: Seq[(String, String)],
      dir: String): Unit =
    if (checks.nonEmpty) {
      val aggs = checks.map { case (n, e) =>
        sum(when(coalesce(expr(e), lit(true)) === false, 1L).otherwise(0L))
          .as(n)
      }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val bad = checks.indices.map(i => (checks(i)._1, // empty df → null sums
          if (row.isNullAt(i)) 0L else row.getLong(i))).filter(_._2 > 0)
      if (bad.nonEmpty) throw new IllegalStateException(
        s"CHECK constraint violation writing $dir: " + bad.map {
          case (n, c) => s"$n ($c rows)"
        }.mkString(", "))
    }

  /** [[enforce]] over the STAGED files (no upstream recompute), before
    * any rename: the live table is never replaced by violating rows, and
    * a violation deletes the stage. `schema` skips footer inference — and
    * is required where the stage may be file-less (a partitioned write of
    * zero rows). */
  private[graft] def enforceStaged(spark: SparkSession, dir: String,
      checks: Seq[(String, String)], stage: Path,
      schema: Option[StructType] = None): Unit =
    if (checks.nonEmpty) {
      try enforce(schema.fold(spark.read)(spark.read.schema)
        .parquet(stage.toString), checks, dir)
      catch { case e: Throwable =>
        fsOf(spark, dir).delete(stage, true); throw e }
    }

  /** REPLACE WHERE's rule (Delta's): every inserted row must match `cond`.
    * Under three-valued logic a NULL result does not match, so it counts
    * as a violation (`!cond` alone would let it through). Checked over the
    * STAGED rows, in the job that counts them; returns that count. */
  private[graft] def requireInRegion(staged: DataFrame, cond: Column,
      dir: String): Long = {
    val r = staged.agg(count(lit(1)),
      sum(when(coalesce(cond, lit(false)), 0L).otherwise(1L))).collect()(0)
    val outside = if (r.isNullAt(1)) 0L else r.getLong(1)
    require(outside == 0, s"REPLACE WHERE on $dir: $outside inserted " +
      s"row(s) violate the predicate ($cond) — the statement replaces ONLY " +
      "that region")
    r.getLong(0)
  }

  // ------------------------------------------------- staged move

  /** Move every staged data file of `stage` into the next snapshot `tmp`
    * under its relative path (bucket/partition dirs created as needed),
    * then drop the stage. Collision-checked: a staged name can never
    * overwrite a linked one. */
  private[graft] def moveStaged(f: FileSystem, stage: Path, tmp: Path): Unit = {
    def move(from: Path, to: Path): Unit = f.listStatus(from).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        val d = new Path(to, n)
        if (st.isDirectory) { f.mkdirs(d); move(st.getPath, d) }
        else {
          require(!f.exists(d), s"staging name collision: $n")
          require(SwapProtocol.move("stage-move", f, st.getPath, d),
            s"stage move failed: $n")
        }
      }
    }
    move(stage, tmp)
    f.delete(stage, true)
  }
}
