package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.layout.SwapProtocol

/** Lakehouse namespace: `layer.table` → path, with snapshot-semantics
  * overwrite (SURVEY.md §1.1).
  *
  * The reference's namespace is three ADLS containers (`abfss://bronze@…`,
  * `abfss://silver@…`, `abfss://gold@…` — Bronze_Layer.py:35,
  * Silver_Customers.py:41, Gold_Orders.py:20) plus Unity-Catalog 3-part
  * names. Here the same shape is `<warehouse>/{bronze,silver,gold}/<table>`
  * over any Hadoop filesystem.
  *
  * Snapshot swap (SURVEY §7.3): every write — the first load included —
  * stages a complete snapshot under a unique `<table>.tmp-<id>` and
  * commits it through [[graft.layout.SwapProtocol.commit]]: claim the
  * version transition, retire the live dir into `<table>.history/v{N}`,
  * rename the stage live, advance `<table>.history/_current`. On HDFS/
  * local FS rename is atomic per directory move, so a reader resolving
  * the path sees the old or the new snapshot, never a half-written one.
  * (On S3-like stores a manifest-pointer commit would replace the rename
  * pair — same protocol, different primitive.)
  *
  * Time travel (Delta `VERSION AS OF`, Gold_Customers.py:105 context): the
  * version log keeps the last `keepVersions` retired snapshots; the pointer
  * advances only AFTER the swap completes, so a crash mid-swap leaves it on
  * the old version — whose data is intact in the log. Before the next
  * write the protocol settles it: a snapshot already staged in (readers
  * may have seen it) is rolled forward to the next version; a retire with
  * nothing staged in is rolled back.
  */
class Catalog(spark: SparkSession, warehouse: String,
    val keepVersions: Int = 10) {
  val layers: Seq[String] = Seq("bronze", "silver", "gold")

  def path(layer: String, table: String): String = s"$warehouse/$layer/$table"

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(layer: String, table: String): Boolean =
    Catalog.existsPath(spark, path(layer, table))

  def read(layer: String, table: String): DataFrame =
    graft.layout.DeletionVectors.readPath(spark, path(layer, table))

  /** The live snapshot's version number (1-based; 0 = table absent). */
  def currentVersion(layer: String, table: String): Int =
    SwapProtocol.readPointer(fs, path(layer, table))

  /** Version-addressed read (Delta `VERSION AS OF`): the live version reads
    * the current dir, older versions read the retained log entry. */
  def readVersion(layer: String, table: String, v: Int): DataFrame =
    graft.layout.DeletionVectors.readPath(spark,
      Catalog.resolveVersionPath(spark, path(layer, table), v))

  /** Timestamp-addressed read (Delta `TIMESTAMP AS OF`): the newest version
    * committed at or before `ts`. */
  def readTimestamp(layer: String, table: String, ts: java.sql.Timestamp)
      : DataFrame =
    graft.layout.DeletionVectors.readPath(spark,
      Catalog.resolveTimestampPath(spark, path(layer, table), ts.getTime))

  /** Versions currently readable: the retained log entries + the live one.
    * One `listStatus` of the (bounded) history dir — NOT an existence
    * probe per historical version number, which would grow with table age. */
  def listVersions(layer: String, table: String): Seq[Int] = {
    val cur = currentVersion(layer, table)
    if (cur == 0) Nil
    else {
      val hist = SwapProtocol.historyDir(path(layer, table))
      val logged =
        if (!fs.exists(hist)) Nil
        else fs.listStatus(hist).map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.drop(1).nonEmpty &&
            n.drop(1).forall(_.isDigit))
          .map(_.drop(1).toInt).filter(_ < cur).sorted.toSeq
      logged :+ cur
    }
  }

  /** `DESCRIBE HISTORY` equivalent: one row per readable version with its
    * commit time and physical footprint. Driver-side listing, bounded by
    * `keepVersions` (file sizes are summed one directory level deep —
    * partitioned snapshots report their top-level footprint). The SQL
    * surface (`DESCRIBE HISTORY <table>` via graft.sql) shares
    * [[Catalog.historyRows]]. */
  def history(layer: String, table: String): DataFrame = {
    import spark.implicits._
    Catalog.historyRows(spark, path(layer, table))
      .toDF("version", "is_current", "snapshot_time", "num_entries",
        "size_bytes", "operation").orderBy(col("version").desc)
  }

  /** The snapshot replaced by the most recent overwrite. Falls back to the
    * pre-version-log single-depth `.prev` layout so warehouses written by
    * an older engine stay readable. */
  def readPrevious(layer: String, table: String): DataFrame = {
    val cur = currentVersion(layer, table)
    if (cur > 1 && fs.exists(SwapProtocol.versionDir(path(layer, table), cur - 1)))
      readVersion(layer, table, cur - 1)
    else graft.layout.DeletionVectors.readPath(spark,
      path(layer, table) + ".prev")
  }

  def hasPrevious(layer: String, table: String): Boolean = {
    val cur = currentVersion(layer, table)
    (cur > 1 && fs.exists(SwapProtocol.versionDir(path(layer, table), cur - 1))) ||
      fs.exists(new Path(path(layer, table) + ".prev")) // legacy layout
  }

  /** First-load create (the reference's `saveAsTable` path,
    * Gold_Customers.py:65-68): staged and committed as version 1 like
    * every other write, so rules recorded before the first load apply and
    * a crash mid-load leaves no half-table. Refuses an existing table. */
  def create(df: DataFrame, layer: String, table: String,
      partitionBy: Seq[String] = Nil): Unit =
    Catalog.overwritePath(spark, df, path(layer, table), partitionBy,
      keepVersions, expectedVersion = Some(0))

  /** Snapshot overwrite with atomic swap (replaces Delta's transactional
    * overwrite, Silver_Customers.py:41). Schema-on-write is STRICT like
    * Delta's: a frame whose columns/types differ from the live snapshot is
    * rejected unless `allowSchemaChange` (Delta's `overwriteSchema`). */
  def overwriteSnapshot(df: DataFrame, layer: String, table: String,
      partitionBy: Seq[String] = Nil,
      allowSchemaChange: Boolean = false,
      commitTag: Option[(String, String)] = None): Unit = {
    Catalog.overwritePath(spark, df, path(layer, table), partitionBy,
      keepVersions, allowSchemaChange, commitTag = commitTag)
    refresh(layer, table)
    if (partitionBy.isEmpty) maybeAutoCompact(layer, table)
  }

  /** Delta auto-compaction: opt-in via
    * `spark.conf.set("graft.autoCompact.minFiles", n)` — after a commit
    * leaves more than n data files in the live snapshot, a follow-up
    * OPTIMIZE packs them to `graft.autoCompact.targetFileSize` (default
    * 128 MiB) as its own version. The write stays fast (no pre-write
    * shuffle); the debt is repaid immediately and atomically, which is
    * exactly Delta's post-commit auto-compact shape. Small frequent
    * appends/micro-batches are the trigger case; the compaction cost is
    * O(fragmented data), bounded by the same file-count check that
    * triggers it. */
  private def maybeAutoCompact(layer: String, table: String): Unit =
    spark.conf.getOption("graft.autoCompact.minFiles")
      .map(_.trim.toInt).filter(_ > 0).foreach { minFiles =>
        val dir = new Path(path(layer, table))
        val f = fs
        if (f.exists(dir)) {
          val nFiles = f.listStatus(dir).count { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          if (nFiles > minFiles)
            // best-effort, like Delta's: the caller's OWN commit already
            // landed, so losing the compaction race to a concurrent
            // writer must not fail the write — the fragmentation debt
            // simply re-triggers on the next commit
            try compact(layer, table,
              spark.conf.getOption("graft.autoCompact.targetFileSize")
                .map(_.trim.toLong).getOrElse(128L * 1024 * 1024))
            catch { case _: Catalog.ConcurrentCommitException => () }
        }
      }

  /** Versioned append — the `INSERT INTO` lowering
    * ([[Catalog.appendPath]]): existing files hard-linked into the next
    * snapshot, new rows' files added, committed through the ordinary swap.
    * O(new data + file-count metadata), never O(table). */
  def append(df: DataFrame, layer: String, table: String): Unit = {
    Catalog.appendPath(spark, df, path(layer, table), keepVersions)
    refresh(layer, table)
    maybeAutoCompact(layer, table)
  }

  /** Register the table in the session catalog so `spark.table` /
    * `spark.sql` can address it by name (the reference's external-location
    * DDL, Silver_Customers.py:46-48). */
  def register(layer: String, table: String): Unit = {
    spark.sql(s"CREATE SCHEMA IF NOT EXISTS $layer")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $layer.$table
          USING parquet LOCATION '${path(layer, table)}'""")
  }

  def tableExists(layer: String, table: String): Boolean =
    spark.catalog.tableExists(s"$layer.$table")

  def dropRegistration(layer: String, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $layer.$table")

  /** Delta OPTIMIZE's job for this layout: rewrite the live snapshot into
    * ~`targetFileSize`-byte files as a NEW version through the ordinary
    * swap (contents unchanged, history gains an entry, the retired version
    * ages out through retention/vacuum). Small files accumulate from
    * frequent merges/micro-batches; scan cost at 100 TB is dominated by
    * file-open overhead once files shrink below ~100 MB, so periodic
    * compaction is part of the scale posture, not cosmetics.
    * Bucket-partitioned tables compact per bucket via
    * [[graft.merge.PartitionedMerge.compact]] — only oversized buckets are
    * rewritten. `partitionBy` (for directory-partitioned snapshots) packs
    * each partition into one file instead of size-targeted global packing. */
  def compact(layer: String, table: String, targetFileSize: Long,
      partitionBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil): Unit = {
    Catalog.compactPath(spark, path(layer, table), targetFileSize,
      keepVersions, partitionBy, zorderBy)
    refresh(layer, table)
  }

  /** Partition-scoped OPTIMIZE (Delta `OPTIMIZE t WHERE <pred>`):
    * [[compact]] restricted to the hive partitions a partition-column
    * predicate matches — untouched partitions hard-link into the new
    * version. See [[Catalog.compactWherePath]]. */
  def compactWhere(layer: String, table: String, predicate: String): Unit = {
    Catalog.compactWherePath(spark, path(layer, table), predicate,
      keepVersions)
    refresh(layer, table)
  }

  /** Delta RESTORE's job: make version `v`'s contents the LIVE snapshot, as
    * a NEW version (the restored-from state stays in the log — Delta's
    * semantics exactly). Bucketed tables materialize the reconstruction as
    * a full bucket-partitioned snapshot. */
  def restore(layer: String, table: String, v: Int): Unit = {
    Catalog.restorePath(spark, path(layer, table), v, keepVersions)
    refresh(layer, table)
  }

  /** Delta `DEEP CLONE`: an independent physical copy of the LIVE
    * snapshot — the clone starts its own history at version 1 and later
    * writes to either table never touch the other. The copy preserves the
    * source's physical layout byte for byte (bucket dirs, file packing,
    * z-ordering), which a read-and-rewrite clone would destroy. Local/HDFS
    * cost is a file copy; on an object store the same loop issues
    * server-side copies — either way O(live data), never O(history). */
  def clone(srcLayer: String, srcTable: String,
      dstLayer: String, dstTable: String): Unit = {
    Catalog.clonePath(spark, path(srcLayer, srcTable),
      path(dstLayer, dstTable))
    if (tableExists(srcLayer, srcTable)) register(dstLayer, dstTable)
  }

  /** Delta `SHALLOW CLONE`: a zero-copy clone sharing the source's live
    * data files. Delta implements it as metadata referencing the source's
    * paths; a plain-parquet directory has no metadata layer, so the local/
    * HDFS equivalent is a HARD-LINK tree — O(file count) metadata ops, no
    * data movement, and (better than Delta's) immune to a later VACUUM of
    * the source: unlinking a name never frees a still-linked inode. On
    * stores without links (S3) the same walk degrades to server-side
    * copies. Like DEEP CLONE the clone starts its own history. */
  def shallowClone(srcLayer: String, srcTable: String,
      dstLayer: String, dstTable: String): Unit = {
    Catalog.clonePath(spark, path(srcLayer, srcTable),
      path(dstLayer, dstTable), shallow = true)
    if (tableExists(srcLayer, srcTable)) register(dstLayer, dstTable)
  }

  /** Delta `ALTER TABLE … RENAME COLUMN` (column mapping's headline use).
    * Plain parquet has no name-mapping layer, so the rename REWRITES the
    * live snapshot under the new name as an ordinary versioned commit —
    * time travel still reads retired versions under the OLD name, exactly
    * the per-version schema Delta's mapping preserves. Columns referenced
    * by CHECK constraints or generated-column definitions refuse (Delta's
    * rule — drop the dependent object first). */
  def renameColumn(layer: String, table: String, oldName: String,
      newName: String): Unit = {
    Catalog.renameColumnPath(spark, path(layer, table), oldName, newName,
      keepVersions)
    reRegister(layer, table)
  }

  /** Delta `ALTER TABLE … DROP COLUMN`: versioned rewrite without the
    * column (retired versions still carry it — RESTORE brings it back).
    * Same dependency guards as [[renameColumn]]. */
  def dropColumn(layer: String, table: String, name: String): Unit = {
    Catalog.dropColumnPath(spark, path(layer, table), name, keepVersions)
    reRegister(layer, table)
  }

  /** A v1 external table pins its metastore schema at CREATE time; after a
    * column rename/drop the registration must be rebuilt so `spark.table`
    * sees the new shape (ALTER TABLE RENAME/DROP COLUMN is v2-only). */
  private def reRegister(layer: String, table: String): Unit =
    if (tableExists(layer, table)) {
      dropRegistration(layer, table)
      register(layer, table)
      spark.catalog.refreshTable(s"$layer.$table")
    }

  /** Delta `table_changes` for this layout ([[ChangeFeed.tableChanges]]):
    * net changes between two logged versions; with `keys`, full CDC rows
    * including update pre/post images. */
  def changes(layer: String, table: String, fromV: Int, toV: Int,
      keys: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    ChangeFeed.tableChanges(spark, path(layer, table), fromV, toV, keys)

  /** Delta `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)`: existing rows
    * are validated first (one scan — Delta's semantics), then the
    * constraint is recorded and every later snapshot write through this
    * catalog enforces it ([[Catalog.overwritePath]]). */
  def addConstraint(layer: String, table: String, name: String,
      check: String): Unit =
    Catalog.addConstraintPath(spark, path(layer, table), name, check)

  def dropConstraint(layer: String, table: String, name: String): Unit =
    Catalog.dropConstraintPath(spark, path(layer, table), name)

  /** The table's recorded CHECK constraints, as (name, expression SQL). */
  def constraints(layer: String, table: String): Seq[(String, String)] =
    TableRules.constraints(spark, path(layer, table))

  /** Delta `GENERATED ALWAYS AS` for this layout: record the column,
    * materialize it over the existing data as a new version, and have
    * every later snapshot write compute it when absent / validate it when
    * provided ([[Catalog.overwritePath]]). */
  def addGeneratedColumn(layer: String, table: String, name: String,
      expr: String): Unit = {
    Catalog.addGeneratedColumnPath(spark, path(layer, table), name, expr)
    if (tableExists(layer, table)) {
      // v1 external tables pin their metastore schema — same rule as
      // MERGE WITH SCHEMA EVOLUTION
      val dt = read(layer, table).schema(name).dataType.sql
      spark.sql(s"ALTER TABLE $layer.$table ADD COLUMNS (`$name` $dt)")
      spark.catalog.refreshTable(s"$layer.$table")
    }
  }

  def generatedColumns(layer: String, table: String): Seq[(String, String)] =
    TableRules.generated(spark, path(layer, table))

  /** Stop generating/validating the column; the DATA column stays (it is
    * real data in every snapshot) — it just becomes an ordinary column. */
  def dropGeneratedColumn(layer: String, table: String, name: String): Unit =
    Catalog.dropGeneratedColumnPath(spark, path(layer, table), name)

  /** Delta `GENERATED ALWAYS AS IDENTITY` for this layout: record the
    * column, materialize it over existing rows as a new version, and have
    * every later write assign `max(existing) + step·i` to rows of frames
    * that omit the column. ALWAYS semantics: `INSERT` statements may not
    * provide values; engine rewrites (compact/restore/merge), which carry
    * the existing column through, preserve it untouched. Uniqueness and
    * monotonicity are guaranteed; density is not (Delta's contract). */
  def addIdentityColumn(layer: String, table: String, name: String,
      start: Long = 1L, step: Long = 1L): Unit = {
    Catalog.addIdentityColumnPath(spark, path(layer, table), name, start,
      step)
    if (tableExists(layer, table)) {
      spark.sql(s"ALTER TABLE $layer.$table ADD COLUMNS (`$name` BIGINT)")
      spark.catalog.refreshTable(s"$layer.$table")
    }
  }

  def identityColumns(layer: String, table: String): Seq[(String, Long, Long)] =
    TableRules.identity(spark, path(layer, table))

  /** Stop assigning; the column becomes ordinary data. */
  def dropIdentityColumn(layer: String, table: String, name: String): Unit =
    Catalog.dropIdentityColumnPath(spark, path(layer, table), name)

  /** Delta's stats collection (ANALYZE … FOR COLUMNS) for this layout:
    * per-file min/max/null stats (+ optional Bloom filters) into the
    * snapshot's `_skipping` manifest — [[graft.layout.DataSkipping]]. */
  def analyzeSkipping(layer: String, table: String, cols: Seq[String],
      bloomCols: Seq[String] = Nil): Int =
    graft.layout.DataSkipping.analyze(spark, path(layer, table), cols,
      bloomCols)

  /** Stats-pruned read — only files whose stats admit a match are scanned;
    * results are exactly the unpruned filter's. */
  def readSkipping(layer: String, table: String,
      preds: Seq[graft.layout.DataSkipping.SkipPred]): DataFrame =
    graft.layout.DataSkipping.read(spark, path(layer, table), preds)

  /** Delta VACUUM's job for this layout: delete abandoned staging dirs
    * (`.tmp`, `.tmp-merge` from a crashed swap), retired per-bucket
    * `.prev-*` dirs (PartitionedMerge's rotation leftovers), and version-log
    * entries that fell out of the retention window. Never touches the live
    * snapshot, the pointer, or retained versions. Returns deleted paths.
    * `dryRun` (Delta's `VACUUM … DRY RUN`) lists them without deleting. */
  def vacuum(layer: String, table: String, dryRun: Boolean = false)
      : Seq[String] =
    Catalog.vacuumPath(spark, path(layer, table), keepVersions, dryRun)

  /** Merge-on-read DML ([[graft.layout.DeletionVectors]]): with the mode
    * on, `deleteWhere`/`updateWhere` commit position sidecars instead of
    * rewriting the table — O(matched), never O(table). Reads through this
    * catalog always apply whatever sidecar exists. */
  def enableDeletionVectors(layer: String, table: String): Unit =
    graft.layout.DeletionVectors.enable(spark, path(layer, table))

  def disableDeletionVectors(layer: String, table: String): Unit =
    graft.layout.DeletionVectors.disable(spark, path(layer, table))

  /** Row-level DELETE through [[Catalog.deleteWherePath]] (routing table
    * at [[Catalog.updateWherePath]]). Returns num_affected_rows. */
  def deleteWhere(layer: String, table: String,
      cond: org.apache.spark.sql.Column): Long =
    refreshed(layer, table,
      Catalog.deleteWherePath(spark, path(layer, table), cond, keepVersions))

  /** Row-level UPDATE through [[Catalog.updateWherePath]]. */
  def updateWhere(layer: String, table: String,
      cond: org.apache.spark.sql.Column,
      assign: Seq[(String, org.apache.spark.sql.Column)]): Long =
    refreshed(layer, table, Catalog.updateWherePath(spark, path(layer, table),
      cond, assign, keepVersions))

  /** MERGE through [[Catalog.mergePath]], then [[overwriteSnapshot]]'s
    * registration refresh and auto-compaction. */
  def merge(layer: String, table: String, source: DataFrame,
      keys: Seq[String], commitTag: Option[(String, String)] = None)(
      fn: (DataFrame, DataFrame) => DataFrame): Unit = {
    Catalog.mergePath(spark, path(layer, table), source, keys,
      keepVersions = keepVersions, commitTag = commitTag)(fn)
    refresh(layer, table)
    maybeAutoCompact(layer, table)
  }

  private def refreshed(layer: String, table: String, n: Long): Long = {
    if (n > 0) refresh(layer, table)
    n
  }

  /** A registered table's cached file listing outlives the commit. */
  private def refresh(layer: String, table: String): Unit =
    if (tableExists(layer, table)) spark.catalog.refreshTable(s"$layer.$table")

  /** Fold the table's deletion-vector sidecar into rewritten files
    * (Delta `REORG … APPLY (PURGE)`). */
  def materializeDeletes(layer: String, table: String): Unit = {
    graft.layout.DeletionVectors.materialize(spark, path(layer, table),
      keepVersions)
    refresh(layer, table)
  }
}

object Catalog {
  import org.apache.hadoop.fs.FileSystem

  // The commit protocol (version-log layout, pointer, recovery epoch)
  // lives in [[graft.layout.SwapProtocol]].
  import SwapProtocol.{historyDir, versionDir, readSmallFile, readPointer}

  /** Whether a table lives at `dir` — the question every first-load
    * decision asks. The live dir answers it; a missing one is still a
    * table when its pointer is past 0: a commit's retire window, or a
    * crashed commit's, which is rolled back here first. Trusting the bare
    * dir would send a crashed table down the create path, which refuses
    * it (expected version 0) on every run. */
  def existsPath(spark: SparkSession, dir: String): Boolean = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.exists(new Path(dir)) ||
      SwapProtocol.recoverAbortedSwap(spark, f, dir) > 0
  }

  /** The latest commit-tag value for `key` across the live snapshot and
    * the logged versions (newest first). A commit tag is a tiny
    * `_graft_commit_tag_<key>` file written INTO the staged snapshot
    * before the swap rename — so it becomes visible atomically WITH the
    * commit it describes. A streaming sink stamps its (checkpoint, batchId)
    * here; on replay after a crash between the swap and its own
    * checkpoint-side marker, the table itself answers "was this batch
    * already committed?" — closing the swap-to-marker duplicate window.
    * Tags are per-version (appends do not link `_`-prefixed files
    * forward), hence the newest-first history probe. */
  private val OperationTagKey = SwapProtocol.OperationTag

  def lastCommitTag(spark: SparkSession, dir: String,
      key: String): Option[String] = {
    val root = new Path(dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) return None
    def tagOf(d: Path): Option[String] = {
      val p = new Path(d, s"_graft_commit_tag_$key")
      if (f.exists(p)) Some(readSmallFile(f, p)) else None
    }
    tagOf(root).orElse {
      val hist = historyDir(dir)
      if (!f.exists(hist)) None
      else f.listStatus(hist).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toInt).sorted(Ordering.Int.reverse).toSeq
        .iterator.flatMap(v => tagOf(versionDir(dir, v))).nextOption()
    }
  }

  /** Every commit tag visible on the LIVE snapshot (key → value, key
    * order) — the material the SQL `SHOW TBLPROPERTIES` surface lists:
    * operator-stamped bounds (`ivf.maxList`), materialized-view refresh
    * watermarks, streaming batch markers, and the `operation` stamp.
    * Tags carry forward across commits (the [[SwapProtocol.commit]] rule), so
    * the live dir alone answers — one bounded `listStatus`, no history
    * walk. */
  def listCommitTags(spark: SparkSession, dir: String)
      : Seq[(String, String)] = {
    val root = new Path(dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Nil
    else f.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("_graft_commit_tag_"))
      .map(p => p.getName.stripPrefix("_graft_commit_tag_") ->
        readSmallFile(f, p))
      .sortBy(_._1).toSeq
  }

  /** Per-version (version, is_current, commit time, entry count, bytes,
    * operation) rows for a table directory — the computation behind both
    * [[Catalog!.history]] and the SQL `DESCRIBE HISTORY` command. The
    * operation is the committing writer's self-report (WRITE / APPEND /
    * MERGE / DELETE / UPDATE / OPTIMIZE / RESTORE / …); versions written
    * before operation stamping, and bucketed-table log entries (created
    * at retire time, outside the swap), report WRITE. */
  def historyRows(spark: SparkSession, dir: String)
      : Seq[(Int, Boolean, java.sql.Timestamp, Int, Long, String)] = {
    val root = new Path(dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readPointer(f, dir)
    if (cur == 0) return Nil
    val hist = historyDir(dir)
    val logged =
      if (!f.exists(hist)) Nil
      else f.listStatus(hist).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit))
        .map(_.drop(1).toInt).filter(_ < cur).sorted.toSeq
    (logged :+ cur).map { v =>
      val p = if (v == cur) root else versionDir(dir, v)
      val entries = f.listStatus(p)
        .filterNot(s => s.getPath.getName.startsWith("_"))
      val opFile = new Path(p, s"_graft_commit_tag_$OperationTagKey")
      val op =
        if (f.exists(opFile)) readSmallFile(f, opFile) else "WRITE"
      (v, v == cur,
        new java.sql.Timestamp(f.getFileStatus(p).getModificationTime),
        entries.length, entries.map(_.getLen).sum, op)
    }
  }

  /** Resolve a version number to its snapshot directory (live dir for the
    * current version, log entry otherwise) — the seam SQL `VERSION AS OF`
    * resolution shares with [[Catalog.readVersion]]. */
  def resolveVersionPath(spark: SparkSession, dir: String, v: Int): String = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = readPointer(f, dir)
    require(v >= 1 && v <= cur,
      s"version $v out of range for $dir (current = $cur)")
    if (v == cur) dir
    else {
      val p = versionDir(dir, v)
      require(f.exists(p), s"version $v of $dir was pruned from the log")
      p.toString
    }
  }

  /** Resolve a commit timestamp to a version number: the NEWEST version
    * whose commit time is ≤ `millis` (Delta's `TIMESTAMP AS OF` rule). A
    * timestamp at or past the latest commit reads the live snapshot; one
    * before the earliest RETAINED commit raises (that state is no longer
    * reconstructible — same contract as a pruned `VERSION AS OF`). Commit
    * times are the per-version times `historyRows` reports: a snapshot
    * directory's files are written once and the directory is only ever
    * renamed afterwards, so its modification time is the write time of
    * that version — the swap never rewrites retired data. Bucketed tables
    * can't use directory times (their log entries are created at RETIRE
    * time — the NEXT version's commit) so every bucket-swap commit stamps
    * an explicit `_commit_time_v{N}` marker instead, and resolution reads
    * those ([[graft.merge.PartitionedMerge.commitTimes]]). */
  def resolveTimestampVersion(spark: SparkSession, dir: String, millis: Long)
      : Int = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (isBucketedLayout(f, dir)) {
      val cur = readPointer(f, dir)
      val stamped = graft.merge.PartitionedMerge.commitTimes(spark, dir)
        .filter(_._1 <= cur)
      require(stamped.nonEmpty,
        s"no commit-time records for bucketed table $dir (written before " +
          "timestamp support); use VERSION AS OF <n>")
      // only versions whose every transition [v, cur) is still retained
      // are reconstructible — same contract as a pruned VERSION AS OF
      val minReconstructible = (1 to cur).find(v =>
        (v until cur).forall(w => f.exists(versionDir(dir, w)))).getOrElse(cur)
      val eligible = stamped
        .filter { case (v, t) => v >= minReconstructible && t <= millis }
      require(eligible.nonEmpty,
        s"timestamp ${new java.sql.Timestamp(millis)} is before the " +
          s"earliest retained version of $dir (earliest stamped commit: " +
          new java.sql.Timestamp(stamped.map(_._2).min) + ")")
      return eligible.map(_._1).max
    }
    val rows = historyRows(spark, dir)
    require(rows.nonEmpty, s"table $dir does not exist")
    val eligible = rows.filter(_._3.getTime <= millis)
    require(eligible.nonEmpty,
      s"timestamp ${new java.sql.Timestamp(millis)} is before the earliest " +
        "retained version of " + dir + " (earliest commit: " +
        new java.sql.Timestamp(rows.map(_._3.getTime).min) + ")")
    eligible.map(_._1).max
  }

  def resolveTimestampPath(spark: SparkSession, dir: String, millis: Long)
      : String =
    resolveVersionPath(spark, dir, resolveTimestampVersion(spark, dir, millis))

  /** Partition column names of a partition-dir snapshot, read off the
    * layout itself (the first-child chain of `name=value` levels) — the
    * seam callers without catalog metadata (layer.table API, raw-path
    * tools) share with DmlSql's metastore-resolved `partCols`. Nil for
    * flat snapshots; `Seq(gbucket)` for the bucketed layout. */
  private[graft] def partitionColsOf(f: FileSystem, dir: String)
      : Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = new Path(dir)
    var descend = f.exists(p)
    while (descend) {
      val sub = f.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isDirectory && n.contains("=") &&
          !n.startsWith("_") && !n.startsWith(".")
      }
      if (sub.isEmpty) descend = false
      else { cols += sub.head.getPath.getName.takeWhile(_ != '=')
             p = sub.head.getPath }
    }
    cols.toSeq
  }

  /** Does `dir` hold PartitionedMerge's bucket layout? One listing, plus
    * the `<dir>.buckets` manifest as the durable marker: a fully-emptied
    * bucketed table has NO live bucket dirs (every one retired), and
    * losing the layout identity there would let a flat append corrupt
    * the tree or an empty-state read fail schema inference. */
  private[graft] def isBucketedLayout(
      f: FileSystem, dir: String): Boolean = {
    val p = new Path(dir)
    f.exists(p) && (
      f.listStatus(p).exists(_.getPath.getName
        .startsWith(graft.merge.PartitionedMerge.BucketCol + "=")) ||
      f.exists(new Path(dir + ".buckets")))
  }

  /** Version-addressed relation — the seam SQL time travel reads through.
    * Plain snapshots read the resolved snapshot dir; bucket-partitioned
    * tables reconstruct the version from the per-bucket retire log (bucket
    * column retained, matching the registered live relation's shape). */
  def versionRead(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (isBucketedLayout(f, dir))
      graft.merge.PartitionedMerge.reconstructVersion(spark, dir, v)
    else graft.layout.DeletionVectors.readPath(spark,
      resolveVersionPath(spark, dir, v))
  }

  /** [[Catalog!.compact]] on a raw table directory — the seam SQL
    * `OPTIMIZE <table>` shares with the layer.table API. */
  /** Partition-scoped OPTIMIZE (Delta `OPTIMIZE t WHERE <pred>`): pack
    * ONLY the hive partitions matching a partition-column predicate into
    * one file each (the partitioned [[compactPath]] convention); every
    * other partition's files hard-link into the new version unchanged.
    * At 100 TB this is the difference between compacting yesterday's
    * ingest partition and rewriting the table: cost is O(matched data +
    * file-count metadata). Per Delta's rule the predicate may reference
    * partition columns only — it resolves by partition pruning on the
    * scan, so matching never reads data rows; the matched-directory set
    * comes from the pruned scan's own file list (no hand re-derivation
    * of partition-value escaping). */
  def compactWherePath(spark: SparkSession, dir: String, predicate: String,
      keepVersions: Int = 10): Unit = raceToConflict(dir) {
    val dst = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val f = dst.getFileSystem(conf)
    require(f.exists(dst), s"no table at $dir")
    require(!isBucketedLayout(f, dir),
      "bucketed layouts compact per bucket — OPTIMIZE already rewrites " +
        "only oversized buckets; WHERE has nothing to add")
    require(!graft.layout.DeletionVectors.hasDv(spark, dir),
      s"$dir carries a deletion-vector sidecar; run full OPTIMIZE " +
        "(which folds it) before partition-scoped compaction")
    val partCols = partitionColsOf(f, dir)
    require(partCols.nonEmpty,
      "OPTIMIZE ... WHERE requires a hive-partitioned snapshot")
    val pred = org.apache.spark.sql.functions.expr(predicate)
    // parse once more for the reference check (Spark 4's Column no
    // longer exposes its expression): collect the referenced NAMES
    val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(predicate).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name.toLowerCase
      }.toSet
    require(refs.nonEmpty &&
      refs.subsetOf(partCols.map(_.toLowerCase).toSet),
      s"OPTIMIZE WHERE predicate may reference partition columns only " +
        s"(${partCols.mkString(", ")}), got: $predicate")
    val stagedAgainst = readPointer(f, dir)
    val all = spark.read.parquet(dir)
    // which partition DIRS matched: ask the pruned scan for its files
    val basePath = f.makeQualified(dst).toUri.getPath
    val matchedRel = all.filter(pred)
      .select(org.apache.spark.sql.functions.input_file_name().as("p"))
      .distinct().collect()
      .map { r =>
        val p = new Path(new java.net.URI(r.getString(0))).toUri.getPath
        val rel = p.stripPrefix(basePath).stripPrefix("/")
        rel.substring(0, rel.lastIndexOf('/')) // the partition dir
      }.toSet
    if (matchedRel.nonEmpty) { // no match → no-op, no empty version
      val tmp = stagingPath(dir, "")
      f.mkdirs(tmp)
      linkDataTree(f, conf, dst, tmp)
      // unlink the matched partitions — their packed rewrite replaces them
      matchedRel.foreach(rel => f.delete(new Path(tmp, rel), true))
      val stage = stagingPath(dir, "-optwhere")
      all.filter(pred)
        .repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partCols: _*).parquet(stage.toString)
      TableRules.moveStaged(f, stage, tmp)
      // linked files keep valid skipping stats; rewritten files are
      // unprofiled until the next analyze (appendPath's rule)
      val skipDir = new Path(dst, "_skipping")
      if (f.exists(skipDir))
        org.apache.hadoop.fs.FileUtil.copy(f, skipDir,
          f, new Path(tmp, "_skipping"), false, false, conf)
      SwapProtocol.commit(spark, f, dir, tmp, SwapProtocol.WholeDir,
        keepVersions, Some(stagedAgainst),
        Seq(OperationTagKey -> "OPTIMIZE WHERE"))
    }
  }

  def compactPath(spark: SparkSession, dir: String, targetFileSize: Long,
      keepVersions: Int = 10, partitionBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): Unit = raceToConflict(dir) {
    require(targetFileSize > 0, "targetFileSize must be positive")
    require(partitionBy.isEmpty || zorderBy.isEmpty,
      "ZORDER clusters across files; combine it with bucketed layouts, " +
        "not hive partitioning")
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (isBucketedLayout(f, dir)) {
      // ZORDER composes with bucketing by clustering WITHIN each bucket:
      // bucket pruning keeps governing key lookups, the z-curve tightens
      // per-file ranges for filters on the clustered columns
      if (zorderBy.nonEmpty)
        graft.merge.PartitionedMerge.zorderCompact(spark, dir, zorderBy,
          targetFileSize, keepVersions)
      else
        graft.merge.PartitionedMerge.compact(spark, dir, targetFileSize,
          keepVersions)
      ()
    } else {
      val it = f.listFiles(new Path(dir), true)
      var bytes = 0L; var nFiles = 0
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        val parent = st.getPath.getParent.getName
        if (!name.startsWith("_") && !name.startsWith(".") &&
            !parent.startsWith("_") && !parent.startsWith(".")) {
          bytes += st.getLen; nFiles += 1
        }
      }
      val n = math.max(1L, (bytes + targetFileSize - 1) / targetFileSize).toInt
      // ZORDER always rewrites (re-clustering has value at any file count,
      // Delta's semantics); plain compaction skips when already packed —
      // unless a deletion-vector sidecar is pending, which OPTIMIZE always
      // materializes away
      if (zorderBy.isEmpty && nFiles <= n &&
          !graft.layout.DeletionVectors.hasDv(spark, dir)) return
      // remember the skipping-stats recipe: the rewrite invalidates every
      // per-file entry (stale stats are SAFE — unmatched names just stop
      // pruning — but an OPTIMIZE that silently turns skipping off would
      // betray the reason Z-ordering exists)
      val statsRecipe = graft.layout.DataSkipping.analyzedColumns(spark, dir)
      // DV-applied: OPTIMIZE folds any deletion-vector sidecar into the
      // rewritten files (Delta's PURGE) — the staged snapshot drops `_dv`
      val df = graft.layout.DeletionVectors.readPath(spark, dir)
      val packed =
        if (zorderBy.nonEmpty)
          graft.layout.ZOrder.cluster(df, zorderBy, n)
        else if (partitionBy.nonEmpty)
          df.repartition(partitionBy.map(col): _*)
        else df.repartition(n)
      overwritePath(spark, packed, dir, partitionBy, keepVersions,
        operation =
          if (zorderBy.nonEmpty) "OPTIMIZE ZORDER BY" else "OPTIMIZE")
      statsRecipe.foreach { case (cols, bloomCols, bits, hashes) =>
        graft.layout.DataSkipping.analyze(spark, dir, cols, bloomCols,
          bits, hashes)
      }
    }
  }

  /** [[Catalog!.restore]] on a raw table directory — the seam SQL
    * `RESTORE TABLE ... VERSION AS OF n` shares with the layer.table API.
    * A bucketed reconstruction is rewritten as a FULL bucket-partitioned
    * snapshot; the whole pre-restore live dir retires as one log entry, so
    * earlier versions keep reconstructing (a full entry covers every
    * bucket an older read could need). */
  def restorePath(spark: SparkSession, dir: String, v: Int,
      keepVersions: Int = 10): Unit = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // restoring to a version that predates a schema change is the point
    // of RESTORE — the old shape wins
    if (isBucketedLayout(f, dir))
      overwritePath(spark,
        graft.merge.PartitionedMerge.reconstructVersion(spark, dir, v),
        dir, Seq(graft.merge.PartitionedMerge.BucketCol), keepVersions,
        allowSchemaChange = true, operation = "RESTORE")
    else
      overwritePath(spark, versionRead(spark, dir, v), dir, Nil, keepVersions,
        allowSchemaChange = true, operation = "RESTORE")
  }

  /** Table versions a LIVE pipeline-epoch manifest references — vacuum
    * retains these past `keepVersions`, or `PipelineEpoch.readAt`
    * would fail inside the epoch retention window (the default
    * `keepEpochs` = 20 exceeds the default `keepVersions` = 10, so on
    * a busy table the windows WILL cross). Discovery is by the
    * catalog's fixed path shape — `<warehouse>/<layer>/<table>` with
    * epochs at `<warehouse>/_pipeline_epochs/<pipeline>/epoch_v*` — so
    * every vacuum entry point (instance API, raw path, SQL `VACUUM`)
    * honors the pin without new plumbing; a dir outside a warehouse
    * simply finds no epochs root. Cost: one bounded listing per
    * pipeline (`keepEpochs` caps each) plus one small read per
    * manifest — metadata scale. Racing epoch commits/prunes are fine:
    * a manifest vanishing mid-read is skipped (it was pruned → its
    * pins are released). */
  /** Per-warehouse manifest cache for [[epochProtectedVersions]]:
    * manifests are IMMUTABLE once published (put-if-absent link), so a
    * pipeline's parsed pins stay valid while its manifest LISTING is
    * unchanged — one listing confirms that, versus re-reading every
    * retained manifest on every commit (a per-micro-batch table would
    * otherwise pay ~keepEpochs small reads per commit; on an object
    * store those are GETs). Keyed by pipeline dir; value = (manifest
    * (name, mtime, length) fingerprints, table → pinned versions).
    * The fingerprint includes mtime+length — not just names — because a
    * warehouse deleted and recreated at the same path REPEATS manifest
    * names (`epoch_v1`…) with different contents (ADVICE r13). Bounded:
    * LRU-evicted past [[epochPinCacheCap]] pipelines, so a long-lived
    * session touching many warehouses (a multi-tenant driver, every
    * test run) cannot accumulate entries forever; a miss just re-parses
    * a bounded manifest set. */
  private[graft] var epochPinCacheCap = 64 // var: spec shrinks it to pin eviction
  private val epochPinCache =
    new java.util.LinkedHashMap[
        String, (Seq[(String, Long, Long)], Map[String, Set[Int]])](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            String, (Seq[(String, Long, Long)], Map[String, Set[Int]])])
          : Boolean = size() > epochPinCacheCap
    }

  private[graft] def epochPinCacheSize: Int =
    epochPinCache.synchronized(epochPinCache.size())

  /** TEST SEAM: the cache is process-wide and `removeEldestEntry` evicts
    * at most one entry per put, so a spec shrinking the cap must start
    * from empty for the bound to be assertable regardless of which
    * suites ran first. */
  private[graft] def epochPinCacheClear(): Unit =
    epochPinCache.synchronized(epochPinCache.clear())

  /** One retained manifest's text for the PIN sweep. Failure semantics
    * matter here (ADVICE r13 medium): a manifest VANISHING means it was
    * pruned — its pins are released, read as empty. A manifest that
    * still EXISTS but cannot be read is a storage fault; treating it as
    * empty would fail OPEN (prune epoch-pinned versions and permanently
    * break `PipelineEpoch.readAt` inside the retention window), so
    * after bounded retries the sweep fails LOUDLY — the vacuum/commit
    * that triggered it can rerun, the pinned snapshot cannot come back. */
  private def readPinManifest(f: FileSystem, p: Path): String = {
    var attempt = 0
    while (true) {
      try return graft.layout.SwapProtocol.readSmallFile(f, p)
      catch {
        case e: java.io.IOException =>
          if (!f.exists(p)) return "" // pruned mid-sweep → pins released
          attempt += 1
          if (attempt >= 3) throw new IllegalStateException(
            s"pipeline-epoch manifest $p exists but could not be read " +
              "after 3 attempts — refusing to prune with unknown pins", e)
          Thread.sleep(5L * attempt)
      }
    }
    "" // unreachable
  }

  private[graft] def epochProtectedVersions(spark: SparkSession,
      dir: String): Set[Int] = {
    val p = new Path(dir)
    val layerDir = p.getParent
    if (layerDir == null || layerDir.getParent == null) return Set.empty
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochsRoot = new Path(layerDir.getParent, "_pipeline_epochs")
    if (!f.exists(epochsRoot)) return Set.empty
    val name = s"${layerDir.getName}.${p.getName}"
    (for {
      pipe <- f.listStatus(epochsRoot).toSeq if pipe.isDirectory
    } yield {
      val stats = f.listStatus(pipe.getPath).toSeq
        .filter(_.getPath.getName.startsWith("epoch_v"))
        .sortBy(_.getPath.getName)
      val token = stats.map(s =>
        (s.getPath.getName, s.getModificationTime, s.getLen))
      // fold the pipeline's warehouse-instance id into the KEY: a
      // warehouse deleted and recreated at the same path republishes
      // epoch_v1.. with different contents, and (name, mtime, length)
      // can collide across the recreation within the store's mtime
      // granularity (1 s on object stores) — the fresh instance UUID
      // (put-if-absent at first commit) makes the recreated pipeline a
      // different cache key, so a stale entry can never be served. The
      // id read is one small file per pipeline per sweep and shares
      // readPinManifest's fail-LOUD semantics (missing = legacy
      // pre-instance dir, read as ""; exists-but-unreadable = throw).
      val instP = new Path(pipe.getPath,
        graft.pipeline.PipelineEpoch.InstanceFile)
      val instanceId =
        if (f.exists(instP)) readPinManifest(f, instP) else ""
      val key = s"${pipe.getPath}@$instanceId"
      val cached = epochPinCache.synchronized {
        Option(epochPinCache.get(key))
      }.filter(_._1 == token).map(_._2)
      val byTable = cached.getOrElse {
        val parsed = (for {
          st <- stats
          line <- readPinManifest(f, st.getPath).split('\n').toSeq
          parts = line.split('\t')
          if parts.length == 2
          v <- parts(1).toIntOption
        } yield parts(0) -> v)
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        // reached only when every retained manifest read cleanly
        // (readPinManifest throws otherwise) — a failed parse is never
        // cached under a still-matching fingerprint
        epochPinCache.synchronized {
          epochPinCache.put(key, (token, parsed))
        }
        parsed
      }
      byTable.getOrElse(name, Set.empty[Int])
    }).foldLeft(Set.empty[Int])(_ ++ _)
  }

  /** Is version-log entry `e` of `dir` protected by an epoch pin?
    * Flat snapshots are self-contained — exact membership. Bucketed
    * reconstruction of version v walks EVERY retire entry v..cur
    * (`versionBucketDirs` requires the range complete), so there a pin
    * on v protects all entries ≥ v. */
  private[graft] def epochPinProtects(spark: SparkSession, f: FileSystem,
      dir: String, e: Int): Boolean = {
    val pinned = epochProtectedVersions(spark, dir)
    if (pinned.isEmpty) false
    else if (isBucketedLayout(f, dir)) pinned.min <= e
    else pinned.contains(e)
  }

  /** [[Catalog!.vacuum]] on a raw table directory — the seam SQL
    * `VACUUM <table>` shares with the layer.table API. Versions
    * referenced by a live pipeline-epoch manifest are retained past
    * `keepVersions` ([[epochProtectedVersions]]) — the two retention
    * policies never contradict each other. */
  def vacuumPath(spark: SparkSession, dir: String, keepVersions: Int = 10,
      dryRun: Boolean = false): Seq[String] = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def rm(p: Path): Unit =
      if (f.exists(p)) {
        if (!dryRun) f.delete(p, true)
        deleted += p.toString
      }
    // staging leftovers: every data-staging sibling carries a `.tmp`
    // name prefix — fixed legacy names (.tmp, .tmp-merge, .tmp-insert,
    // .tmp-replace) and the unique per-attempt `.tmp-<uuid>` dirs a
    // crashed or race-losing writer abandons — and a crashed small-file
    // write leaves `<dir>.<kind>.tmp[-<id>]` beside its manifest
    val parent = new Path(dir).getParent
    val base = new Path(dir).getName
    if (parent != null && f.exists(parent))
      f.listStatus(parent).map(_.getPath).filter { p =>
        val n = p.getName
        n.startsWith(base + ".tmp") ||
          (n.startsWith(base + ".") && n.contains(".tmp"))
      }.foreach(rm)
    val tableDir = new Path(dir)
    if (f.exists(tableDir))
      f.listStatus(tableDir).map(_.getPath)
        .filter(_.getName.startsWith(".prev-")).foreach(rm)
    val cur = readPointer(f, dir)
    val hist = historyDir(dir)
    if (f.exists(hist)) {
      // hoisted: one manifest scan for the whole sweep, not one per entry
      val pinned = epochProtectedVersions(spark, dir)
      // bucketed reconstruction needs every entry ≥ the pinned version,
      // so there the pin is a floor; flat snapshots pin exact entries
      val pinFloor =
        if (pinned.nonEmpty && isBucketedLayout(f, dir)) pinned.min
        else Int.MaxValue
      f.listStatus(hist).map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith("v") && n.drop(1).nonEmpty &&
            n.drop(1).forall(_.isDigit) &&
            n.drop(1).toInt <= cur - 1 - keepVersions && {
              val e = n.drop(1).toInt
              e < pinFloor && !pinned.contains(e)
            }
        }.foreach(rm)
      // small-file tmps and staged claims abandoned by a crashed commit,
      // and claims of completed transitions (a crash before the release)
      f.listStatus(hist).map(_.getPath).filter { p =>
        val n = p.getName
        n.contains(".tmp") || n.startsWith(".claim-") ||
          n.stripPrefix("_swap_claim_v").toIntOption.exists(_ < cur)
      }.foreach(rm)
      // a version log supersedes the legacy single-depth `.prev` dir —
      // reclaim it (kept while no log exists: it is still the only
      // previous-snapshot copy for old-layout warehouses)
      rm(new Path(dir + ".prev"))
    }
    deleted.toSeq
  }

  /** [[Catalog!.clone]] on raw directories — the seam the SQL statement
    * shares. Refuses to overwrite an existing destination. */
  def clonePath(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Int] = None, shallow: Boolean = false): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(srcDir).getFileSystem(conf)
    val kind = if (shallow) "SHALLOW CLONE" else "DEEP CLONE"
    val dp = new Path(dstDir)
    require(!fs.exists(dp), s"$kind destination exists: $dstDir")
    // the bucket-layout manifest is a property of the table, not of one
    // version: without it the clone could route no INSERT and no merge
    graft.merge.PartitionedMerge.readBucketMeta(spark, srcDir).foreach {
      case (keys, n) =>
        graft.merge.PartitionedMerge.writeBucketMeta(spark, dstDir, keys, n)
    }
    // `VERSION AS OF` clone of a BUCKETED table: a historical version is
    // not one directory but a per-bucket selection across the live dir
    // and retire entries — link/copy exactly those bucket dirs (each with
    // its own `_dv` sidecar, so the clone carries that version's deletion
    // state). O(table file count) metadata for a shallow clone, like the
    // live-dir case.
    if (version.nonEmpty && isBucketedLayout(fs, srcDir)) {
      val entries = graft.merge.PartitionedMerge.versionBucketDirs(
        spark, srcDir, version.get)
      fs.mkdirs(dp)
      entries.foreach { case (name, _, p) =>
        val d = new Path(dp, name)
        if (shallow) linkTree(fs, conf, p, d)
        else require(org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, d,
          false, false, conf), s"clone copy failed: $p -> $d")
      }
      // the clone is a first-class bucketed table: record its schema
      // sidecar (the reconstruction's shape) so file-less states read
      graft.merge.PartitionedMerge.writeSchemaSidecar(spark, dstDir,
        graft.merge.PartitionedMerge.readRaw(spark, dstDir).schema)
      return
    }
    // `VERSION AS OF` clone: copy the logged snapshot's files instead of
    // the live dir (plain snapshot layouts)
    val resolvedSrc = version match {
      case None => srcDir
      case Some(v) => resolveVersionPath(spark, srcDir, v)
    }
    val sp = new Path(resolvedSrc)
    require(fs.exists(sp), s"$kind source missing: $resolvedSrc")
    if (shallow) linkTree(fs, conf, sp, dp)
    else require(org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs, dp,
      false, false, conf), s"clone copy failed: $resolvedSrc -> $dstDir")
    // the clone's history starts fresh: no pointer, no log entries
    val hist = historyDir(dstDir)
    if (fs.exists(hist)) fs.delete(hist, true)
  }

  /** SHALLOW CLONE's physical step: mirror the directory tree, hard-linking
    * every file on link-capable filesystems (local: one inode, two names —
    * O(metadata), and the clone survives any later delete of the source
    * NAME because the inode lives while any link does). Filesystems
    * without links fall back to a copy, keeping the statement's semantics
    * (independent tables) at deep-clone cost. */
  private def linkTree(f: FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      src: Path, dst: Path): Unit = {
    val canLink = f.getScheme == "file"
    f.mkdirs(dst)
    f.listStatus(src).foreach { st =>
      val d = new Path(dst, st.getPath.getName)
      if (st.isDirectory) linkTree(f, conf, st.getPath, d)
      else if (canLink)
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(f.makeQualified(d).toUri.getPath),
          java.nio.file.Paths.get(f.makeQualified(st.getPath).toUri.getPath))
      else require(org.apache.hadoop.fs.FileUtil.copy(f, st.getPath, f, d,
        false, false, conf), s"clone copy failed: ${st.getPath} -> $d")
    }
  }

  // ------------------------------------------------- column DDL

  /** Column names referenced by the table's CHECK constraints and
    * generated-column definitions (parsed from the expression text, not
    * regex-matched — a literal mentioning the name doesn't count), plus the
    * generated column names themselves. Gate for rename/drop. */
  private def dependentColumnUses(spark: SparkSession, dir: String)
      : Seq[(String, String)] = {
    def refs(kind: String, entries: Seq[(String, String)]) =
      entries.flatMap { case (n, e) =>
        spark.sessionState.sqlParser.parseExpression(e).collect {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            (ua.nameParts.last.toLowerCase, s"$kind $n")
        }
      }
    val gens = TableRules.generated(spark, dir)
    refs("constraint", TableRules.constraints(spark, dir)) ++
      refs("generated column", gens) ++
      gens.map { case (n, _) =>
        (n.toLowerCase, s"generated column $n (is generated)") } ++
      TableRules.identity(spark, dir).map { case (n, _, _) =>
        (n.toLowerCase, s"identity column $n (is identity)") }
  }

  private def requireUnreferenced(spark: SparkSession, dir: String,
      col: String, op: String): Unit = {
    val uses = dependentColumnUses(spark, dir)
      .filter(_._1 == col.toLowerCase).map(_._2).distinct
    require(uses.isEmpty,
      s"$op $col on $dir refused: referenced by ${uses.mkString(", ")} — " +
        "drop the dependent constraint/generated column first")
  }

  /** The column-DDL commit (ADD generated/identity column, RENAME, DROP):
    * one rewrite of the live rows through the ordinary snapshot swap, in
    * the table's OWN layout. A bucketed table stays bucketed and a
    * hive-partitioned one keeps its partition columns (renamed or dropped
    * along with the data) — a flat rewrite would hide every existing row
    * from the next bucket-pruned merge. */
  private def rewriteColumns(spark: SparkSession, dir: String,
      keepVersions: Int, operation: String,
      renamed: String => String = identity)(
      change: DataFrame => DataFrame): Unit = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = change(graft.layout.DeletionVectors.readPath(spark, dir))
    val layout =
      if (isBucketedLayout(f, dir)) Seq(graft.merge.PartitionedMerge.BucketCol)
      else partitionColsOf(f, dir).map(renamed)
    overwritePath(spark, out, dir,
      layout.filter(c => out.columns.exists(_.equalsIgnoreCase(c))),
      keepVersions, allowSchemaChange = true, operation = operation)
  }

  /** [[Catalog!.renameColumn]] on a raw table directory — the seam the SQL
    * statement shares. The rewrite is one distributed pass committed
    * through the ordinary snapshot swap; skipping stats are re-derived
    * under the new name so OPTIMIZE/ANALYZE investments survive the
    * rename. */
  def renameColumnPath(spark: SparkSession, dir: String, oldName: String,
      newName: String, keepVersions: Int = 10): Unit = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(new Path(dir)), s"table $dir does not exist")
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"column name must be an identifier, got '$newName'")
    require(!oldName.equalsIgnoreCase(graft.merge.PartitionedMerge.BucketCol),
      "the bucket column is the table's physical layout; it cannot be renamed")
    requireUnreferenced(spark, dir, oldName, "RENAME COLUMN")
    // the `_skipping` manifest retires with the old snapshot dir — capture
    // the recipe BEFORE the swap (compactPath's pattern) and re-derive the
    // stats under the new name, so ANALYZE investments survive the rename
    val statsRecipe = graft.layout.DataSkipping.analyzedColumns(spark, dir)
    def m(c: String) = if (c.equalsIgnoreCase(oldName)) newName else c
    rewriteColumns(spark, dir, keepVersions, "RENAME COLUMN", m) { cur =>
      val real = cur.columns.find(_.equalsIgnoreCase(oldName)).getOrElse(
        throw new IllegalArgumentException(s"no column $oldName in $dir " +
          s"(have: ${cur.columns.mkString(", ")})"))
      require(!cur.columns.exists(_.equalsIgnoreCase(newName)),
        s"column $newName already exists in $dir")
      cur.withColumnRenamed(real, newName)
    }
    statsRecipe.foreach { case (cols, blooms, bits, hashes) =>
      graft.layout.DataSkipping.analyze(spark, dir, cols.map(m),
        blooms.map(m), bits, hashes)
    }
  }

  /** [[Catalog!.dropColumn]] on a raw table directory. Accepts several
    * columns so a multi-column `DROP COLUMNS (a, b)` is ONE distributed
    * rewrite, not one per column. */
  def dropColumnPath(spark: SparkSession, dir: String, name: String,
      keepVersions: Int = 10): Unit =
    dropColumnsPath(spark, dir, Seq(name), keepVersions)

  def dropColumnsPath(spark: SparkSession, dir: String, names: Seq[String],
      keepVersions: Int = 10): Unit = {
    require(names.nonEmpty, "no columns to drop")
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(new Path(dir)), s"table $dir does not exist")
    names.foreach(n => require(
      !n.equalsIgnoreCase(graft.merge.PartitionedMerge.BucketCol),
      "the bucket column is the table's physical layout; it cannot be dropped"))
    names.foreach(n => requireUnreferenced(spark, dir, n, "DROP COLUMN"))
    val statsRecipe = graft.layout.DataSkipping.analyzedColumns(spark, dir)
    rewriteColumns(spark, dir, keepVersions, "DROP COLUMNS") { cur =>
      val real = names.map(n =>
        cur.columns.find(_.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(s"no column $n in $dir " +
            s"(have: ${cur.columns.mkString(", ")})")))
      val dataCols = cur.columns.filterNot(_.equalsIgnoreCase(
        graft.merge.PartitionedMerge.BucketCol))
      require(dataCols.length > real.distinct.length,
        s"cannot drop ${real.mkString(", ")}: no data columns would remain " +
          s"in $dir")
      cur.drop(real: _*)
    }
    // re-derive skipping stats minus the dropped columns; a recipe that
    // covered only dropped columns simply lapses (manifest retired with
    // the old snapshot — pruned reads degrade to full filters)
    val dropped = names.map(_.toLowerCase).toSet
    statsRecipe.foreach { case (cols, blooms, bits, hashes) =>
      val keep = cols.filterNot(c => dropped(c.toLowerCase))
      if (keep.nonEmpty)
        graft.layout.DataSkipping.analyze(spark, dir, keep,
          blooms.filterNot(c => dropped(c.toLowerCase)), bits, hashes)
    }
  }

  // ------------------------------------------------- table rules DDL

  /** Delta `ALTER TABLE … ADD COLUMN … GENERATED ALWAYS AS`: record the
    * column in [[TableRules]]' manifest, materializing it over existing
    * rows first as a NEW version, so readers and time travel see a
    * consistent table from this point on. Recorded before the first load,
    * it applies to that load too. */
  def addGeneratedColumnPath(spark: SparkSession, dir: String, name: String,
      expr: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"generated column name must be an identifier, got '$name'")
    val existing = TableRules.generated(spark, dir)
    require(!existing.exists(_._1.equalsIgnoreCase(name)),
      s"generated column $name already exists on $dir")
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(new Path(dir)))
      rewriteColumns(spark, dir, keepVersions = 10, "ADD COLUMN") { cur =>
        require(!cur.columns.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists in $dir's data")
        cur.withColumn(name, org.apache.spark.sql.functions.expr(expr))
      }
    TableRules.writeGenerated(spark, dir, existing :+ (name -> expr))
  }

  def dropGeneratedColumnPath(spark: SparkSession, dir: String,
      name: String): Unit = {
    val existing = TableRules.generated(spark, dir)
    require(existing.exists(_._1.equalsIgnoreCase(name)),
      s"no generated column $name on $dir")
    TableRules.writeGenerated(spark, dir,
      existing.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** Delta `GENERATED ALWAYS AS IDENTITY`: record the column, numbering
    * existing rows first as a new version (the same layout-preserving
    * rewrite as [[addGeneratedColumnPath]]). */
  def addIdentityColumnPath(spark: SparkSession, dir: String, name: String,
      start: Long = 1L, step: Long = 1L): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"identity column name must be an identifier, got '$name'")
    require(step >= 1, s"IDENTITY INCREMENT BY must be >= 1, got $step")
    val existing = TableRules.identity(spark, dir)
    require(!existing.exists(_._1.equalsIgnoreCase(name)),
      s"identity column $name already exists on $dir")
    require(!TableRules.generated(spark, dir)
        .exists(_._1.equalsIgnoreCase(name)),
      s"$name is already a generated column on $dir")
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(new Path(dir)))
      rewriteColumns(spark, dir, keepVersions = 10, "ADD COLUMN") { cur =>
        require(!cur.columns.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists in $dir's data")
        TableRules.assignIdentity(cur, name, start - step, step)
      }
    TableRules.writeIdentity(spark, dir, existing :+ ((name, start, step)))
  }

  def dropIdentityColumnPath(spark: SparkSession, dir: String,
      name: String): Unit = {
    val existing = TableRules.identity(spark, dir)
    require(existing.exists(_._1.equalsIgnoreCase(name)),
      s"no identity column $name on $dir")
    TableRules.writeIdentity(spark, dir,
      existing.filterNot(_._1.equalsIgnoreCase(name)))
  }

  def addConstraintPath(spark: SparkSession, dir: String, name: String,
      check: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier, got '$name'")
    val existing = TableRules.constraints(spark, dir)
    require(!existing.exists(_._1.equalsIgnoreCase(name)),
      s"constraint $name already exists on $dir")
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Delta's rule: existing data must already satisfy the new constraint
    // (LIVE rows — a DV-deleted violation is already gone)
    if (f.exists(new Path(dir)))
      TableRules.enforce(graft.layout.DeletionVectors.readPath(spark, dir),
        Seq(name -> check), dir)
    TableRules.writeConstraints(spark, dir, existing :+ (name -> check))
  }

  def dropConstraintPath(spark: SparkSession, dir: String,
      name: String): Unit = {
    val existing = TableRules.constraints(spark, dir)
    require(existing.exists(_._1.equalsIgnoreCase(name)),
      s"no constraint $name on $dir")
    TableRules.writeConstraints(spark, dir,
      existing.filterNot(_._1.equalsIgnoreCase(name)))
  }

  /** Raised when an optimistic commit loses the race: the table moved past
    * the version the writer staged against (Delta's
    * ConcurrentModificationException family). The staged work is
    * discarded; re-read and retry. */
  final class ConcurrentCommitException private (msg: String, unused: Null)
      extends IllegalStateException(msg) {
    def this(dir: String, expected: Int, actual: Int) = this(
      s"concurrent commit on $dir: staged against version $expected but " +
        s"the table is now at $actual — re-read and retry", null)
    def this(dir: String) = this(
      s"concurrent commit on $dir: the live snapshot's files were retired " +
        "by another commit during staging — re-read and retry", null)
  }

  /** Bounded optimistic retry for commit bodies that are a pure function
    * of the CURRENT table state — Delta's logical conflict resolution,
    * expressed as a combinator. A blind append, a merge that re-reads
    * its target, a DV delete recomputing matched positions: each attempt
    * re-reads the live snapshot during staging, so losing the pointer
    * race and re-running IS a correct rebase onto the winner's commit
    * (the loser's semantics apply to whatever state the winner left).
    * Bodies that cache a pre-read snapshot across attempts — or encode a
    * decision taken against the old version — must NOT use this: they
    * would silently overwrite the interleaved commit, the exact hazard
    * the optimistic check exists to surface.
    *
    * Without this, N jobs appending to one table (per-hour metric
    * writers, a fan-in of shard summaries — the everyday multi-writer
    * shape on a large cluster) all fail but one; with it they serialize
    * like Delta's non-conflicting ConcurrentAppend retries. Backoff is
    * exponential with full jitter, capped at ~1.6 s per wait, so N
    * racers don't re-collide in lockstep; exhaustion rethrows the final
    * typed conflict with the attempt count in the message chain. */
  def commitWithRetry[A](dir: String, maxAttempts: Int = 8)(body: => A): A = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      try return body catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts)
            throw new IllegalStateException(
              s"commit on $dir still conflicting after $attempt attempts", e)
          val capMs = math.min(1 << math.min(attempt + 3, 14), 1600)
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(capMs.toLong) + 1)
      }
    }
    throw new IllegalStateException("unreachable") // satisfies the type
  }

  /** Wrap a commit attempt whose STAGING reads the live snapshot
    * (overwrite's schema check, append's file linking, restore's and
    * compact's reconstruction): a concurrent commit renames those files
    * into the version log mid-job, which Spark surfaces as
    * FAILED_READ_FILE / FileNotFound. That is a lost race, not
    * corruption — the other writer's commit is intact — so it re-raises
    * as the typed conflict callers already retry on. */
  /** [[DeletionVectors]]' entry to the same staged-read race handling. */
  private[graft] def raceToConflictShim[A](dir: String)(body: => A): A =
    raceToConflict(dir)(body)

  private def raceToConflict[A](dir: String)(body: => A): A =
    try body catch {
      case e: ConcurrentCommitException => throw e
      case e: Throwable if vanishedFile(e, 0) =>
        throw new ConcurrentCommitException(dir)
    }

  private def vanishedFile(e: Throwable, depth: Int): Boolean =
    e != null && depth < 12 && (
      e.isInstanceOf[java.io.FileNotFoundException] ||
      e.isInstanceOf[java.nio.file.NoSuchFileException] ||
      String.valueOf(e.getMessage).contains("FAILED_READ_FILE") ||
      vanishedFile(e.getCause, depth + 1))

  /** Unique per-attempt staging dir. Concurrent writers must never share
    * a staging path — with a fixed name the loser of a commit race deletes
    * or renames the winner's half-written files before the optimistic
    * check even runs. `.tmp`-prefixed siblings of the table dir are
    * vacuum's to reclaim (prefix sweep in [[vacuumPath]]). */
  private def stagingPath(dir: String, kind: String): Path =
    new Path(dir + ".tmp" + kind + "-" +
      java.util.UUID.randomUUID().toString.take(8))

  private[graft] def stagingPathShim(dir: String, kind: String): Path =
    stagingPath(dir, kind)

  /** Data files under `root`, as paths relative to it, through
    * partition-dir levels. Underscore/dot entries (version logs,
    * sidecars) are skipped at every level. */
  private[graft] def dataFiles(f: FileSystem, root: Path): Seq[String] = {
    def walk(d: Path, rel: String): Seq[String] =
      f.listStatus(d).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$rel$n/")
        else Seq(rel + n)
      }
    walk(root, "")
  }

  /** Hard-link (copy on link-less stores) the data files `rels` of `src`
    * ([[dataFiles]] paths) into `tmp` under the same relative paths — the
    * O(file count) link-staging step of appends, DV commits, bucket swaps
    * and file-granular rewrites. Partition dirs are created as their
    * files need them. */
  private[graft] def linkDataFiles(f: FileSystem,
      conf: org.apache.hadoop.conf.Configuration, src: Path, tmp: Path,
      rels: Iterable[String]): Unit = {
    rels.filter(_.contains('/')).map(r => r.substring(0, r.lastIndexOf('/')))
      .toSet.foreach((d: String) => f.mkdirs(new Path(tmp, d)))
    val canLink = f.getScheme == "file"
    rels.foreach { rel =>
      val (s, d) = (new Path(src, rel), new Path(tmp, rel))
      if (canLink)
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(f.makeQualified(d).toUri.getPath),
          java.nio.file.Paths.get(f.makeQualified(s).toUri.getPath))
      else require(org.apache.hadoop.fs.FileUtil.copy(f, s, f, d, false,
        false, conf), s"link/copy failed: $rel")
    }
  }

  /** [[linkDataFiles]] of every data file of `src`: a flat or
    * hive-partitioned snapshot, or one bucket dir, stages at O(file
    * count) metadata. */
  private[graft] def linkDataTree(f: FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      src: Path, tmp: Path): Unit =
    linkDataFiles(f, conf, src, tmp, dataFiles(f, src))

  def overwritePath(spark: SparkSession, df: DataFrame, dir: String,
      partitionBy: Seq[String] = Nil, keepVersions: Int = 10,
      allowSchemaChange: Boolean = false,
      expectedVersion: Option[Int] = None,
      commitTag: Option[(String, String)] = None,
      operation: String = "WRITE"): Unit = raceToConflict(dir) {
    val dst = new Path(dir)
    val tmp = stagingPath(dir, "")
    val f = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the write gate: absent generated/identity columns filled, provided
    // generated columns checked against their definition with the CHECK
    // constraints, and the shape checked against the live snapshot unless
    // the caller explicitly evolves (driver-side; no data cost)
    val g = TableRules.prepare(spark, dir, df)
    val dfGen = g.frame
    // a first load (expected version 0) refuses an existing table up
    // front; any other write finding no live dir may be looking at a
    // crashed commit's retire — rolled back first, so the shape check
    // and the commit see the restored snapshot
    val firstLoad = expectedVersion.contains(0)
    val live = f.exists(dst) || (!firstLoad &&
      SwapProtocol.recoverAbortedSwap(spark, f, dir) > 0 && f.exists(dst))
    require(!(live && firstLoad), s"table $dir already exists")
    if (!allowSchemaChange && live) TableRules.shapeDiff(
        TableRules.liveSchema(spark, dir, partitionBy.isEmpty), dfGen.schema)
      .foreach { d => throw new IllegalStateException(
        s"schema change writing $dir (pass allowSchemaChange to evolve): $d") }
    val w = dfGen.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    // stage the schema sidecar for flat snapshots and the bucketed layout
    // (RESTORE, column DDL) — it becomes visible atomically with the swap
    // and serves the NEXT commit's schema check driver-side. Underscore-
    // prefixed, so scans ignore it and appends don't link it forward
    // (appendPath re-stamps its own). The bucket column goes last, where
    // the partitioned write puts it (PartitionedMerge.write's shape).
    val bucketCol = graft.merge.PartitionedMerge.BucketCol
    val bucketed = partitionBy.map(_.toLowerCase) == Seq(bucketCol.toLowerCase)
    if (partitionBy.isEmpty || bucketed) {
      val (b, data) = dfGen.schema.fields.partition(f =>
        bucketed && f.name.equalsIgnoreCase(bucketCol))
      graft.merge.PartitionedMerge.writeSchemaSidecar(spark, tmp.toString,
        org.apache.spark.sql.types.StructType(data ++ b))
    }
    TableRules.enforceStaged(spark, dir, g.checks, tmp)
    SwapProtocol.commit(spark, f, dir, tmp, SwapProtocol.WholeDir,
      keepVersions, expectedVersion,
      commitTag.toSeq :+ (OperationTagKey -> operation))
  }

  /** Versioned APPEND (the lowering for `INSERT INTO` over a graft table —
    * Spark's own v1 insert drops files into the directory in place,
    * bypassing the version log, CHECK constraints, and generated columns;
    * this path closes that hole). The next snapshot is staged as the
    * CURRENT files hard-linked (O(file count) metadata, zero data copy;
    * link-less stores degrade to copies) plus the new rows' files, then
    * committed through the ordinary swap — so an append is a real version
    * (time travel, RESTORE, CDF all see it) and costs O(new data), not
    * O(table). Constraints are enforced on the STAGED NEW files only:
    * existing data already passed at its own write time. Appends cannot
    * change the schema. Bucket-partitioned layouts route through
    * [[graft.layout.BucketedDml.insertInto]] (hash-routed per-bucket
    * commit); hive-partitioned snapshots still refuse (mixing flat
    * append files into a partition tree would corrupt discovery). */
  def appendPath(spark: SparkSession, df: DataFrame, dir: String,
      keepVersions: Int = 10,
      commitTag: Option[(String, String)] = None,
      operation: String = "APPEND"): Unit = raceToConflict(dir) {
    val dst = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val f = dst.getFileSystem(conf)
    // a missing live dir may be a crashed commit's retire: roll it back
    // before the append takes the first-load path over it
    val live = f.exists(dst) ||
      { SwapProtocol.recoverAbortedSwap(spark, f, dir); f.exists(dst) }
    if (!live) { // first insert = first load, one uniform path
      overwritePath(spark, df, dir, Nil, keepVersions,
        commitTag = commitTag, operation = operation)
      return
    }
    // appends are read-modify-write (the staged snapshot LINKS the live
    // files read here) — record the version staged against, so a commit
    // after an interleaved writer raises instead of dropping their rows
    val stagedAgainst = readPointer(f, dir)
    if (isBucketedLayout(f, dir)) {
      // route new rows to their pmod(hash(keys), n) buckets through the
      // bucket-swap commit — only destination buckets change. The
      // exactly-once batch marker has no home in per-bucket history, so
      // streaming sinks must keep targeting snapshot tables. (if/else,
      // not an early return, for the non-local-return reasons
      // DeletionVectors documents.)
      require(commitTag.isEmpty,
        s"INSERT INTO bucketed table $dir cannot carry a commit tag " +
          "(per-bucket history has no tag store); stream into a snapshot " +
          "table instead")
      graft.layout.BucketedDml.insertInto(spark, df, dir, keepVersions)
    } else {
    // hive-partitioned snapshots append partition-aware: the staged
    // write is partitioned by the table's own layout and its leaf files
    // merge into the linked tree below (new partition VALUES create new
    // dirs); flat snapshots are the partCols = Nil special case
    val partCols = partitionColsOf(f, dir)
    // the write gate, applied to the appended rows. Strict schema-on-
    // append: INSERT can never evolve the table (the partitioned read's
    // schema includes the partition columns, so the insert must carry
    // them, matching the inferred partition types)
    val g = TableRules.prepare(spark, dir, df)
    val dfGen = g.frame
    val curSchema = TableRules.liveSchema(spark, dir, partCols.isEmpty)
    TableRules.shapeDiff(curSchema, dfGen.schema).foreach { d =>
      throw new IllegalArgumentException(
        s"INSERT INTO $dir schema mismatch: $d")
    }
    // normalize to the TABLE's column order and case before writing: the
    // shape check above is order/case-insensitive, so without this a
    // reordered or differently-cased insert would land parquet files
    // whose physical schema disagrees with the table's — and (ADVICE r8)
    // re-stamp the canonical sidecar with the insert frame's shape
    val dfNorm = dfGen.select(curSchema.fields.map { fld =>
      org.apache.spark.sql.functions.col(
        dfGen.columns.find(_.equalsIgnoreCase(fld.name)).get).as(fld.name)
    }.toSeq: _*)
    val stage = stagingPath(dir, "-insert")
    val sw = dfNorm.write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) sw.partitionBy(partCols: _*) else sw)
      .parquet(stage.toString)
    TableRules.enforceStaged(spark, dir, g.checks, stage)
    // build the next snapshot: links to every current data file + the new
    // files moved in (staged part-file names carry task UUIDs; a collision
    // with a linked name aborts rather than overwrites)
    val tmp = stagingPath(dir, "")
    f.mkdirs(tmp)
    linkDataTree(f, conf, dst, tmp)
    // a DV sidecar rides along unchanged: linked files keep their names,
    // so recorded positions stay valid and appended rows are untouched
    val dvDir = new Path(dst, graft.layout.DeletionVectors.DvDirName)
    if (f.exists(dvDir))
      org.apache.hadoop.fs.FileUtil.copy(f, dvDir,
        f, new Path(tmp, graft.layout.DeletionVectors.DvDirName),
        false, false, conf)
    TableRules.moveStaged(f, stage, tmp)
    // carry the skipping manifest forward: the linked files keep their
    // names so their stats stay valid; the appended files are simply
    // unprofiled (always read — stats can only cost IO, never rows) until
    // the next analyzeIncremental
    val skipDir = new Path(dst, "_skipping")
    if (f.exists(skipDir))
      org.apache.hadoop.fs.FileUtil.copy(f, skipDir,
        f, new Path(tmp, "_skipping"), false, false, conf)
    // re-stamp the schema sidecar from the TABLE's schema (sidecar when
    // present, else inferred), not the insert frame's: the shape check
    // above is case/order/nullability-insensitive, so stamping dfGen
    // would let a reordered or differently-cased insert silently rewrite
    // the table's canonical recorded schema for later consumers
    // (ChangeFeed's append fast path, empty-slice frames)
    if (partCols.isEmpty)
      graft.merge.PartitionedMerge.writeSchemaSidecar(spark, tmp.toString,
        curSchema)
    SwapProtocol.commit(spark, f, dir, tmp, SwapProtocol.WholeDir,
      keepVersions, Some(stagedAgainst),
      commitTag.toSeq :+ (OperationTagKey -> operation))
    }
  }

  /** Row-level `DELETE FROM … WHERE cond` on the table at `dir`: rows where
    * `cond` is TRUE are removed (NULL keeps, Delta's 3VL). Routed by
    * layout as [[updateWherePath]] tabulates. Returns num_affected_rows;
    * no match commits no version. */
  def deleteWherePath(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column, keepVersions: Int = 10,
      alias: Option[String] = None): Long =
    rowLevel(spark, dir, cond, None, keepVersions, alias)

  /** Row-level `UPDATE … SET … WHERE cond` on the table at `dir`, the row
    * image [[TableRules.updateImage]] writes on every layout. This pair is
    * the ONE place a row-level statement picks its layout's path (the
    * catalog API and SQL `DELETE`/`UPDATE` both call it):
    *
    *   layout            DV mode off               DV mode on
    *   flat snapshot     FileGranularDml           DeletionVectors
    *   bucketed          BucketedDml.*Cow          BucketedDml.*Mor
    *   hive-partitioned  FileGranularDml           refused
    *
    *   - [[graft.layout.FileGranularDml]]: one probe finds the files
    *     holding matches, untouched files hard-link into the new version,
    *     only touched files rewrite (Delta's narrowed-rewrite shape), in
    *     the table's partition layout;
    *   - [[graft.layout.DeletionVectors]]: a position sidecar (UPDATE
    *     appends the new images), zero data movement; partition-dir trees
    *     carry no sidecars, so DV mode there raises;
    *   - [[graft.layout.BucketedDml]]: touched buckets rewrite (`*Cow`) or
    *     grow per-bucket sidecars (`*Mor`); untouched buckets never open.
    *
    * `alias` lets a statement's qualified references (`t.x`) resolve.
    * The affected-row count rides the layout's probe job. */
  def updateWherePath(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      assign: Seq[(String, org.apache.spark.sql.Column)],
      keepVersions: Int = 10, alias: Option[String] = None): Long =
    rowLevel(spark, dir, cond, Some(assign), keepVersions, alias)

  private def rowLevel(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      assign: Option[Seq[(String, org.apache.spark.sql.Column)]],
      keepVersions: Int, alias: Option[String]): Long = {
    import graft.layout.{BucketedDml, DeletionVectors, FileGranularDml}
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dv = DeletionVectors.isEnabled(spark, dir)
    if (isBucketedLayout(f, dir)) assign match {
      case None if dv =>
        BucketedDml.deleteWhereMor(spark, dir, cond, keepVersions, alias)
      case None =>
        BucketedDml.deleteWhereCow(spark, dir, cond, keepVersions, alias)
      case Some(a) if dv =>
        BucketedDml.updateWhereMor(spark, dir, cond, a, keepVersions, alias)
      case Some(a) =>
        BucketedDml.updateWhereCow(spark, dir, cond, a, keepVersions, alias)
    } else if (dv) assign match {
      case None =>
        DeletionVectors.deleteWhere(spark, dir, cond, keepVersions, alias)
      case Some(a) =>
        DeletionVectors.updateWhere(spark, dir, cond, a, keepVersions, alias)
    } else assign match {
      case None =>
        FileGranularDml.deleteWhere(spark, dir, cond, keepVersions, alias)
      case Some(a) =>
        FileGranularDml.updateWhere(spark, dir, cond, a, keepVersions, alias)
    }
  }

  /** `INSERT INTO … REPLACE WHERE cond`: rows where `cond` is TRUE are
    * removed (NULL keeps, 3VL) and `rows` inserted, as ONE version. Every
    * inserted row must match `cond` (a NULL counts as a violation); a
    * violating insert aborts with no version, and an empty region with no
    * rows commits nothing. The ONE place a REPLACE WHERE picks its path,
    * from the table's recorded layout (the catalog API, SQL and q242's
    * serving refresh all call it):
    *
    *   layout                  path
    *   flat snapshot (± DVs)   FileGranularDml: files holding a matching
    *   hive-partitioned          row rewrite with their other rows, the
    *                             rest hard-link, the rows move in
    *   bucketed                BucketedDml.replaceWhere: the touched and
    *                             destination buckets swap
    *
    * `rows` carries the table's logical columns (generated and identity
    * columns may be absent; the write gate fills them). `commitTag` rides
    * whole-dir commits; a bucket swap has no tag store and refuses one.
    * Returns the removed-row count. */
  def replaceWherePath(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column, rows: DataFrame,
      keepVersions: Int = 10,
      commitTag: Option[(String, String)] = None): Long = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (isBucketedLayout(f, dir)) {
      require(commitTag.isEmpty,
        s"a bucket swap of $dir has no tag store for $commitTag")
      graft.layout.BucketedDml.replaceWhere(spark, dir, cond, rows,
        keepVersions)
    } else graft.layout.FileGranularDml.replaceWhere(spark, dir, cond, rows,
      keepVersions, commitTag)
  }

  /** MERGE into the table at `dir`: `fn(target, source)` returns its new
    * rows from the LOGICAL target (deletion vectors applied, no bucket
    * column). The ONE place a merge picks its path, like
    * [[updateWherePath]] for DML, from the layout the table records (read
    * probe, `<dir>.buckets` manifest, [[partitionColsOf]]):
    *
    *   bucketed, key-local on the      PartitionedMerge.prunedMerge:
    *     manifest's keys                 only the touched buckets
    *   bucketed, any other merge       full rewrite, bucket column
    *                                     recomputed from the manifest
    *   hive-partitioned / flat         full rewrite in the same layout
    *
    * `keys`: the target columns of a key-local merge (a key's new rows
    * depend only on its target and source rows); Nil when it is not (WHEN
    * NOT MATCHED BY SOURCE). `sourceKeys`: the source's expressions for
    * them (default: same-named columns). A pruned merge that moves a row
    * into an untouched bucket is rewritten whole instead. `commitTag`
    * rides whole-dir commits; a bucket swap has no tag store and refuses
    * one. Returns the buckets a pruned merge rewrote (none for an empty
    * source: no commit); Nil after a full rewrite. */
  def mergePath(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], sourceKeys: Seq[org.apache.spark.sql.Column] = Nil,
      keepVersions: Int = 10, allowSchemaChange: Boolean = false,
      commitTag: Option[(String, String)] = None,
      operation: String = "MERGE")(
      fn: (DataFrame, DataFrame) => DataFrame): Seq[Int] = {
    import graft.merge.PartitionedMerge.{BucketCol, RowsLeftTouchedBuckets,
      bucketExpr, prunedMerge, readBucketMeta}
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pr = graft.layout.ReadProbeCache.probe(spark, f, dir)
    val meta = if (!pr.isBucketed) None else Some(readBucketMeta(spark, dir)
      .getOrElse(throw new IllegalArgumentException(s"MERGE into bucketed " +
        s"table $dir requires its bucket-layout manifest (<path>.buckets)")))
    // where each manifest key sits in `keys`: all of them, once each, prunes
    val at = meta.toSeq.flatMap(_._1).map(k =>
      keys.indexWhere(_.equalsIgnoreCase(k)))
    val pruned = meta.nonEmpty && at.size == keys.size &&
      !at.contains(-1) && at.distinct.size == at.size
    require(!pruned || commitTag.isEmpty,
      s"a bucket swap of $dir has no tag store for $commitTag")
    val src = if (sourceKeys.isEmpty) keys.map(col) else sourceKeys
    val touched =
      if (!pruned) None
      else try Some(prunedMerge(spark, dir, source, at.map(src),
          keepVersions)(fn))
        catch { case _: RowsLeftTouchedBuckets => None }
    touched.getOrElse {
      val out = fn(graft.layout.DeletionVectors.read(spark, dir, pr,
        logical = true), source)
      overwritePath(spark, meta.fold(out) { case (k, n) =>
          out.withColumn(BucketCol, bucketExpr(k, n)) }, dir,
        if (meta.nonEmpty) Seq(BucketCol) else partitionColsOf(f, dir),
        keepVersions, allowSchemaChange, commitTag = commitTag,
        operation = operation)
      Nil
    }
  }
}
