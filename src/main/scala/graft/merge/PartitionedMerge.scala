package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableRules
import graft.layout.SwapProtocol

/** Bucket-partitioned managed table with partition-pruned merge — the
  * vanilla-Spark equivalent of Delta MERGE's file pruning (the 100 TB-scale
  * follow-up called out in SURVEY.md §4.3 / §7.3).
  *
  * Layout: the table is directory-partitioned by `gbucket =
  * pmod(hash(keys), nBuckets)`. A merge then:
  *   1. collects the source's distinct buckets (metadata-scale: ≤ nBuckets
  *      ints — the one driver-side collect, bounded by construction);
  *   2. scans the target WITH a partition filter on those buckets — the
  *      FileIndex prunes untouched directories, so merge I/O is
  *      O(touched partitions), not O(table);
  *   3. runs the ordinary [[MergeEngine]] program over the pruned slice
  *      (global surrogate-key high-water via `skeyBase` on the full table —
  *      a column-pruned scan of one long column);
  *   4. stages the merged buckets to `<path>.tmp-merge` and atomically
  *      swaps ONLY those bucket directories into place, retiring each
  *      replaced dir into the table's `<path>.history/v{N}` version log —
  *      the same N-deep log Catalog snapshots keep, holding just the
  *      CHANGED buckets per version, so bucketed dims are time-travelable
  *      at O(touched) history cost per merge.
  *
  * Crash consistency: first loads and every later version commit through
  * [[graft.layout.SwapProtocol.commit]] — full writes as one whole-dir
  * transition, merges and compactions as a swap of the touched bucket
  * dirs only — so a crash at any step leaves the pointer on a version
  * whose buckets are intact, and the protocol's recovery restores them
  * (a bucket swap) or rolls the staged-in snapshot forward (a whole-dir
  * write) before the next read or write.
  */
object PartitionedMerge {

  val BucketCol = "gbucket"

  def bucketExpr(keys: Seq[String], nBuckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(nBuckets))

  /** First load of the bucket-partitioned table: staged and committed as
    * version 1 like every other write (the table must not exist yet). */
  def write(df: DataFrame, path: String, keys: Seq[String], nBuckets: Int): Unit = {
    graft.catalog.Catalog.overwritePath(df.sparkSession,
      df.withColumn(BucketCol, bucketExpr(keys, nBuckets)), path,
      Seq(BucketCol), expectedVersion = Some(0))
    writeBucketMeta(df.sparkSession, path, keys, nBuckets)
  }

  /** The logical table ([[graft.layout.DeletionVectors.readLogical]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.layout.DeletionVectors.readLogical(spark, path)

  /** Subtract per-bucket deletion-vector positions from a frame read off
    * this table's LIVE bucket dirs. The sidecar probe comes from the
    * per-version [[graft.layout.ReadProbeCache]] — no-sidecar reads (the
    * overwhelmingly common case) cost zero FS round-trips beyond the
    * pointer read after the first probe of a version (VERDICT r7 #1). */
  private[graft] def applyBucketDvs(spark: SparkSession, path: String,
      df: DataFrame): DataFrame = {
    val pr = graft.layout.ReadProbeCache.probe(spark, path)
    // flat tables have no per-bucket sidecars by construction; their root
    // `_dv` (if any) is the flat read path's job, not this one's
    val dvDirs = if (pr.isBucketed) pr.dvDirs else Nil
    if (dvDirs.isEmpty) df
    else graft.layout.DeletionVectors.subtractBucketPositions(df,
      graft.layout.DeletionVectors.bucketDvFrame(spark, dvDirs))
  }

  /** The live `gbucket=` directories under `path`. */
  private[graft] def liveBucketDirs(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Path] = {
    val root = new Path(path)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(s"$BucketCol=")).toSeq
  }

  /** Bucket-layout metadata (hash keys, bucket count), persisted as a
    * sibling `<path>.buckets` manifest the way constraints are: a property
    * of the TABLE that survives snapshot swaps. Row-routing writes (INSERT
    * INTO, UPDATE that reassigns a key column) need it to compute
    * `pmod(hash(keys), n)` for new/moved rows; tables written before the
    * manifest existed simply don't support those (clear error, never a
    * mis-routed row). */
  private def bucketMetaFile(path: String) = new Path(path + ".buckets")

  private[graft] def writeBucketMeta(spark: SparkSession, path: String,
      keys: Seq[String], nBuckets: Int): Unit =
    graft.layout.SwapProtocol.writeSmallFile(new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      bucketMetaFile(path), s"${keys.mkString(",")}\t$nBuckets")

  private[graft] def readBucketMeta(spark: SparkSession, path: String)
      : Option[(Seq[String], Int)] = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = bucketMetaFile(path)
    if (!fs.exists(p)) return None
    val line = graft.layout.SwapProtocol.readSmallFile(fs, p)
    val i = line.indexOf('\t')
    Some((line.substring(0, i).split(",").toSeq.map(_.trim),
      line.substring(i + 1).trim.toInt))
  }

  /** (version, commit millis) for every stamped version of a bucketed
    * table, oldest first. Tables written before stamping existed return
    * only the versions committed since. */
  private[graft] def commitTimes(spark: SparkSession, path: String)
      : Seq[(Int, Long)] = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hist = graft.layout.SwapProtocol.historyDir(path)
    if (!fs.exists(hist)) return Nil
    fs.listStatus(hist).map(_.getPath)
      .filter(_.getName.startsWith("_commit_time_v"))
      .flatMap { p =>
        val v = p.getName.stripPrefix("_commit_time_v")
        if (v.nonEmpty && v.forall(_.isDigit))
          Some((v.toInt,
            graft.layout.SwapProtocol.readSmallFile(fs, p).toLong))
        else None
      }.sortBy(_._1).toSeq
  }

  /** Schema sidecar: a `partitionBy` write of ZERO rows produces no
    * bucket directories and no part files — nothing for a later read to
    * infer a schema from — yet an empty state is legitimate (a merge can
    * delete every row; an incremental view can empty). Every write
    * records the bucketed schema in an underscore-prefixed sidecar
    * (invisible to parquet scans), and [[readRaw]] falls back to it
    * exactly when inference has no files. Delta holds the schema in its
    * log for the same reason; here the sidecar IS that log entry. */
  private def schemaSidecar(path: String) = new Path(path, "_graft_pm_schema.json")

  private[graft] def writeSchemaSidecar(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    graft.layout.SwapProtocol.writeSmallFile(new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      schemaSidecar(path), schema.json)

  /** Copy `path`'s schema sidecar, if any, into the staged snapshot
    * `tmp`: the row-level DML commits link only data files forward, and a
    * snapshot without its sidecar sends the next append or overwrite back
    * to footer inference. */
  private[graft] def carrySchemaSidecar(spark: SparkSession, path: String,
      tmp: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(conf)
    val p = schemaSidecar(path)
    if (fs.exists(p))
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, new Path(tmp, p.getName),
        false, false, conf)
  }

  /** The sidecar-recorded schema of the table at `path`, if one was ever
    * written — ONE small-file open, no listing, no footer job. The
    * driver-side answer to "what columns does this table have" for every
    * caller that doesn't need the data (schema-on-write checks, fk-type
    * resolution); `None` falls back to ordinary inference. */
  private[graft] def schemaOf(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one open, no existence probe first: every flat read asks this
    val json =
      try graft.layout.SwapProtocol.readSmallFile(fs, schemaSidecar(path))
      catch { case _: java.io.FileNotFoundException => return None }
    Some(org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The raw bucketed frame (bucket column included), schema-safe for
    * file-less (emptied) states. */
  private[graft] def readRaw(spark: SparkSession, path: String): DataFrame =
    try spark.read.parquet(path)
    catch { case e: org.apache.spark.sql.AnalysisException =>
      schemaOf(spark, path) match {
        case None => throw e
        case Some(sch) => spark.read.schema(sch).parquet(path)
      }
    }

  /** [[prunedMerge]] staged rows into buckets its source did not touch (a
    * key-moving UPDATE or INSERT), which the bucket swap would drop. */
  private[graft] final class RowsLeftTouchedBuckets(path: String,
      buckets: Seq[String]) extends IllegalStateException(
    s"merge into $path wrote rows to untouched buckets " +
      buckets.mkString(", "))

  /** Partition-pruned merge, `Catalog.mergePath`'s path for a key-local
    * merge on the bucket keys, which (with the count) come from the
    * `<path>.buckets` manifest. `sourceKeys`, the source's expressions for
    * them (default: same-named columns), hash in the table's key types.
    * `mergeFn` receives (prunedTarget, source) and returns the merged
    * slice — e.g.
    * `(t, s) => MergeEngine.scd1(t, s, keys, tracked, skeyBase = Some(read(spark, path)))`.
    * Returns the buckets that were rewritten.
    *
    * Each merge is a table version: the touched buckets' pre-merge dirs are
    * retired into the same `<path>.history/v{N}` + `_current` pointer log
    * Catalog snapshots use (only the CHANGED buckets are moved — per-merge
    * history cost is O(touched), the Delta-manifest property), so bucketed
    * dims are time-travelable through [[readVersion]] and SQL
    * `VERSION AS OF`. */
  def prunedMerge(spark: SparkSession, path: String, source: DataFrame,
      sourceKeys: Seq[Column] = Nil, keepVersions: Int = 10)(
      mergeFn: (DataFrame, DataFrame) => DataFrame): Seq[Int] = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (keys, nBuckets) = readBucketMeta(spark, path).getOrElse(
      throw new IllegalArgumentException(s"merge into bucketed table $path " +
        "requires its bucket-layout manifest (<path>.buckets)"))
    // optimistic concurrency: everything from here reads live state the
    // staged merge derives from — record the version staged against
    val stagedAgainst =
      graft.layout.SwapProtocol.recoverAbortedSwap(spark, fs, path)
    val schema = schemaOf(spark, path).getOrElse(readRaw(spark, path).schema)
    val typedKeys = keys.zip(if (sourceKeys.isEmpty) keys.map(col)
        else sourceKeys).map { case (k, c) =>
      schema.fields.find(_.name.equalsIgnoreCase(k))
        .fold(c)(f => c.cast(f.dataType))
    }
    val touched = source
      .select(pmod(hash(typedKeys: _*), lit(nBuckets)).as(BucketCol))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    // Empty source ⟹ no touched buckets ⟹ nothing to merge: no stage, no
    // swap, no version. The collect is also the callers' emptiness probe
    // (an incremental view needs no `source.isEmpty` job of its own).
    if (touched.isEmpty) return Nil
    // DV-applied: merging over a raw read would resurrect rows that
    // merge-on-read DML deleted; the rewrite FOLDS the touched buckets'
    // sidecars away (they retire with the old dirs). The read LISTS only
    // the touched bucket dirs (basePath keeps the partition column), so a
    // merge's driver-side listing is O(touched files), not O(table).
    val touchedDirs = touched
      .map(b => new Path(s"$path/$BucketCol=$b"))
      .filter(fs.exists).map(_.toString)
    val prunedRaw =
      if (touchedDirs.isEmpty)
        // all-new keys: none of the touched buckets exist yet — an empty
        // slice with the table's recorded schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.option("basePath", path).parquet(touchedDirs: _*)
    val pruned = applyBucketDvs(spark, path, prunedRaw).drop(BucketCol)
    // the write gate: generated columns the merge output lacks are
    // computed, the ones it carries are checked with the constraints
    val merged = TableRules.generate(spark, path, mergeFn(pruned, source))

    // unique per-attempt staging (vacuum's `.tmp` sweep reclaims abandoned
    // ones); the swap checks `stagedAgainst`, so a concurrent merge loses
    // with the typed conflict that commitWithRetry serializes.
    val tmp = new Path(s"$path.tmp-merge-" +
      java.util.UUID.randomUUID().toString.take(8))
    // staging write runs BEFORE any rename, so the (lazy) pruned scan and
    // skeyBase scan still read the original files
    val staged = merged.frame.withColumn(BucketCol, bucketExpr(keys, nBuckets))
    staged.write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
      .parquet(tmp.toString)
    val retire = bucketRetire(touched)
    val strays = fs.listStatus(tmp).map(_.getPath.getName)
      .filter(n => n.startsWith(s"$BucketCol=") && !retire.names.contains(n))
    if (strays.nonEmpty) {
      fs.delete(tmp, true)
      throw new RowsLeftTouchedBuckets(path, strays.toSeq)
    }

    // validate the staged buckets (the only rows this merge changes)
    // before any rename, scoped O(touched). Explicit schema: a merge that
    // deleted every touched row stages a file-less tree.
    TableRules.enforceStaged(spark, path, merged.checks, tmp,
      Some(staged.schema))

    graft.layout.SwapProtocol.commit(spark, fs, path, tmp, retire,
      keepVersions, Some(stagedAgainst))
    writeSchemaSidecar(spark, path, staged.schema)
    touched
  }

  /** The retire set of a bucket swap: the touched `gbucket=` dirs. */
  private[graft] def bucketRetire(touched: Seq[Int])
      : graft.layout.SwapProtocol.Children =
    graft.layout.SwapProtocol.Children(touched.map(b => s"$BucketCol=$b"))

  /** The bucket directories that hold table version `v`:
    * `(bucketName, basePath, bucketDir)` per bucket that EXISTED at `v`,
    * each the earliest retire entry `>= v` holding it (that copy is the
    * bucket's state from its previous change through v) or the live dir
    * when no later merge touched it. Shared by [[reconstructVersion]] and
    * `Catalog.clonePath VERSION AS OF` (which links/copies exactly these
    * dirs — per-bucket `_dv` sidecars ride along, so a version clone
    * carries that version's deletion state). */
  private[graft] def versionBucketDirs(spark: SparkSession, path: String,
      v: Int, only: Option[Set[String]] = None): Seq[(String, String, Path)] = {
    import graft.catalog.Catalog
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SwapProtocol.readPointer(fs, path)
    require(v >= 1 && v <= cur,
      s"version $v out of range for $path (current = $cur)")
    def hasData(p: Path) =
      fs.listStatus(p).exists(!_.getPath.getName.startsWith("_"))
    // v == cur lists the LIVE tree — the same crashed-swap partial-data
    // window read() heals; historical versions are immune (a crashed
    // v{cur} retire entry holds the bucket's state AT cur, which is
    // exactly what reconstruction of any v <= cur should use)
    def admitted(name: String) = only.forall(_.contains(name))
    if (v == cur) graft.layout.SwapProtocol.healCrashedSwap(spark, fs, path)
    if (v == cur)
      return fs.listStatus(new Path(path)).map(_.getPath)
        .filter(p => p.getName.startsWith(s"$BucketCol=") &&
          admitted(p.getName))
        .filter(hasData)
        .map(p => (p.getName, path, p)).toSeq
    val missing = (v until cur).filterNot(w =>
      fs.exists(SwapProtocol.versionDir(path, w)))
    require(missing.isEmpty,
      s"version $v of $path was pruned from the log (missing transitions: " +
        missing.mkString(", ") + ")")
    // bucket -> its earliest retire entry at or after v
    val chosen = scala.collection.mutable.LinkedHashMap.empty[String, (String, Path)]
    (v until cur).foreach { w =>
      val vdir = SwapProtocol.versionDir(path, w)
      fs.listStatus(vdir).map(_.getPath)
        .filter(p => p.getName.startsWith(s"$BucketCol=") &&
          admitted(p.getName)).foreach { p =>
          if (!chosen.contains(p.getName))
            chosen(p.getName) = (vdir.toString, p)
        }
    }
    fs.listStatus(new Path(path)).map(_.getPath)
      .filter(p => p.getName.startsWith(s"$BucketCol=") &&
        admitted(p.getName)).foreach { p =>
        if (!chosen.contains(p.getName)) chosen(p.getName) = (path, p)
      }
    // empty retire entry = bucket absent at v
    chosen.toSeq.collect { case (name, (base, p)) if hasData(p) =>
      (name, base, p)
    }
  }

  private[graft] def reconstructVersion(spark: SparkSession, path: String,
      v: Int, only: Option[Set[String]] = None): DataFrame = {
    import graft.layout.DeletionVectors
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = versionBucketDirs(spark, path, v, only)
    val dvDirs = entries
      .map(e => new Path(e._3, DeletionVectors.DvDirName))
      .filter(fs.exists)
    // group by base dir so the partition column survives the read; when
    // any chosen dir carries a `_dv` sidecar, tag physical positions at
    // the RELATION level (the `_metadata` pseudo-column does not resolve
    // through a Union) so the anti-join below can subtract them
    def partOf(base: String, dirs: Seq[Path]): DataFrame = {
      val d = spark.read.option("basePath", base)
        .parquet(dirs.map(_.toString): _*)
      if (dvDirs.isEmpty) d
      else d.withColumn(DeletionVectors.FileCol, col("_metadata.file_name"))
        .withColumn(DeletionVectors.PosCol, col("_metadata.row_index"))
    }
    val parts = entries.groupBy(_._2).toSeq.map { case (base, es) =>
      partOf(base, es.map(_._3)) }
    val df =
      if (parts.isEmpty) readRaw(spark, path).limit(0) // sidecar schema
      else parts.reduce(_.unionByName(_))
    // apply the CHOSEN dirs' own `_dv` sidecars: positions are recorded
    // against (bucket, basename, row), all preserved by retire renames —
    // so each version reads exactly its own deletion state
    if (dvDirs.isEmpty) df
    else {
      val dv = DeletionVectors.bucketDvFrame(spark, dvDirs)
      df.join(dv, df(BucketCol) === dv(BucketCol) &&
          df(DeletionVectors.FileCol) === dv("file_name") &&
          df(DeletionVectors.PosCol) === dv("row_index"), "left_anti")
        .drop(DeletionVectors.FileCol, DeletionVectors.PosCol)
    }
  }

  /** Version-addressed read, [[read]]'s shape (bucket column dropped). */
  def readVersion(spark: SparkSession, path: String, v: Int): DataFrame =
    reconstructVersion(spark, path, v).drop(BucketCol)

  /** OPTIMIZE's bin-packing for the bucketed layout: rewrite every bucket
    * whose file count exceeds what `targetFileSize` calls for into
    * ~target-sized files, as a NEW table version through the same retire
    * protocol as a merge (contents unchanged, history gains a version).
    * One distributed job for all touched buckets: rows are shuffled to
    * `ceil(bucketBytes / target)` groups per bucket, so each bucket lands
    * in at most that many files. Returns the compacted buckets. */
  def compact(spark: SparkSession, path: String, targetFileSize: Long,
      keepVersions: Int = 10): Seq[Int] = {
    require(targetFileSize > 0, "targetFileSize must be positive")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedAgainst =
      graft.layout.SwapProtocol.recoverAbortedSwap(spark, fs, path)
    val perBucket = fs.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.startsWith(s"$BucketCol="))
      .map { p =>
        val files = fs.listStatus(p)
          .filterNot(_.getPath.getName.startsWith("_"))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1L, (bytes + targetFileSize - 1) / targetFileSize)
        (p.getName.stripPrefix(s"$BucketCol=").toInt, files.length, want.toInt)
      }
    val plan = perBucket.filter { case (_, nFiles, want) => nFiles > want }
      .map { case (b, _, want) => b -> want }.toSeq.sortBy(_._1)
    if (plan.isEmpty) return Nil
    val touched = plan.map(_._1)
    // per-bucket file-count control in one shuffle: a deterministic salt in
    // [0, want_b) per row; repartitioning on (bucket, salt) caps the number
    // of tasks — hence files — holding each bucket at want_b
    val wantFor = plan.foldLeft(lit(1)) { case (acc, (b, want)) =>
      when(col(BucketCol) === b, lit(want)).otherwise(acc)
    }
    // DV-applied: compaction of a bucket folds its `_dv` sidecar into the
    // rewritten files (Delta's PURGE-on-OPTIMIZE), never resurrects
    val df = applyBucketDvs(spark, path, spark.read.parquet(path)
      .filter(col(BucketCol).isin(touched.map(Int.box): _*)))
    val salted = df.withColumn("__graft_salt",
      pmod(hash(struct(df.columns.map(col): _*)), wantFor))
    val tmp = s"$path.tmp-merge-" +
      java.util.UUID.randomUUID().toString.take(8)
    salted.repartition(col(BucketCol), col("__graft_salt"))
      .drop("__graft_salt")
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmp)
    graft.layout.SwapProtocol.commit(spark, fs, path, new Path(tmp),
      bucketRetire(touched), keepVersions, Some(stagedAgainst))
    touched
  }

  /** `OPTIMIZE … ZORDER BY` for the bucketed layout: rewrite every bucket
    * with its rows clustered along the Morton curve of `cols` WITHIN the
    * bucket — bucket pruning (equi-key lookups on the hash keys) and
    * z-order file skipping (range/point filters on OTHER columns) compose
    * instead of excluding each other. One distributed job: a single range
    * exchange on (bucket, z) makes each output file cover a contiguous
    * z-range inside one bucket, so per-file min/max footers are tight on
    * all clustered columns. Commits as a new version through the same
    * retire protocol as a merge; per-bucket `_dv` sidecars fold into the
    * rewrite (OPTIMIZE's PURGE rule). Returns the rewritten buckets. */
  def zorderCompact(spark: SparkSession, path: String, cols: Seq[String],
      targetFileSize: Long, keepVersions: Int = 10): Seq[Int] = {
    require(cols.nonEmpty, "ZORDER BY needs at least one column")
    require(targetFileSize > 0, "targetFileSize must be positive")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedAgainst =
      graft.layout.SwapProtocol.recoverAbortedSwap(spark, fs, path)
    val buckets = liveBucketDirs(fs, path)
    if (buckets.isEmpty) return Nil
    val touched = buckets
      .map(_.getName.stripPrefix(s"$BucketCol=").toInt).sorted
    val bytes = buckets.flatMap(b => fs.listStatus(b)
      .filterNot(_.getPath.getName.startsWith("_")).map(_.getLen)).sum
    val n = math.max(1L, (bytes + targetFileSize - 1) / targetFileSize).toInt
    val df = applyBucketDvs(spark, path, readRaw(spark, path))
    val zc = "__graft_z"
    val staged = df
      .withColumn(zc, graft.layout.ZOrder.zValue(df, cols))
      .repartitionByRange(n, col(BucketCol), col(zc))
      .sortWithinPartitions(col(BucketCol), col(zc))
      .drop(zc)
    val tmp = s"$path.tmp-merge-" +
      java.util.UUID.randomUUID().toString.take(8)
    staged.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(tmp)
    graft.layout.SwapProtocol.commit(spark, fs, path, new Path(tmp),
      bucketRetire(touched), keepVersions, Some(stagedAgainst))
    touched
  }
}
