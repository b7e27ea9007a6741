package graft.layout

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, TableRules}
import graft.merge.PartitionedMerge

/** Row-level DML on BUCKET-PARTITIONED tables — the Delta-parity piece
  * the flat-snapshot paths ([[DeletionVectors]], `graft.sql.DmlRunner`)
  * declared out of scope through round 6 (Delta supports DVs on
  * partitioned tables; the gold dims here are exactly the bucketed
  * tables, and GDPR-style `DELETE FROM` lands on dims).
  *
  * Every statement commits through [[SwapProtocol.commit]] as a bucket
  * swap: stage replacement `gbucket=N` dirs, retire the touched live
  * dirs into `<path>.history/v{N}`, advance the pointer — so each
  * statement is a real table version with O(touched-bucket) history
  * cost, and UNTOUCHED buckets are never opened, listed, or rewritten.
  *
  * Two modes, matching the flat paths:
  *   - merge-on-read (`deleteWhereMor`/`updateWhereMor`, used when the
  *     table's DV mode is on): each touched bucket's replacement dir is
  *     HARD-LINKS of its data files plus a grown per-bucket `_dv`
  *     position sidecar (`gbucket=N/_dv/`, invisible to parquet scans,
  *     retired/cloned/time-traveled WITH its bucket) — O(matched rows +
  *     touched-bucket file metadata), data bytes never move.
  *   - copy-on-write (`deleteWhereCow`/`updateWhereCow`): the touched
  *     buckets are rewritten DV-applied (folding any pending sidecar,
  *     like the flat eager path) — O(touched buckets' data), still never
  *     O(table).
  *
  * UPDATE routing: an assignment may change a bucketing key, moving the
  * row to a different bucket. The destination is `pmod(hash(keys), n)`
  * from the table's `<path>.buckets` manifest
  * ([[PartitionedMerge.readBucketMeta]]); tables predating the manifest
  * keep rows in their original bucket (sound while key columns are not
  * assigned).
  *
  * Scale: the one driver-side collect per statement is the touched
  * bucket list (≤ nBuckets ints, bounded by construction). Positions
  * frames are tiny relative to data, so the read-side anti-join
  * broadcasts. Single-writer per table, the layout's documented
  * contract. */
object BucketedDml {

  private val BucketCol = PartitionedMerge.BucketCol
  private val FileCol = DeletionVectors.FileCol
  private val PosCol = DeletionVectors.PosCol

  /** Live rows tagged with physical positions (bucket column retained),
    * existing per-bucket DVs subtracted — the planning frame for both
    * modes. */
  private def taggedLive(spark: SparkSession, dir: String,
      alias: Option[String]): DataFrame = {
    val base = PartitionedMerge.readRaw(spark, dir)
    val data = alias.fold(base)(base.alias)
      .withColumn(FileCol, col("_metadata.file_name"))
      .withColumn(PosCol, col("_metadata.row_index"))
    val dvDirs = DeletionVectors.dvDirsOf(spark, dir)
    if (dvDirs.isEmpty) data
    else {
      // (bucket, file, row) key — partitionBy writes reuse part-file
      // names across bucket dirs, see DeletionVectors.bucketDvFrame
      val dv = DeletionVectors.bucketDvFrame(spark, dvDirs)
      data.join(dv, data(BucketCol) === dv(BucketCol) &&
        data(FileCol) === dv("file_name") &&
        data(PosCol) === dv("row_index"), "left_anti")
    }
  }

  private def dataColumns(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(c => c.equalsIgnoreCase(BucketCol) ||
      c == FileCol || c == PosCol)

  /** Routed destination bucket for written rows: recomputed from the
    * bucket manifest when present, the row's original bucket otherwise. */
  private def routeBuckets(spark: SparkSession, dir: String,
      rows: DataFrame): DataFrame =
    PartitionedMerge.readBucketMeta(spark, dir) match {
      case Some((keys, n)) => rows.withColumn(BucketCol,
        PartitionedMerge.bucketExpr(keys, n))
      case None => rows // legacy layout: original bucket (column present)
    }

  /** UPDATE's row image of `rows` ([[TableRules.updateImage]]; the bucket
    * column rides through), routed to its destination buckets. */
  private def routedImage(spark: SparkSession, dir: String, rows: DataFrame,
      assign: Seq[(String, Column)],
      matched: Option[Column] = None): TableRules.Gated = {
    val g = TableRules.updateImage(spark, dir, rows, assign, matched)
    g.copy(frame = routeBuckets(spark, dir, g.frame))
  }

  // ------------------------------------------------ merge-on-read

  /** `DELETE FROM` on a bucketed table, merge-on-read: hard-links + a
    * grown per-bucket `_dv` sidecar per touched bucket, one version.
    * Returns num_affected_rows (cond TRUE only — 3VL). */
  def deleteWhereMor(spark: SparkSession, dir: String, cond: Column,
      keepVersions: Int = 10, alias: Option[String] = None): Long =
    commitBucketed(spark, dir, keepVersions, newRows = None, alias)(cond)

  /** `UPDATE` on a bucketed table, merge-on-read: old images into the
    * touched buckets' sidecars, updated images appended to their
    * (possibly different) destination buckets — one commit. */
  def updateWhereMor(spark: SparkSession, dir: String, cond: Column,
      assign: Seq[(String, Column)], keepVersions: Int = 10,
      alias: Option[String] = None): Long =
    commitBucketed(spark, dir, keepVersions,
      newRows = Some(routedImage(spark, dir, _, assign)), alias)(cond)

  /** Shared merge-on-read commit for the bucketed layout. */
  private def commitBucketed(spark: SparkSession, dir: String,
      keepVersions: Int, newRows: Option[DataFrame => TableRules.Gated],
      alias: Option[String])(cond: Column): Long =
    Catalog.raceToConflictShim(dir) {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      require(fs.exists(root), s"no table at $dir")
      val stagedAgainst = SwapProtocol.recoverAbortedSwap(spark, fs, dir)
      val matched = taggedLive(spark, dir, alias)
        .filter(coalesce(cond, lit(false))).cache()
      try {
        // UPDATE's image: assignments are checked here, before any job
        val routed = newRows.map(_(matched))
        // ONE job learns both the touched buckets and the affected count
        // (driver-side payload ≤ nBuckets rows)
        val bucketCounts = matched.groupBy(BucketCol).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toSeq
        val oldBuckets = bucketCounts.map(_._1)
        if (oldBuckets.isEmpty) 0L
        else {
          val affected = bucketCounts.map(_._2).sum
          val tmp = dir + ".tmp-merge-" +
            java.util.UUID.randomUUID().toString.take(8)
          try {
            // UPDATE: stage the new row images FIRST — the staged
            // partition dirs ARE the destination-bucket list, no extra
            // distinct-collect job
            val rowStage = routed.map { g =>
              val stage = Catalog.stagingPathShim(dir, "-dvupd")
              g.frame.write.mode(SaveMode.Overwrite)
                .partitionBy(BucketCol).parquet(stage.toString)
              (stage, g.checks)
            }
            val newBuckets = rowStage.toSeq.flatMap { case (s, _) =>
              fs.listStatus(s).map(_.getPath.getName)
                .filter(_.startsWith(s"$BucketCol="))
                .map(_.stripPrefix(s"$BucketCol=").toInt) }
            val touched = (oldBuckets ++ newBuckets).distinct.sorted
            // staged replacement per touched bucket: links of its current
            // data files (names preserved — sidecar positions key on them)
            touched.foreach { b =>
              val liveB = new Path(dir, s"$BucketCol=$b")
              val stagedB = new Path(tmp, s"$BucketCol=$b")
              fs.mkdirs(stagedB)
              if (fs.exists(liveB)) Catalog.linkDataTree(fs, conf, liveB, stagedB)
            }
            // merged sidecars: every touched bucket's existing positions
            // (they must ride into the replacement dir) + the new ones
            val existingDv = touched.flatMap { b =>
              val dvB = new Path(dir, s"$BucketCol=$b/${DeletionVectors.DvDirName}")
              if (fs.exists(dvB))
                Some(spark.read.parquet(dvB.toString)
                  .withColumn(BucketCol, lit(b)))
              else None
            }
            val newDv = matched.select(col(BucketCol),
              col(FileCol).as("file_name"), col(PosCol).as("row_index"))
            val allDv = (existingDv :+ newDv).reduce(_.unionByName(_))
            val dvStage = Catalog.stagingPathShim(dir, "-dvstage")
            allDv.write.mode(SaveMode.Overwrite)
              .partitionBy(BucketCol).parquet(dvStage.toString)
            fs.listStatus(dvStage).map(_.getPath)
              .filter(_.getName.startsWith(s"$BucketCol=")).foreach { e =>
                val d = new Path(new Path(tmp, e.getName),
                  DeletionVectors.DvDirName)
                require(SwapProtocol.move("stage-move", fs, e, d),
                  s"DV sidecar stage failed: $e")
              }
            fs.delete(dvStage, true)

            // UPDATE's new row images (staged above): append-shaped, so
            // constraints and generated-column definitions validate on
            // the NEW files only, then the part files move into their
            // destination buckets' staged dirs (brand-new buckets too)
            rowStage.foreach { case (stage, checks) =>
              TableRules.enforceStaged(spark, dir, checks, stage)
              TableRules.moveStaged(fs, stage, new Path(tmp))
            }
            SwapProtocol.commit(spark, fs, dir, new Path(tmp),
              PartitionedMerge.bucketRetire(touched), keepVersions,
              Some(stagedAgainst))
            affected
          } catch { case e: Throwable =>
            if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
            throw e
          }
        }
      } finally { matched.unpersist(); () }
    }

  // ------------------------------------------------ copy-on-write

  /** `DELETE FROM` on a bucketed table, copy-on-write: rewrite ONLY the
    * buckets holding matched rows (DV-applied — pending sidecars of the
    * touched buckets fold away, the flat eager path's rule). */
  def deleteWhereCow(spark: SparkSession, dir: String, cond: Column,
      keepVersions: Int = 10, alias: Option[String] = None): Long =
    rewriteBuckets(spark, dir, keepVersions, alias, cond,
      project = None)

  /** `UPDATE` on a bucketed table, copy-on-write: rewrite the buckets
    * holding matched rows plus any destination buckets rows move into. */
  def updateWhereCow(spark: SparkSession, dir: String, cond: Column,
      assign: Seq[(String, Column)], keepVersions: Int = 10,
      alias: Option[String] = None): Long =
    rewriteBuckets(spark, dir, keepVersions, alias, cond,
      project = Some(assign))

  private def rewriteBuckets(spark: SparkSession, dir: String,
      keepVersions: Int, alias: Option[String], cond: Column,
      project: Option[Seq[(String, Column)]]): Long =
    Catalog.raceToConflictShim(dir) {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(dir).getFileSystem(conf)
      require(fs.exists(new Path(dir)), s"no table at $dir")
      val stagedAgainst = SwapProtocol.recoverAbortedSwap(spark, fs, dir)
      val live = taggedLive(spark, dir, alias)
      val c = coalesce(cond, lit(false))
      val matched = live.filter(c).cache()
      try {
        // UPDATE: the matched rows' routed images (assignments checked
        // here, before any job) name the destination buckets
        val moved = project.map(routedImage(spark, dir, matched, _))
        // one job: touched buckets + affected count together
        val bucketCounts = matched.groupBy(BucketCol).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toSeq
        val oldBuckets = bucketCounts.map(_._1)
        if (oldBuckets.isEmpty) 0L
        else {
          val affected = bucketCounts.map(_._2).sum
          val newBuckets = moved.toSeq.flatMap(_.frame.select(BucketCol)
            .distinct().collect().map(_.getInt(0)).toSeq)
          val touched = (oldBuckets ++ newBuckets).distinct.sorted
          // staged contents: every row of the touched buckets, with the
          // statement applied — non-matching rows pass through, matching
          // rows are dropped (DELETE) or reassigned + re-routed (UPDATE)
          val slice = live.filter(
            col(BucketCol).isin(touched.map(Int.box): _*))
          val image = project.map(routedImage(spark, dir, slice, _, Some(c)))
          val staged = image match {
            case Some(g) => g.frame
            case None => slice.filter(!c)
              .select(dataColumns(slice).map(col) :+ col(BucketCol): _*)
          }
          val tmp = dir + ".tmp-merge-" +
            java.util.UUID.randomUUID().toString.take(8)
          try {
            staged.write.mode(SaveMode.Overwrite)
              .partitionBy(BucketCol).parquet(tmp)
            // UPDATE re-validates the rewritten buckets (prunedMerge's
            // scope); DELETE only removes rows, so CHECKs cannot break
            image.foreach(g => TableRules.enforceStaged(spark, dir,
              g.checks, new Path(tmp), Some(staged.schema)))
            SwapProtocol.commit(spark, fs, dir, new Path(tmp),
              PartitionedMerge.bucketRetire(touched), keepVersions,
              Some(stagedAgainst))
            affected
          } catch { case e: Throwable =>
            if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
            throw e
          }
        }
      } finally { matched.unpersist(); () }
    }

  // ------------------------------------------------ INSERT INTO

  /** Versioned APPEND into a bucketed table (`INSERT INTO` lowering):
    * new rows are routed to their `pmod(hash(keys), n)` buckets, each
    * destination bucket's replacement dir is links of its current files
    * plus the new files, and ONLY those buckets swap — untouched buckets
    * keep their inodes. Generated/identity columns fill exactly as the
    * flat append path; constraints validate the NEW rows only. */
  def insertInto(spark: SparkSession, df: DataFrame, dir: String,
      keepVersions: Int = 10): Unit = Catalog.raceToConflictShim(dir) {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    require(fs.exists(new Path(dir)), s"no table at $dir")
    val stagedAgainst = SwapProtocol.recoverAbortedSwap(spark, fs, dir)
    val (keys, n) = PartitionedMerge.readBucketMeta(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"INSERT INTO bucketed table $dir requires its bucket-layout " +
          "manifest (<path>.buckets); rewrite via PartitionedMerge.write " +
          "to record it"))
    // the write gate: generated/identity filled, strict schema-on-append
    // against the LOGICAL table (bucket column is layout, not data — an
    // insert never carries it)
    val g = TableRules.prepare(spark, dir, df)
    require(!g.frame.columns.exists(_.equalsIgnoreCase(BucketCol)),
      s"INSERT INTO $dir must not carry the bucket column $BucketCol")
    TableRules.shapeDiff(TableRules.liveSchema(spark, dir, sidecar = true),
      g.frame.schema, bucketed = true).foreach { d =>
      throw new IllegalArgumentException(
        s"INSERT INTO $dir schema mismatch: $d")
    }
    val routed = g.frame.withColumn(BucketCol,
      PartitionedMerge.bucketExpr(keys, n))
    val rowStage = Catalog.stagingPathShim(dir, "-insert")
    routed.write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol).parquet(rowStage.toString)
    try {
      TableRules.enforceStaged(spark, dir, g.checks, rowStage)
      val stagedBuckets = fs.listStatus(rowStage).map(_.getPath)
        .filter(_.getName.startsWith(s"$BucketCol=")).toSeq
      // plain if/else (not an early return): a non-local return through
      // raceToConflict's guarded catch is the fragility DeletionVectors
      // already had to shed
      if (stagedBuckets.nonEmpty) {
        val touched = stagedBuckets
          .map(_.getName.stripPrefix(s"$BucketCol=").toInt).sorted
        val tmp = dir + ".tmp-merge-" +
          java.util.UUID.randomUUID().toString.take(8)
        try {
          stagedBuckets.foreach { sb =>
            val stagedB = new Path(tmp, sb.getName)
            fs.mkdirs(stagedB)
            val liveB = new Path(dir, sb.getName)
            if (fs.exists(liveB)) {
              Catalog.linkDataTree(fs, conf, liveB, stagedB)
              // an existing per-bucket DV sidecar rides along unchanged:
              // linked files keep their names, appended rows are new files
              val dvB = new Path(liveB, DeletionVectors.DvDirName)
              if (fs.exists(dvB))
                org.apache.hadoop.fs.FileUtil.copy(fs, dvB,
                  fs, new Path(stagedB, DeletionVectors.DvDirName),
                  false, false, conf)
            }
          }
          TableRules.moveStaged(fs, rowStage, new Path(tmp))
          SwapProtocol.commit(spark, fs, dir, new Path(tmp),
            PartitionedMerge.bucketRetire(touched), keepVersions,
            Some(stagedAgainst))
        } catch { case e: Throwable =>
          if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
          throw e
        }
      } // else: empty insert commits no version
    } finally { if (fs.exists(rowStage)) fs.delete(rowStage, true); () }
  }

  /** `INSERT INTO t REPLACE WHERE <cond> <query>` on a bucketed table —
    * in Delta, replaceWhere is PRIMARILY a partitioned-table operation
    * (swap a region atomically), so the bucketed gold dims should not be
    * the one layout that lacks it. One atomic version: the predicate
    * region is deleted copy-on-write from the buckets that hold it, the
    * validated insert rows are hash-routed to their destination buckets
    * (`pmod(hash(keys), n)` from the layout manifest), and ONLY the
    * union of those buckets swaps — untouched buckets keep their inodes
    * and their pending DV sidecars; touched buckets fold their sidecars
    * away in the rewrite (the flat eager path's rule).
    *
    * Semantics are `Catalog.replaceWherePath`'s, which routes here:
    * every inserted row must satisfy the predicate
    * ([[TableRules.requireInRegion]] over the STAGED files, so a
    * non-deterministic query cannot pass validation and then materialize
    * different rows); rows where the predicate is NULL do not match and
    * are KEPT (3VL). Returns the number of removed rows. */
  def replaceWhere(spark: SparkSession, dir: String, condition: Column,
      insert: DataFrame,
      keepVersions: Int = 10): Long = Catalog.raceToConflictShim(dir) {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    require(fs.exists(new Path(dir)), s"no table at $dir")
    val stagedAgainst = SwapProtocol.recoverAbortedSwap(spark, fs, dir)
    require(PartitionedMerge.readBucketMeta(spark, dir).nonEmpty,
      s"REPLACE WHERE on bucketed table $dir requires its bucket-layout " +
        "manifest (<path>.buckets); rewrite via PartitionedMerge.write " +
        "to record it")
    require(!insert.columns.exists(_.equalsIgnoreCase(BucketCol)),
      s"REPLACE WHERE insert must not carry the bucket column $BucketCol")
    // the write gate, insertInto's rules (strict shape against the LOGICAL
    // table; generated columns computed when absent, validated when given)
    val g = TableRules.prepare(spark, dir, insert)
    TableRules.shapeDiff(TableRules.liveSchema(spark, dir, sidecar = true),
      g.frame.schema, bucketed = true).foreach { d =>
      throw new IllegalArgumentException(
        s"REPLACE WHERE on $dir schema mismatch: $d")
    }
    val cond = coalesce(condition, lit(false))
    val routed = routeBuckets(spark, dir, g.frame)
    val rowStage = Catalog.stagingPathShim(dir, "-replace")
    routed.write.mode(SaveMode.Overwrite)
      .partitionBy(BucketCol).parquet(rowStage.toString)
    try {
      val staged = spark.read.schema(routed.schema).parquet(rowStage.toString)
      TableRules.requireInRegion(staged, condition, dir)
      TableRules.enforceStaged(spark, dir, g.checks, rowStage,
        Some(staged.schema))
      val live = taggedLive(spark, dir, None)
      // one job: touched buckets + removed count together
      val bucketCounts = live.filter(cond).groupBy(BucketCol).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
      val oldBuckets = bucketCounts.map(_._1)
      val affected = bucketCounts.map(_._2).sum
      val newBuckets = fs.listStatus(rowStage).map(_.getPath.getName)
        .filter(_.startsWith(s"$BucketCol="))
        .map(_.stripPrefix(s"$BucketCol=").toInt).toSeq
      val touched = (oldBuckets ++ newBuckets).distinct.sorted
      if (touched.isEmpty) 0L // empty region AND empty insert: no version
      else {
        val tmp = dir + ".tmp-merge-" +
          java.util.UUID.randomUUID().toString.take(8)
        try {
          // copy-on-write survivors of the touched buckets (3VL: NULL
          // predicate rows do NOT match and are kept)
          val slice = live
            .filter(col(BucketCol).isin(touched.map(Int.box): _*))
            .filter(!cond)
          slice.select(dataColumns(slice).map(col) :+ col(BucketCol): _*)
            .write.mode(SaveMode.Overwrite).partitionBy(BucketCol)
            .parquet(tmp)
          // staged insert part files move into their buckets' staged
          // dirs (a destination bucket may be brand new)
          TableRules.moveStaged(fs, rowStage, new Path(tmp))
          SwapProtocol.commit(spark, fs, dir, new Path(tmp),
            PartitionedMerge.bucketRetire(touched), keepVersions,
            Some(stagedAgainst))
          affected
        } catch { case e: Throwable =>
          if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
          throw e
        }
      }
    } finally { if (fs.exists(rowStage)) fs.delete(rowStage, true); () }
  }

  // -------------------------------------------------- oracle surface

  /** q139 — the bucketed GDPR lifecycle the round exists for: a bucketed
    * customer dim gets a merge-on-read DELETE (segment purge) and a
    * merge-on-read UPDATE (balance adjustment on a key slice), then reads
    * back. The oracle replays both statements as plain SQL; equality
    * proves per-bucket sidecars subtract exactly and update images land
    * in the right buckets. */
  def bucketedDmlLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q139").toString
    val t = s"$wh/dim"
    val dim = graft.Tables.load(spark, dir, "customer").select(
      col("c_custkey").as("k"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"),
      col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        .as("acctbal"))
    PartitionedMerge.write(dim, t, Seq("k"), 8)
    deleteWhereMor(spark, t, col("segment") === "BUILDING")
    updateWhereMor(spark, t, col("k") % 100 === 0,
      Seq("acctbal" -> (col("acctbal") + 50)))
    PartitionedMerge.read(spark, t)
      .select(col("k"), col("name"), col("segment"),
        col("acctbal").cast("string").as("acctbal"))
      .orderBy("k")
  }

  /** q140 — INSERT INTO a bucketed dim: rows withheld from the initial
    * load are appended through the bucket-routing path; reading the whole
    * table back equals the full source, which fails if any row lands in
    * the wrong hash bucket or an untouched bucket is disturbed. */
  def bucketedInsert(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q140").toString
    val t = s"$wh/dim"
    val all = graft.Tables.load(spark, dir, "customer").select(
      col("c_custkey").as("k"),
      col("c_name").as("name"),
      col("c_nationkey").as("nation"))
    PartitionedMerge.write(all.filter(col("k") % 7 =!= 0), t, Seq("k"), 8)
    graft.catalog.Catalog.appendPath(spark,
      all.filter(col("k") % 7 === 0), t)
    PartitionedMerge.read(spark, t).orderBy("k")
  }

  /** q141 — per-bucket ZORDER is pure layout: cluster a bucketed slice of
    * orders by (custkey, totalprice) and read it back — row equality with
    * the plain projection is the whole contract (span tightening is
    * BucketedDmlSpec's assertion). */
  def bucketedZorder(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q141").toString
    val t = s"$wh/orders"
    val o = graft.Tables.load(spark, dir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_custkey").as("cust"),
      col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("price"))
    PartitionedMerge.write(o, t, Seq("k"), 8)
    PartitionedMerge.zorderCompact(spark, t, Seq("cust", "price"),
      4L * 1024 * 1024)
    PartitionedMerge.read(spark, t)
      .select(col("k"), col("cust"), col("price").cast("string").as("price"))
      .orderBy("k")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_bucketed_dml" -> (bucketedDmlLifecycle _),
    "q140_bucketed_insert" -> (bucketedInsert _),
    "q141_bucketed_zorder" -> (bucketedZorder _))

  val oracles: Map[String, String] = Map(
    "q139_bucketed_dml" ->
      """SELECT c_custkey AS k, c_name AS name, c_mktsegment AS segment,
                CAST(CASE WHEN c_custkey % 100 = 0
                          THEN CAST(c_acctbal AS DECIMAL(18,2)) + 50
                          ELSE CAST(c_acctbal AS DECIMAL(18,2)) END
                     AS VARCHAR) AS acctbal
         FROM customer
         WHERE c_mktsegment <> 'BUILDING'
         ORDER BY k""",
    "q140_bucketed_insert" ->
      """SELECT c_custkey AS k, c_name AS name, c_nationkey AS nation
         FROM customer ORDER BY k""",
    "q141_bucketed_zorder" ->
      """SELECT o_orderkey AS k, o_custkey AS cust,
                CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
         FROM orders ORDER BY k""")

  // ------------------------------------------------ REORG PURGE

  /** Fold every pending per-bucket sidecar into rewritten buckets
    * (Delta's `REORG … APPLY (PURGE)` for this layout): only buckets WITH
    * a sidecar rewrite; contents identical, one new version. */
  def materialize(spark: SparkSession, dir: String,
      keepVersions: Int = 10): Unit = Catalog.raceToConflictShim(dir) {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val stagedAgainst = SwapProtocol.recoverAbortedSwap(spark, fs, dir)
    val touched = PartitionedMerge.liveBucketDirs(fs, dir)
      .filter(p => fs.exists(new Path(p, DeletionVectors.DvDirName)))
      .map(_.getName.stripPrefix(s"$BucketCol=").toInt).sorted
    if (touched.nonEmpty) { // if/else, not return: see insertInto note
      // list only the touched dirs (all exist — touched was derived from
      // the live dir listing); basePath keeps the bucket column
      val staged = PartitionedMerge.applyBucketDvs(spark, dir,
        spark.read.option("basePath", dir)
          .parquet(touched.map(b => s"$dir/$BucketCol=$b"): _*))
      val tmp = dir + ".tmp-merge-" +
        java.util.UUID.randomUUID().toString.take(8)
      try {
        staged.write.mode(SaveMode.Overwrite)
          .partitionBy(BucketCol).parquet(tmp)
        SwapProtocol.commit(spark, fs, dir, new Path(tmp),
          PartitionedMerge.bucketRetire(touched), keepVersions,
          Some(stagedAgainst))
      } catch { case e: Throwable =>
        if (fs.exists(new Path(tmp))) fs.delete(new Path(tmp), true)
        throw e
      }
    }
  }
}
