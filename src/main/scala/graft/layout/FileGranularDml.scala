package graft.layout

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, TableRules}

/** FILE-GRANULAR copy-on-write DELETE/UPDATE on flat snapshots, the path
  * `Catalog.deleteWherePath`/`updateWherePath` route them to while the
  * table's DV mode is off (Delta's DML likewise narrows the rewrite to
  * files that contain matches; everything else is carried by reference).
  *
  * The statement becomes:
  *   1. one column-pruned probe finds the files holding matched rows and
  *      the affected count together (`groupBy(_metadata.file_name)` —
  *      driver payload ≤ file count, the same metadata scale as the
  *      skipping manifest);
  *   2. every UNTOUCHED file hard-links into the staged snapshot
  *      (O(file count) metadata, zero data movement);
  *   3. only the touched files are read back and rewritten with the
  *      statement applied (non-matching rows in them pass through);
  *   4. one atomic swap commits the version.
  *
  * At 100 TB, a DELETE matching 0.1% of rows clustered in 1% of files
  * rewrites 1% of the table instead of 100% — merge-on-read
  * ([[DeletionVectors]]) still wins when nothing should move at all, but
  * when the user WANTS copy-on-write (no read debt, no sidecar), this is
  * the right cost.
  *
  * Composition rules:
  *   - an existing `_dv` sidecar: positions on linked files carry
  *     forward verbatim; positions on rewritten files FOLD (the rewrite
  *     reads DV-applied) — reads agree before and after.
  *   - the skipping manifest carries only surviving files' entries
  *     ([[DataSkipping.carryManifest]]) — a stale entry would chase a
  *     vanished file; rewritten files read unprofiled until the next
  *     incremental ANALYZE, like appends.
  *   - UPDATE stages `TableRules.updateImage` and validates its checks
  *     on the REWRITTEN files only (they hold every row that changed;
  *     linked files passed at their own write time). */
object FileGranularDml {

  def deleteWhere(spark: SparkSession, dir: String, cond: Column,
      keepVersions: Int = 10, alias: Option[String] = None): Long =
    rewrite(spark, dir, cond, None, keepVersions, alias, "DELETE")

  def updateWhere(spark: SparkSession, dir: String, cond: Column,
      assign: Seq[(String, Column)], keepVersions: Int = 10,
      alias: Option[String] = None): Long =
    rewrite(spark, dir, cond, Some(assign), keepVersions, alias, "UPDATE")

  // -------------------------------------------------- oracle surface

  /** q224 — the flat copy-on-write lifecycle through the file-granular
    * path: a snapshot of orders laid out so matches cluster in few files
    * gets a DELETE (status purge) and an UPDATE (priority relabel), then
    * reads back. The oracle replays both statements in SQL; equality
    * proves pass-through rows in rewritten files survive and linked
    * files subtract nothing. */
  def fileDmlLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft-q224").toString
    val t = s"$wh/orders"
    graft.Tables.load(spark, dir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("prio"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
      .write.parquet(t)
    deleteWhere(spark, t, col("k") % 10 === 3)
    updateWhere(spark, t, col("status") === "F",
      Seq("prio" -> lit("0-DONE")))
    spark.read.parquet(t).orderBy("k")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q224_file_dml" -> (fileDmlLifecycle _))

  val oracles: Map[String, String] = Map(
    "q224_file_dml" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
                CASE WHEN o_orderstatus = 'F' THEN '0-DONE'
                     ELSE o_orderpriority END AS prio
         FROM orders
         WHERE o_orderkey % 10 <> 3
         ORDER BY k""")

  private def rewrite(spark: SparkSession, dir: String, cond: Column,
      assign: Option[Seq[(String, Column)]], keepVersions: Int,
      alias: Option[String], operation: String): Long =
    Catalog.raceToConflictShim(dir) {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      require(fs.exists(root), s"no table at $dir")
      require(Catalog.partitionColsOf(fs, dir).isEmpty,
        s"file-granular DML expects a flat snapshot at $dir " +
          "(bucketed layouts route through BucketedDml)")
      val stagedAgainst = SwapProtocol.readPointer(fs, dir)
      val base = spark.read.parquet(dir)
      val schema = base.schema
      val c = coalesce(cond, lit(false))
      def image(rows: DataFrame) = assign.map(
        TableRules.updateImage(spark, dir, rows, _, Some(c)))
      val live = DeletionVectors.taggedLive(spark, dir, alias, base)
      // UPDATE's checks come from the image over the whole live table, so
      // a bad assignment raises before the probe job
      val checks = image(live).map(_.checks)
      // ONE probe job: touched files + affected count together
      val fileCounts = live.filter(c)
        .groupBy(DeletionVectors.FileCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      if (fileCounts.isEmpty) 0L
      else {
        val affected = fileCounts.map(_._2).sum
        val touched = fileCounts.map(_._1).toSet
        val tmp = Catalog.stagingPathShim(dir, "")
        try {
          fs.mkdirs(tmp)
          // link every untouched data file — carried by reference
          val linked = fs.listStatus(root).map(_.getPath)
            .filter { p =>
              val n = p.getName
              !n.startsWith("_") && !n.startsWith(".") && !touched(n)
            }.map(_.getName).toSet
          val canLink = fs.getScheme == "file"
          linked.foreach { n =>
            val s = new Path(root, n); val d = new Path(tmp, n)
            if (canLink)
              java.nio.file.Files.createLink(
                java.nio.file.Paths.get(fs.makeQualified(d).toUri.getPath),
                java.nio.file.Paths.get(fs.makeQualified(s).toUri.getPath))
            else require(org.apache.hadoop.fs.FileUtil.copy(fs, s,
              fs, d, false, false, conf), s"link/copy failed: $n")
          }
          // rewrite ONLY the touched files, statement applied
          val slice = DeletionVectors.taggedLive(spark, dir, alias, spark.read
            .schema(schema).parquet(touched.toSeq.map(dir + "/" + _): _*))
          val staged = image(slice) match {
            case Some(g) => g.frame
            case None =>
              slice.filter(!c).select(schema.fieldNames.map(col).toSeq: _*)
          }
          val stage = Catalog.stagingPathShim(dir, "-rewrite")
          staged.write.mode(SaveMode.Overwrite).parquet(stage.toString)
          // UPDATE re-validates the rewritten files (linked files passed
          // at their own write time; a DELETE can only remove rows)
          checks.foreach(TableRules.enforceStaged(spark, dir, _, stage))
          TableRules.moveStaged(fs, stage, tmp)
          // DV sidecar: positions on linked files carry; positions on
          // rewritten files folded by the DV-applied slice above
          val dvDir = new Path(root, DeletionVectors.DvDirName)
          if (fs.exists(dvDir)) {
            val keep = spark.read.parquet(dvDir.toString)
              .filter(col("file_name").isin(linked.toSeq: _*))
            if (keep.limit(1).count() > 0)
              keep.write.parquet(
                new Path(tmp, DeletionVectors.DvDirName).toString)
          }
          // skipping stats: surviving files' entries only; the schema is
          // unchanged, so its sidecar carries whole
          DataSkipping.carryManifest(spark, dir, tmp, linked)
          graft.merge.PartitionedMerge.carrySchemaSidecar(spark, dir, tmp)
          SwapProtocol.commit(spark, fs, dir, tmp, SwapProtocol.WholeDir,
            keepVersions, Some(stagedAgainst),
            Seq(SwapProtocol.OperationTag -> operation))
          affected
        } catch { case e: Throwable =>
          if (fs.exists(tmp)) fs.delete(tmp, true)
          throw e
        }
      }
    }
}
