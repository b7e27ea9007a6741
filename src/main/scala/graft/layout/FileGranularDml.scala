package graft.layout

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, TableRules}

/** FILE-GRANULAR copy-on-write DELETE/UPDATE/REPLACE WHERE on flat and
  * hive-partitioned snapshots, the path `Catalog.deleteWherePath`/
  * `updateWherePath` route them to while the table's DV mode is off, and
  * `Catalog.replaceWherePath` always (Delta's DML likewise narrows the
  * rewrite to files that contain matches; everything else is carried by
  * reference).
  *
  * The statement becomes:
  *   1. one column-pruned probe finds the files holding matched rows and
  *      the affected count together (`groupBy(_metadata.file_path)` —
  *      driver payload ≤ file count, the same metadata scale as the
  *      skipping manifest). Files are keyed by their path under the root:
  *      a partitioned write names one task's files alike in every
  *      partition dir;
  *   2. REPLACE WHERE's rows are staged once, in the table's partition
  *      layout, and pass the write gate and the region check;
  *   3. every UNTOUCHED data file hard-links into the staged snapshot
  *      under its relative path (O(file count) metadata, zero data
  *      movement);
  *   4. only the touched files are read back (with `basePath`, so their
  *      partition values survive) and rewritten with the statement
  *      applied (non-matching rows in them pass through; an UPDATE that
  *      changes a partition column lands its row in the new dir), and the
  *      staged rows move in beside them;
  *   5. one atomic swap commits the version.
  *
  * At 100 TB, a DELETE matching 0.1% of rows clustered in 1% of files
  * rewrites 1% of the table instead of 100% — merge-on-read
  * ([[DeletionVectors]]) still wins when nothing should move at all, but
  * when the user WANTS copy-on-write (no read debt, no sidecar), this is
  * the right cost.
  *
  * Composition rules:
  *   - an existing `_dv` sidecar (flat only): positions on linked files
  *     carry forward verbatim; positions on rewritten files FOLD (the
  *     rewrite reads DV-applied) — reads agree before and after.
  *   - the skipping manifest carries only surviving files' entries
  *     ([[DataSkipping.carryManifest]]) — a stale entry would chase a
  *     vanished file; rewritten and inserted files read unprofiled until
  *     the next incremental ANALYZE, like appends.
  *   - UPDATE stages `TableRules.updateImage` and validates its checks
  *     on the REWRITTEN files only, REPLACE WHERE on its staged rows only
  *     (they hold every row that changed; linked files passed at their
  *     own write time). */
object FileGranularDml {

  private val PathCol = "__graft_file_path"

  def deleteWhere(spark: SparkSession, dir: String, cond: Column,
      keepVersions: Int = 10, alias: Option[String] = None): Long =
    rewrite(spark, dir, cond, None, None, keepVersions, alias, None, "DELETE")

  def updateWhere(spark: SparkSession, dir: String, cond: Column,
      assign: Seq[(String, Column)], keepVersions: Int = 10,
      alias: Option[String] = None): Long =
    rewrite(spark, dir, cond, Some(assign), None, keepVersions, alias, None,
      "UPDATE")

  /** Delta's REPLACE WHERE: rows where `cond` is TRUE are removed and
    * `rows` inserted, in one version. Every inserted row must match
    * `cond` ([[TableRules.requireInRegion]]). Returns the removed count;
    * an empty region with no rows commits nothing. */
  def replaceWhere(spark: SparkSession, dir: String, cond: Column,
      rows: DataFrame, keepVersions: Int = 10,
      commitTag: Option[(String, String)] = None): Long =
    rewrite(spark, dir, cond, None, Some(rows), keepVersions, None,
      commitTag, "REPLACE WHERE")

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
      assign: Option[Seq[(String, Column)]], rows: Option[DataFrame],
      keepVersions: Int, alias: Option[String],
      commitTag: Option[(String, String)], operation: String): Long =
    Catalog.raceToConflictShim(dir) {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new Path(dir)
      val fs = root.getFileSystem(conf)
      require(fs.exists(root), s"no table at $dir")
      require(!Catalog.isBucketedLayout(fs, dir),
        s"file-granular DML expects a flat or hive snapshot at $dir " +
          "(bucketed layouts route through BucketedDml)")
      val stagedAgainst = SwapProtocol.readPointer(fs, dir)
      val partCols = Catalog.partitionColsOf(fs, dir)
      val base = spark.read.parquet(dir)
      val schema = base.schema
      val rootPath = fs.makeQualified(root).toUri.getPath
      def relative(uri: String) = new Path(new java.net.URI(uri)).toUri
        .getPath.stripPrefix(rootPath).stripPrefix("/")
      val c = coalesce(cond, lit(false))
      def image(rows: DataFrame) = assign.map(
        TableRules.updateImage(spark, dir, rows, _, Some(c)))
      def write(df: DataFrame, stage: Path): Unit = {
        val w = df.write.mode(SaveMode.Overwrite)
        (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
          .parquet(stage.toString)
      }
      // the alias goes on last: `_metadata` resolves only below it
      def tagged(df: DataFrame) = {
        val t = DeletionVectors.taggedLive(spark, dir, None, df)
        alias.fold(t)(t.alias)
      }
      val live = tagged(base.withColumn(PathCol, col("_metadata.file_path")))
      // UPDATE's checks come from the image over the whole live table, so
      // a bad assignment raises before the probe job
      val checks = image(live).map(_.checks)
      // ONE probe job: touched files + affected count together
      val fileCounts = live.filter(c).groupBy(PathCol).count().collect()
        .map(r => relative(r.getString(0)) -> r.getLong(1)).toSeq
      // REPLACE WHERE's rows, staged ONCE: the checks below and the commit
      // read the same files, so a non-deterministic query cannot pass
      // them and then write other rows
      val insert = rows.flatMap { df =>
        val g = TableRules.prepare(spark, dir, df)
        TableRules.shapeDiff(schema, g.frame.schema).foreach { d =>
          throw new IllegalArgumentException(
            s"$operation on $dir schema mismatch: $d") }
        val stage = Catalog.stagingPathShim(dir, "-insert")
        write(g.frame.select(schema.fieldNames.toSeq.map(n => col(
          g.frame.columns.find(_.equalsIgnoreCase(n)).get).as(n)): _*), stage)
        try {
          val n = TableRules.requireInRegion(spark.read.schema(schema)
            .parquet(stage.toString), cond, dir)
          TableRules.enforceStaged(spark, dir, g.checks, stage, Some(schema))
          if (n > 0) Some(stage) else { fs.delete(stage, true); None }
        } catch { case e: Throwable => fs.delete(stage, true); throw e }
      }
      if (fileCounts.isEmpty && insert.isEmpty) 0L
      else {
        val affected = fileCounts.map(_._2).sum
        val touched = fileCounts.map(_._1).toSet
        val tmp = Catalog.stagingPathShim(dir, "")
        try {
          fs.mkdirs(tmp)
          // link every untouched data file — carried by reference
          val linked = Catalog.dataFiles(fs, root).filterNot(touched).toSet
          Catalog.linkDataFiles(fs, conf, root, tmp, linked)
          // rewrite ONLY the touched files, statement applied
          if (touched.nonEmpty) {
            val slice = tagged(spark.read.schema(schema)
              .option("basePath", dir)
              .parquet(touched.toSeq.map(dir + "/" + _): _*))
            val staged = image(slice) match {
              case Some(g) => g.frame
              case None =>
                slice.filter(!c).select(schema.fieldNames.map(col).toSeq: _*)
            }
            val stage = Catalog.stagingPathShim(dir, "-rewrite")
            write(staged, stage)
            // UPDATE re-validates the rewritten files (linked files passed
            // at their own write time; a DELETE can only remove rows)
            checks.foreach(TableRules.enforceStaged(spark, dir, _, stage,
              Some(schema)))
            TableRules.moveStaged(fs, stage, tmp)
          }
          insert.foreach(TableRules.moveStaged(fs, _, tmp))
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
            commitTag.toSeq :+ (SwapProtocol.OperationTag -> operation))
          affected
        } catch { case e: Throwable =>
          (tmp +: insert.toSeq).filter(fs.exists).foreach(fs.delete(_, true))
          throw e
        }
      }
    }
}
