package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftShims, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.catalog.{Catalog, ChangeFeed}
import graft.layout.SwapProtocol

/** Streaming SOURCE over a graft-versioned table — Delta's
  * `spark.readStream.format("delta")` parity (the reference platform
  * streams FROM its managed tables, not just into them; without this,
  * downstream pipelines must poll [[graft.catalog.ChangeFeed.consumeChanges]]
  * by hand).
  *
  * ```
  * spark.readStream.format("graft-table")
  *   .option("path", dir)          // table directory
  *   .option("feed", "rows"|"cdc") // default rows
  *   .option("keys", "id")         // cdc: keyed diff (pre/postimages)
  *   .option("maxVersionsPerTrigger", "2") // bound catch-up batches
  *   .option("startingVersion", "latest")  // changes-only, skip snapshot
  *   .option("maxBytesPerTrigger", "134217728") // soft byte bound
  *   .load()
  * ```
  *
  * `maxVersionsPerTrigger` (Delta's `maxFilesPerTrigger` parity): after
  * downtime on a busy table, the backlog drains over several bounded
  * micro-batches of at most N versions each instead of one unbounded
  * batch. `maxBytesPerTrigger` (same Delta option) bounds a batch by the
  * PHYSICAL diff bytes of the versions it admits — whole versions are
  * admitted until the next one would cross the budget, but always at
  * least one (Delta's soft-bound rule: one oversized commit drains
  * rather than stalling). Both caps compose; the initial snapshot stays
  * a single batch (it reads the LIVE version; pointing it lower could
  * fall below the retention window).
  *
  * Offsets ARE committed versions (one long — the version log is the
  * write-ahead log a streaming source wants): `getOffset` reads the
  * table's pointer, batch (fromV, toV] materializes through the same
  * version-addressed reads every other consumer uses. The FIRST batch is
  * the full live snapshot as inserts (Delta's initial-snapshot rule), so
  * a new stream starts complete instead of empty.
  *
  * - `feed=rows` (default): appended ROWS only — each batch emits the
  *   range's insert-typed change rows, which on the append-only tables
  *   this mode is for IS exactly the new data (Delta's default
  *   readStream likewise assumes append-only; pipelines that must see
  *   updates/deletes use cdc mode).
  * - `feed=cdc`: the full change feed with [[ChangeFeed.ChangeCol]]
  *   (insert / delete / update_preimage / update_postimage), keyed when
  *   `keys` is set — `table_changes` as an unbounded stream.
  *
  * Exactly-once: the engine checkpoints the version offsets; a replayed
  * batch recomputes the SAME (fromV, toV] diff — deterministic while
  * both versions are retained, which `keepVersions` must cover for the
  * maximum expected downtime (the Delta retention-vs-streaming contract;
  * an aged-out version fails loudly rather than skipping). Deletion
  * vectors compose: version reads are DV-applied, so a DV delete commit
  * emits its rows as `delete` changes in cdc mode.
  *
  * Scale: `getOffset` is one driver-side pointer read per trigger; a
  * batch moves only the diff (bucket-pruned on bucketed tables, new
  * files only on the append fast path) — stream cost is O(changes),
  * never O(table). */
class GraftTableSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** The SINK half of the format (see [[GraftTableSink]]): streaming
    * INTO a versioned table with per-epoch idempotent commits. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode != OutputMode.Update(),
      "graft-table sink supports append and complete modes; update-mode " +
        "keyed upserts go through foreachBatch + MERGE " +
        "(Streams.applyChangesScd2)")
    new GraftTableSink(sqlContext, dirOf(parameters), outputMode,
      partitionColumns,
      keepVersions = parameters.get("keepVersions").map(_.trim.toInt)
        .getOrElse(10))
  }

  private def dirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-table source requires .option(\"path\", <table dir>)"))

  private def baseSchema(sqlContext: SQLContext, dir: String): StructType =
    sqlContext.sparkSession.read.parquet(dir).schema

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val dir = dirOf(parameters)
    val base = schema.getOrElse(baseSchema(sqlContext, dir))
    val out =
      if (parameters.getOrElse("feed", "rows") == "cdc")
        StructType(base.fields :+
          StructField(ChangeFeed.ChangeCol, StringType, nullable = false))
      else base
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val dir = dirOf(parameters)
    val maxVersions = parameters.get("maxVersionsPerTrigger").map { v =>
      val n = v.trim.toInt
      require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n")
      n
    }
    val maxBytes = parameters.get("maxBytesPerTrigger").map { v =>
      val n = v.trim.toLong
      require(n >= 1, s"maxBytesPerTrigger must be >= 1, got $n")
      n
    }
    // Delta's startingVersion: skip the initial snapshot and stream
    // changes AFTER the named version ("latest" resolves at stream
    // start — the changes-only tail of a table too big to replay)
    val startingVersion = parameters.get("startingVersion").map { v =>
      val t = v.trim
      if (t.equalsIgnoreCase("latest"))
        SwapProtocol.readPointer(new Path(dir).getFileSystem(
          sqlContext.sparkSession.sparkContext.hadoopConfiguration),
          dir).toLong
      else {
        val n = t.toLong
        require(n >= 0, s"startingVersion must be >= 0 or 'latest', got $n")
        n
      }
    }
    new GraftTableSource(sqlContext, dir,
      cdc = parameters.getOrElse("feed", "rows") == "cdc",
      keys = parameters.get("keys").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      dataSchema = schema.getOrElse(baseSchema(sqlContext, dir)),
      metadataPath = metadataPath,
      maxVersionsPerTrigger = maxVersions,
      maxBytesPerTrigger = maxBytes,
      startingVersion = startingVersion)
  }
}

class GraftTableSource(sqlContext: SQLContext, dir: String,
    cdc: Boolean, keys: Seq[String], dataSchema: StructType,
    metadataPath: String = "",
    maxVersionsPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    startingVersion: Option[Long] = None)
    extends Source {

  private val spark = sqlContext.sparkSession
  private def fs = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override val schema: StructType =
    if (cdc) StructType(dataSchema.fields :+
      StructField(ChangeFeed.ChangeCol, StringType, nullable = false))
    else dataSchema

  /** Admission-control cursor (Delta's `maxFilesPerTrigger` parity, at
    * version granularity — the unit this source's offsets move in): the
    * highest version this source has handed the engine. Persisted under
    * the source's private `metadataPath` so a RESTARTED stream caps its
    * first catch-up batch too (the raw v1-Source API gives getOffset no
    * start to cap from). The cursor is only ever a cap BASE, never a
    * batch start — a value ahead of the committed offset (offset logged,
    * batch failed) just means one trigger admits fewer versions, no skip
    * and no re-delivery. */
  private def rateLimited: Boolean =
    maxVersionsPerTrigger.nonEmpty || maxBytesPerTrigger.nonEmpty

  private val admissionFile =
    if (metadataPath.isEmpty || !rateLimited) None
    else Some(new Path(metadataPath, "graft_admission"))

  private var lastEmitted: Option[Long] = admissionFile.flatMap { p =>
    val mfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!mfs.exists(p)) None
    else Some(graft.layout.SwapProtocol.readSmallFile(mfs, p).toLong)
  }.orElse(startingVersion) // with startingVersion there is no initial
  // snapshot to protect, so admission control may cap the FIRST batch too

  private def advanceCursor(v: Long): Unit = {
    lastEmitted = Some(v)
    // whole or not at all: a torn cursor would fail `toLong` on restart
    admissionFile.foreach { p =>
      graft.layout.SwapProtocol.writeSmallFile(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
        String.valueOf(v))
    }
  }

  /** Relative path → size for every DATA file under a version dir (the
    * `gbucket=` level of bucketed layouts included; `_`/`.` metadata
    * names skipped). Driver-side listing of ONE version dir — the same
    * bounded cost `DESCRIBE HISTORY` pays per row. */
  private def fileSizes(root: Path): Map[String, Long] = {
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path, prefix: String): Seq[(String, Long)] =
      f.listStatus(p).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .flatMap { s =>
          val rel = prefix + s.getPath.getName
          if (s.isDirectory) walk(s.getPath, rel + "/")
          else Seq(rel -> s.getLen)
        }
    if (!f.exists(root)) Map.empty else walk(root, "").toMap
  }

  /** Bytes NEW in version `v` relative to `v-1` (hard-linked survivors
    * share names, so a name-diff is the physical diff) — the byte cost a
    * batch covering `v` adds. */
  private def versionDiffBytes(v: Long): Long = {
    val now = fileSizes(new Path(
      Catalog.resolveVersionPath(spark, dir, v.toInt)))
    val prev = fileSizes(new Path(
      Catalog.resolveVersionPath(spark, dir, v.toInt - 1)))
    now.collect { case (n, len) if !prev.contains(n) => len }.sum
  }

  override def getOffset: Option[Offset] = {
    val v = SwapProtocol.readPointer(fs, dir)
    if (v < 1) None
    else {
      val capped = lastEmitted match {
        // the INITIAL batch is the full snapshot at the live version
        // (Delta's initial-snapshot rule) — capping it to an old version
        // could point below the retention window; admission control
        // bounds the incremental batches that follow
        case Some(prev) if rateLimited && v > prev =>
          val byCount = maxVersionsPerTrigger
            .map(m => math.min(v.toLong, prev + m)).getOrElse(v.toLong)
          // SOFT byte bound (Delta's maxBytesPerTrigger rule): admit
          // whole versions until the NEXT one would cross the budget,
          // but always at least one — a single oversized commit still
          // drains instead of stalling the stream
          maxBytesPerTrigger match {
            case None => byCount
            case Some(budget) =>
              var admit = prev + 1 // progress guarantee
              var bytes = versionDiffBytes(admit)
              var room = true
              while (room && admit < byCount) {
                val d = versionDiffBytes(admit + 1)
                if (bytes + d <= budget) { admit += 1; bytes += d }
                else room = false
              }
              admit
          }
        case _ => v.toLong
      }
      if (!lastEmitted.contains(capped)) advanceCursor(capped)
      Some(LongOffset(capped))
    }
  }

  // every offset this source ever emits is a LongOffset; a checkpoint
  // recovery hands back SerializedOffset carrying the same json (the
  // bare number), so json-parsing covers both without class matching
  private def versionOf(o: Offset): Int = o.json.trim.toLong.toInt

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val toV = versionOf(end)
    // prime the admission-control cursor on checkpoint-recovery replays
    if (lastEmitted.forall(_ < toV)) advanceCursor(toV.toLong)
    val batch = start.map(versionOf).orElse(
        startingVersion.map(_.toInt)) match {
      // startingVersion replaces the initial snapshot with the changes
      // AFTER it (Delta's rule) — the orElse folds it into the ordinary
      // from-version path, including the from >= to empty batch
      case None =>
        // initial batch: the full snapshot at `toV`, typed as inserts
        graft.layout.DeletionVectors.readPath(spark,
          Catalog.resolveVersionPath(spark, dir, toV))
          .withColumn(ChangeFeed.ChangeCol, lit("insert"))
      case Some(fromV) if fromV >= toV =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(dataSchema.fields :+ StructField(
            ChangeFeed.ChangeCol, StringType, nullable = false)))
      case Some(fromV) =>
        ChangeFeed.tableChanges(spark, dir, fromV, toV, keys)
    }
    val shaped =
      if (cdc) batch.select(schema.fieldNames.map(col).toSeq: _*)
      else batch.filter(col(ChangeFeed.ChangeCol) === "insert")
        .select(dataSchema.fieldNames.map(col).toSeq: _*)
    GraftShims.streamingFrame(sqlContext, shaped)
  }

  override def stop(): Unit = ()
}
