package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.merge.PartitionedMerge

/** Bronze-layer incremental ingest (SURVEY.md §2.1 S1/S2, §2.9 T1-T4):
  * the vanilla-Spark replacement for Databricks Auto Loader
  * (Bronze_Layer.py:20-37).
  *
  * Semantics preserved: incremental file discovery (only files unseen by
  * the checkpoint are processed), exactly-once append via checkpointed
  * file-sink commit log, run-once drain trigger (`Trigger.AvailableNow`,
  * Spark 4's successor to `trigger(once=True)`), schema pinned at first run
  * (persisted next to the checkpoint, like `cloudFiles.schemaLocation`),
  * and the `_rescued_data` column the reference's Silver layer expects and
  * drops (Silver_Customers.py:18):
  *   - parquet (self-describing): a nullable placeholder, as documented in
  *     SURVEY §7.4;
  *   - csv/json: REAL rescue — PERMISSIVE parsing captures malformed
  *     records into the column via `columnNameOfCorruptRecord`.
  *
  * Scale posture: file listing is driver-side but incremental (the
  * checkpoint's file log bounds re-listing); `maxFilesPerTrigger` caps
  * per-batch work so a backlogged source cannot produce an unboundedly
  * large micro-batch. A drain's cost does not grow with the bronze
  * table's age: the appended row count comes from the run's streaming
  * progress and the bronze schema from the sidecar stamped before the
  * drain, so no job counts or footer-merges the whole table.
  */
object Ingest {

  val RescueCol = "_rescued_data"

  final case class IngestSpec(name: String, srcDir: String, dstDir: String,
      checkpointDir: String, schemaFile: String,
      format: String = "parquet", options: Map[String, String] = Map.empty,
      sourceFileCol: Option[String] = None)

  /** Infer-once-and-pin schema, like Auto Loader's schemaLocation
    * (Bronze_Layer.py:22). The pinned DDL never includes the rescue
    * column — it is an ingest-time artifact, not part of the data schema. */
  def pinnedSchema(spark: SparkSession, spec: IngestSpec): StructType = {
    val p = new java.io.File(spec.schemaFile)
    if (p.exists()) {
      StructType.fromDDL(new String(
        java.nio.file.Files.readAllBytes(p.toPath), "UTF-8"))
    } else {
      val covered = listDataFiles(spark, spec.srcDir)
      val s = inferSource(spark, spec)
      p.getParentFile.mkdirs()
      java.nio.file.Files.write(p.toPath, s.toDDL.getBytes("UTF-8"))
      // first-run inference covered every currently-landed file; record it
      // so the evolution pass doesn't immediately re-read them all
      writeManifest(spec, covered.toSet)
      s
    }
  }

  private def inferSource(spark: SparkSession, spec: IngestSpec,
      paths: Seq[String] = Nil): StructType = {
    val inferOpts = spec.format match {
      case "csv" => spec.options ++ Map("inferSchema" -> "true")
      // without mergeSchema the parquet reader infers from ONE footer and
      // never sees columns that only newer files carry
      case "parquet" => spec.options ++ Map("mergeSchema" -> "true")
      case _ => spec.options
    }
    val reader = spark.read.format(spec.format).options(inferOpts)
    val df = if (paths.isEmpty) reader.load(spec.srcDir)
             else reader.load(paths: _*)
    StructType(df.schema.filterNot(_.name == RescueCol))
  }

  /** Driver-side listing of data files under the landing dir (recursive,
    * skipping hidden/metadata entries AND anything beneath a hidden or
    * metadata directory — `_spark_metadata/0` is a sink manifest, not
    * data) — the same cheap listing the file stream source performs; used
    * only to decide whether inference has any new files to look at.
    * Hadoop `FileSystem`, not java.nio: the landing dir is hdfs://, s3a://
    * or abfss:// in the 100 TB posture, where a local-FS walk would list
    * nothing and silently disable evolution. */
  private def listDataFiles(spark: SparkSession, srcDir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(srcDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (!hidden(n)) {
          if (st.isDirectory) walk(st.getPath)
          else out += st.getPath.toString
        }
      }
    walk(root)
    out.toSeq.sorted
  }

  private def inferManifestPath(spec: IngestSpec) = spec.schemaFile + ".files"

  private def readManifest(spec: IngestSpec): Set[String] = {
    val p = new java.io.File(inferManifestPath(spec))
    if (!p.exists()) Set.empty
    else new String(java.nio.file.Files.readAllBytes(p.toPath), "UTF-8")
      .linesIterator.filter(_.nonEmpty).toSet
  }

  private def writeManifest(spec: IngestSpec, files: Set[String]): Unit = {
    val p = new java.io.File(inferManifestPath(spec))
    p.getParentFile.mkdirs()
    java.nio.file.Files.write(p.toPath,
      files.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
  }

  /** Schema evolution, Auto Loader `addNewColumns` semantics
    * (Bronze_Layer.py:20-23): on each drain, diff the landed files' inferred
    * schema against the pinned DDL; genuinely NEW top-level columns are
    * appended (as nullable) to the schema file before the stream starts, so
    * a landed schema change widens the bronze table instead of silently
    * dropping the new fields into nothing (parquet) or rescue (csv/json).
    * Auto Loader does this via fail-and-restart; our drains are explicit
    * runs, so the evolved schema simply applies from this run on. Columns
    * are only ever ADDED — type changes and drops keep the pinned type
    * (old parquet/csv files read the appended columns as null).
    *
    * Incremental: inference is a full read of whatever it covers (all
    * parquet footers; a csv data scan), so re-inferring the entire landing
    * dir on every drain would make ingest cost grow with total history. A
    * manifest next to the schema file records which files inference has
    * already covered; each drain lists the dir (cheap, driver-side — the
    * stream source does the same listing anyway) and infers over ONLY the
    * not-yet-covered files. Nothing new landed → pinned-DDL fast path, zero
    * data reads.
    *
    * The new-column diff is case-insensitive when `spark.sql.caseSensitive`
    * is false (Spark's default resolution): a landed `Status` next to a
    * pinned `status` is the same column, not a new one — appending it would
    * produce a case-variant duplicate that fails analysis on the next read. */
  def evolvedSchema(spark: SparkSession, spec: IngestSpec): StructType = {
    val pinned = pinnedSchema(spark, spec)
    val seen = readManifest(spec)
    val files = listDataFiles(spark, spec.srcDir)
    val fresh = files.filterNot(seen)
    if (fresh.isEmpty) return pinned
    val incoming = inferSource(spark, spec, fresh)
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def known(name: String): Boolean =
      if (caseSensitive) pinned.fieldNames.contains(name)
      else pinned.fieldNames.exists(_.equalsIgnoreCase(name))
    val newCols = incoming.fields
      .filterNot(f => known(f.name))
      .map(_.copy(nullable = true))
    // Order matters: the evolved DDL commits BEFORE the manifest. A crash
    // between the two merely re-infers the same files next run; the
    // opposite order would mark the files seen with their new columns
    // never recorded — lost forever.
    val result =
      if (newCols.isEmpty) pinned
      else {
        val evolved = StructType(pinned.fields ++ newCols)
        java.nio.file.Files.write(
          new java.io.File(spec.schemaFile).toPath,
          evolved.toDDL.getBytes("UTF-8"))
        evolved
      }
    writeManifest(spec, seen ++ fresh)
    result
  }

  /** One checkpointed drain of available files into the bronze layer
    * (Bronze_Layer.py:20-37). Returns rows appended this run.
    *
    * Order: the evolved schema is pinned, then the stream's output schema
    * (data columns, `_rescued_data`, provenance) is stamped as the bronze
    * dir's schema sidecar, and only then does the drain start. The bronze
    * schema only widens, so stamping first keeps the sidecar a superset of
    * every committed file and [[readBronze]] never needs a footer merge.
    *
    * The count comes from the run's own streaming progress: the sum of
    * `numInputRows` over the progress events of this run, collected by a
    * listener keyed to the run's id. The run's terminated event follows
    * its last progress event on the listener bus, so the count is read
    * only after that event arrives (bounded by `TerminationWaitMs`; a
    * missing event raises rather than return a short count). No job
    * reads the bronze table. */
  def runOnce(spark: SparkSession, spec: IngestSpec,
      maxFilesPerTrigger: Int = 1000): Long = {
    val schema = evolvedSchema(spark, spec)
    val stream = spec.format match {
      case "parquet" =>
        spark.readStream
          .schema(schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger)
          .parquet(spec.srcDir)
          .withColumn(RescueCol, lit(null).cast(StringType))
      case fmt =>
        // PERMISSIVE (the default) + corrupt-record column = Auto Loader's
        // rescued-data semantics: schema-conforming fields parse, the raw
        // malformed record lands in _rescued_data instead of killing the run
        spark.readStream
          .format(fmt)
          .schema(StructType(schema.fields :+
            StructField(RescueCol, StringType, nullable = true)))
          .options(spec.options)
          .option("columnNameOfCorruptRecord", RescueCol)
          .option("maxFilesPerTrigger", maxFilesPerTrigger)
          .load(spec.srcDir)
    }
    // file provenance (Auto Loader's `_metadata.file_path` surface): which
    // landed file produced each bronze row — the lineage hook audits and
    // selective re-processing need
    val withProv = spec.sourceFileCol match {
      case Some(c) => stream.withColumn(c, col("_metadata.file_path"))
      case None => stream
    }
    stampBronzeSchema(spark, spec.dstDir, withProv.schema)
    val progress = new RunProgress
    spark.streams.addListener(progress)
    try {
      val q = withProv.writeStream
        .format("parquet")
        .outputMode("append")
        .option("path", spec.dstDir)
        .option("checkpointLocation", spec.checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      progress.rowsOf(q.runId, TerminationWaitMs)
    } finally spark.streams.removeListener(progress)
  }

  /** How long [[runOnce]] waits, after its query terminated, for the
    * run's terminated event to reach its listener. */
  private val TerminationWaitMs = 60000L

  /** Rows read per streaming run, from the progress events on the
    * listener bus. A run's total is final once its terminated event has
    * arrived: the stream thread posts that event after its last progress
    * event, and the bus delivers one query's events in order. */
  private final class RunProgress extends StreamingQueryListener {
    private val rows = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.atomic.LongAdder]()
    private val ended = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      rows.computeIfAbsent(e.progress.runId,
        _ => new java.util.concurrent.atomic.LongAdder)
        .add(e.progress.numInputRows)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      ended.add(e.runId); ()
    }

    def rowsOf(runId: java.util.UUID, waitMs: Long): Long = {
      val deadline = System.nanoTime() + waitMs * 1000000L
      while (!ended.contains(runId)) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"streaming run $runId ended " +
            s"but its terminated event did not arrive within $waitMs ms; " +
            "its appended row count is unknown")
        Thread.sleep(5)
      }
      Option(rows.get(runId)).fold(0L)(_.sum)
    }
  }

  /** Stamp `schema` as the bronze dir's schema sidecar unless the sidecar
    * already says exactly that. */
  private def stampBronzeSchema(spark: SparkSession, dstDir: String,
      schema: StructType): Unit =
    if (!PartitionedMerge.schemaOf(spark, dstDir).contains(schema))
      PartitionedMerge.writeSchemaSidecar(spark, dstDir, schema)

  /** Job fan-out over dataset specs (parameters.py:2-19's task-value loop,
    * as a plain Scala sequence). */
  def runAll(spark: SparkSession, specs: Seq[IngestSpec]): Map[String, Long] =
    specs.map(s => s.name -> runOnce(spark, s)).toMap

  /** The bronze table under the schema sidecar [[runOnce]] stamps: files
    * appended before a schema evolution lack the newer columns and read
    * them as null, with no footer read. A bronze dir without a sidecar
    * (written by an older engine) falls back to `mergeSchema`, which
    * unions the file schemas with one footer-merge job. */
  def readBronze(spark: SparkSession, dstDir: String): DataFrame =
    PartitionedMerge.schemaOf(spark, dstDir) match {
      case Some(s) => spark.read.schema(s).parquet(dstDir)
      case None => spark.read.option("mergeSchema", "true").parquet(dstDir)
    }
}
