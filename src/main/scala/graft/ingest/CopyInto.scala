package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `COPY INTO` — Databricks SQL's idempotent batch file ingestion (the
  * third ingestion surface next to the Auto Loader analogue [[Ingest]]
  * and streaming [[graft.streaming.Streams.appendNewDocs]]; the reference
  * platform's bronze loads use exactly this family). Files already loaded
  * into the target are never loaded again — re-running the same statement
  * is a no-op, a crashed run resumes without duplicating rows.
  *
  * Exactly-once on the engine's versioned tables:
  *  1. fresh source files = listing minus the loaded ones, which the
  *     `<table dir>.copy-manifest` lists;
  *  2. ONE versioned append (`Catalog.appendPath`, a first load's
  *     overwrite) converts them through the write gate and commits them
  *     as one `COPY INTO` version, tagged with this run's file list;
  *  3. the manifest records them, AFTER the commit.
  *
  * A crash before the commit leaves no version and no rows, so the next
  * run loads the same files again. A crash between the commit and the
  * manifest leaves the table's newest tag naming the files: the next run
  * counts them as loaded and folds them into the manifest before it
  * lists (`Streams.appendStream`'s table-side marker rule).
  *
  * Scale: listing and manifest are driver-side metadata (file names
  * only); the data path is one distributed read of the new files + one
  * distributed write. Per-run cost is O(new files), never O(table) —
  * the property that makes hourly COPY INTO viable on a 100 TB bronze. */
object CopyInto {

  /** `filesLoaded` counts the files whose load this run completed,
    * including any a crashed run committed but did not record;
    * `rowsLoaded` counts the rows this run appended. */
  final case class Result(filesLoaded: Long, rowsLoaded: Long,
    filesSkipped: Long)

  /** The commit-tag key a load's file list rides under. */
  private val LoadedTag = "copy_into_files"

  private def manifestPath(tableDir: String) = tableDir + ".copy-manifest"

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String): Seq[String] = {
    val p = new Path(manifestPath(tableDir))
    if (!fs.exists(p)) Nil
    else graft.layout.SwapProtocol.readSmallFile(fs, p).split('\n').toSeq
      .filter(_.nonEmpty)
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String, entries: Seq[String]): Unit =
    graft.layout.SwapProtocol.writeSmallFile(fs,
      new Path(manifestPath(tableDir)), entries.mkString("\n"))

  /** Run one COPY INTO. `format`: parquet | csv | json; `options` go to
    * the reader (csv header etc.). When the target exists its schema is
    * authoritative: incoming columns are reordered/cast to it, so a
    * permissive source file cannot drift the table's types. */
  def run(spark: SparkSession, tableDir: String, srcDir: String,
      format: String, options: Map[String, String] = Map.empty): Result = {
    require(Set("parquet", "csv", "json")(format.toLowerCase),
      s"unsupported FILEFORMAT: $format")
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // settles a crashed commit first, so the tag read below is committed
    val exists = graft.catalog.Catalog.existsPath(spark, tableDir)
    // the newest load the table holds but the manifest may not
    val manifest = readManifest(fs, tableDir)
    val known = manifest.toSet
    val recovered = graft.catalog.Catalog
      .lastCommitTag(spark, tableDir, LoadedTag).toSeq
      .flatMap(_.split('\n')).filter(_.nonEmpty).filterNot(known)
    if (recovered.nonEmpty)
      writeManifest(fs, tableDir, manifest ++ recovered)

    val src = new Path(srcDir)
    val files = if (!fs.exists(src)) Nil
      else graft.catalog.Catalog.dataFiles(fs, src).sorted
        .map(new Path(src, _).toString)
    val fresh = files.filterNot(f => known(f) || recovered.contains(f))
    val skipped = files.count(known).toLong
    if (fresh.isEmpty) return Result(recovered.size.toLong, 0L, skipped)

    val reader = spark.read.options(options)
    val raw: DataFrame = format.toLowerCase match {
      case "parquet" => reader.parquet(fresh: _*)
      case "csv" => reader.option("header",
        options.getOrElse("header", "true")).csv(fresh: _*)
      case "json" => reader.json(fresh: _*)
    }
    val df =
      if (!exists) raw
      else {
        val target = graft.catalog.TableRules.liveSchema(spark, tableDir,
          sidecar = true)
        val names = raw.schema.fieldNames.map(_.toLowerCase).toSet
        require(target.forall(f => names(f.name.toLowerCase)),
          s"source is missing target columns: " +
            target.map(_.name).filterNot(f => names(f.toLowerCase))
              .mkString(", "))
        raw.select(target.map(f =>
          org.apache.spark.sql.functions.col(f.name)
            .cast(f.dataType).as(f.name)): _*)
      }
    val rows = df.count()
    graft.catalog.Catalog.appendPath(spark, df, tableDir,
      commitTag = Some(LoadedTag -> fresh.mkString("\n")),
      operation = "COPY INTO")
    writeManifest(fs, tableDir, manifest ++ recovered ++ fresh)
    // keep data skipping live across appends: if the table carries a stats
    // manifest, profile ONLY the files this run installed (O(new files))
    if (graft.layout.DataSkipping.analyzedColumns(spark, tableDir).nonEmpty)
      graft.layout.DataSkipping.analyzeIncremental(spark, tableDir)
    Result((recovered.size + fresh.size).toLong, rows, skipped)
  }
}
