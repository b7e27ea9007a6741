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
  * Exactly-once without a transaction log, on the engine's plain-parquet
  * layout:
  *  1. fresh source files = listing minus the committed manifest;
  *  2. ONE batch job converts them into a staging dir;
  *  3. the staged parts rename into the table under a DETERMINISTIC
  *     prefix `copy-<md5(fresh file list)>-`;
  *  4. the manifest (`<table dir>.copy-manifest`: `<prefix-hash>\t<src>`
  *     lines) commits via tmp+rename, AFTER the data.
  *
  * Crash anywhere before (4): the next run recomputes the SAME fresh list
  * → the same prefix → step (3) first deletes that prefix's partials and
  * redoes the renames. If different files have landed meanwhile, the
  * fresh list (and prefix) differ — so run start deletes any `copy-*`
  * file whose prefix the manifest doesn't know (orphaned partials).
  * Either way the committed table never holds a source row twice.
  *
  * Scale: listing and manifest are driver-side metadata (file names
  * only); the data path is one distributed read of the new files + one
  * distributed write. Per-run cost is O(new files), never O(table) —
  * the property that makes hourly COPY INTO viable on a 100 TB bronze. */
object CopyInto {

  final case class Result(filesLoaded: Long, rowsLoaded: Long,
    filesSkipped: Long)

  private def manifestPath(tableDir: String) = tableDir + ".copy-manifest"

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String): Seq[(String, String)] = {
    val p = new Path(manifestPath(tableDir))
    if (!fs.exists(p)) return Nil
    graft.layout.SwapProtocol.readSmallFile(fs, p).split('\n').toList
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
      }
  }

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      tableDir: String, entries: Seq[(String, String)]): Unit =
    graft.layout.SwapProtocol.writeSmallFile(fs,
      new Path(manifestPath(tableDir)),
      entries.map { case (h, f) => s"$h\t$f" }.mkString("\n"))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def listFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[String] = {
    val root = new Path(dir)
    if (!fs.exists(root)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath) else out += st.getPath.toString
      }
    }
    walk(root)
    out.toSeq.sorted
  }

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
    val manifest = readManifest(fs, tableDir)
    val loaded = manifest.map(_._2).toSet
    val committedPrefixes = manifest.map(_._1).toSet

    // orphan cleanup: copy-parts whose prefix never committed are partial
    // output of a crashed run whose fresh-list has since changed
    if (fs.exists(new Path(tableDir)))
      fs.listStatus(new Path(tableDir)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("copy-")) {
          val h = n.stripPrefix("copy-").takeWhile(_ != '-')
          if (!committedPrefixes(h)) fs.delete(st.getPath, false)
        }
      }

    val files = listFiles(fs, srcDir)
    val fresh = files.filterNot(loaded)
    if (fresh.isEmpty) return Result(0L, 0L, files.size.toLong)

    val reader = spark.read.options(options)
    val raw: DataFrame = format.toLowerCase match {
      case "parquet" => reader.parquet(fresh: _*)
      case "csv" => reader.option("header",
        options.getOrElse("header", "true")).csv(fresh: _*)
      case "json" => reader.json(fresh: _*)
    }
    val firstLoad = !fs.exists(new Path(tableDir))
    val df =
      if (firstLoad) raw
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

    val prefix = md5hex(fresh.mkString("\n"))
    val staging = new Path(tableDir + s".copy-staging-$prefix")
    if (fs.exists(staging)) fs.delete(staging, true)
    df.write.parquet(staging.toString)
    val rows = spark.read.parquet(staging.toString).count()

    // redo-safe install: clear this prefix's partials, then rename in
    fs.mkdirs(new Path(tableDir))
    fs.listStatus(new Path(tableDir)).foreach { st =>
      if (st.getPath.getName.startsWith(s"copy-$prefix-"))
        fs.delete(st.getPath, false)
    }
    val parts = fs.listStatus(staging)
      .filter(st => !st.getPath.getName.startsWith("_")).map(_.getPath)
    parts.zipWithIndex.foreach { case (p, i) =>
      require(graft.layout.SwapProtocol.move("install", fs, p,
        new Path(tableDir, s"copy-$prefix-$i.parquet")), s"install failed: $p")
    }
    fs.delete(staging, true)
    // a first load records the table's schema as every catalog commit
    // does; later loads cast to that schema, so it stays true
    if (firstLoad)
      graft.merge.PartitionedMerge.writeSchemaSidecar(spark, tableDir,
        df.schema)
    writeManifest(fs, tableDir,
      manifest ++ fresh.map(f => (prefix, f)))
    // keep data skipping live across appends: if the table carries a stats
    // manifest, profile ONLY the files this run installed (O(new files))
    if (graft.layout.DataSkipping.analyzedColumns(spark, tableDir).nonEmpty)
      graft.layout.DataSkipping.analyzeIncremental(spark, tableDir)
    Result(fresh.size.toLong, rows, (files.size - fresh.size).toLong)
  }
}
