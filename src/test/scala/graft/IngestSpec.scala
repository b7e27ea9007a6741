package graft

import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.ingest.Ingest.IngestSpec

/** Incremental ingest semantics (SURVEY.md §2.9 T1-T3): a second run picks
  * up ONLY files that arrived after the first run's checkpoint. */
class IngestSpecSuite extends SparkSuite {
  import spark.implicits._

  test("runOnce is incremental + exactly-once across runs; schema pinned; _rescued_data added") {
    val root = tmpDir("graft-ingest")
    val src = s"$root/landing"
    val spec = IngestSpec("events", src, s"$root/bronze/events",
      s"$root/_checkpoints/events", s"$root/_schemas/events.ddl")

    // batch 1: two files land
    Seq((1L, "click"), (2L, "view")).toDF("id", "etype")
      .write.mode("append").parquet(src)
    val n1 = Ingest.runOnce(spark, spec)
    assert(n1 == 2L)

    // re-run with nothing new: no duplicates (exactly-once)
    assert(Ingest.runOnce(spark, spec) == 0L)

    // batch 2: one more file lands; only it is processed
    Seq((3L, "click")).toDF("id", "etype")
      .write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)

    val bronze = Ingest.readBronze(spark, spec.dstDir)
    assert(bronze.count() == 3L)
    assert(bronze.columns.contains("_rescued_data"))
    // schema file pinned
    assert(new java.io.File(spec.schemaFile).exists())
  }

  test("schema evolution: a new landed column widens the pinned schema, old rows read as null") {
    val root = tmpDir("graft-ingest-evolve")
    val src = s"$root/landing"
    val spec = IngestSpec("orders", src, s"$root/bronze/orders",
      s"$root/_cp/orders", s"$root/_schemas/orders.ddl")

    // batch 1 pins (id, status)
    Seq((1L, "open"), (2L, "open")).toDF("id", "status")
      .write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 2L)
    assert(!Ingest.readBronze(spark, spec.dstDir).columns.contains("channel"))

    // batch 2 lands with an EXTRA column → schema file evolves, new rows
    // carry it, batch-1 rows backfill null
    Seq((3L, "closed", "web")).toDF("id", "status", "channel")
      .write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)

    val ddl = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(spec.schemaFile).toPath), "UTF-8")
    assert(ddl.contains("channel"), s"schema file not evolved: $ddl")
    val bronze = Ingest.readBronze(spark, spec.dstDir)
    assert(bronze.columns.contains("channel"))
    assert(bronze.filter(col("id") === 3L).select("channel")
      .as[String].collect().head == "web")
    assert(bronze.filter(col("channel").isNull).count() == 2L) // backfilled
    // dropped/renamed columns do NOT shrink the pinned schema: batch 3
    // without `channel` still ingests, channel null
    Seq((4L, "open")).toDF("id", "status").write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)
    assert(Ingest.readBronze(spark, spec.dstDir)
      .filter(col("id") === 4L && col("channel").isNull).count() == 1L)
  }

  test("schema evolution: case-variant of a pinned column is NOT a new column") {
    val root = tmpDir("graft-ingest-case")
    val src = s"$root/landing"
    val spec = IngestSpec("orders", src, s"$root/bronze/orders",
      s"$root/_cp/orders", s"$root/_schemas/orders.ddl")
    Seq((1L, "open")).toDF("id", "status").write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)
    // `Status` lands next to pinned `status`: under Spark's default
    // case-insensitive resolution it is the SAME column — appending it
    // would create a case-variant duplicate that fails analysis
    Seq((2L, "closed")).toDF("id", "Status").write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)
    val evolved = Ingest.evolvedSchema(spark, spec)
    assert(evolved.fieldNames.count(_.equalsIgnoreCase("status")) == 1,
      s"case-variant duplicated: ${evolved.toDDL}")
  }

  test("schema evolution: inference is incremental — already-covered files are not re-read") {
    val root = tmpDir("graft-ingest-incr")
    val src = s"$root/landing"
    val spec = IngestSpec("orders", src, s"$root/bronze/orders",
      s"$root/_cp/orders", s"$root/_schemas/orders.ddl")
    Seq((1L, "open")).toDF("id", "status").write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)
    // corrupt every already-ingested landing file: if evolvedSchema
    // re-inferred over history it would now throw; the manifest fast path
    // must return the pinned schema without touching them
    val dirStream = java.nio.file.Files.walk(java.nio.file.Paths.get(src))
    try dirStream.filter(java.nio.file.Files.isRegularFile(_)).forEach { p =>
      if (!p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        java.nio.file.Files.write(p, "not parquet".getBytes("UTF-8"))
    } finally dirStream.close()
    val pinned = Ingest.evolvedSchema(spark, spec)
    assert(pinned.fieldNames.toSeq == Seq("id", "status"))
  }

  test("schema evolution ignores files under hidden/metadata directories") {
    val root = tmpDir("graft-ingest-hiddendir")
    val src = s"$root/landing"
    val spec = IngestSpec("events", src, s"$root/bronze/events",
      s"$root/_cp/events", s"$root/_schemas/events.ddl")
    Seq((1L, "click")).toDF("id", "etype").write.mode("append").parquet(src)
    // metadata lives under hidden dirs whose LEAF names look like data
    // files (a sink's _spark_metadata/0, a writer's .staging/part-...) —
    // the manifest listing must skip the whole subtree, not just hidden
    // leaf names, or inference chokes on non-parquet bytes
    val staging = new java.io.File(s"$src/.staging"); staging.mkdirs()
    java.nio.file.Files.write(new java.io.File(staging, "part-0").toPath,
      "not parquet".getBytes("UTF-8"))
    assert(Ingest.runOnce(spark, spec) == 1L)
    assert(Ingest.evolvedSchema(spark, spec).fieldNames.toSeq ==
      Seq("id", "etype"))
  }

  test("sourceFileCol records which landed file produced each bronze row") {
    val root = tmpDir("graft-ingest-prov")
    val src = s"$root/landing"
    val spec = IngestSpec("events", src, s"$root/bronze/events",
      s"$root/_cp/events", s"$root/_schemas/events.ddl",
      sourceFileCol = Some("_source_file"))
    Seq((1L, "click")).toDF("id", "etype").write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)
    Seq((2L, "view")).toDF("id", "etype").write.mode("append").parquet(src)
    assert(Ingest.runOnce(spark, spec) == 1L)
    val bronze = Ingest.readBronze(spark, spec.dstDir)
    assert(bronze.columns.contains("_source_file"))
    val files = bronze.select("id", "_source_file").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(files(1L) != files(2L), "rows from different files share provenance")
    assert(files.values.forall(_.contains("landing")), s"bad paths: $files")
  }

  test("csv ingest: schema-conforming rows parse, malformed rows are rescued") {
    val root = tmpDir("graft-ingest-csv")
    val src = new java.io.File(s"$root/landing"); src.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/landing/part1.csv"),
      "id,amount\n1,10.5\n2,20.0\nnot-a-number,oops\n")
    val spec = IngestSpec("pays", src.toString, s"$root/bronze/pays",
      s"$root/_cp/pays", s"$root/_schemas/pays.ddl",
      format = "csv", options = Map("header" -> "true"))
    // pin the declared schema up front (otherwise inference, seeing the
    // malformed row, would widen both columns to string and "rescue" nothing)
    new java.io.File(s"$root/_schemas").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(spec.schemaFile), "id BIGINT,amount DOUBLE")
    assert(Ingest.runOnce(spark, spec) == 3L)

    val bronze = Ingest.readBronze(spark, spec.dstDir)
    val good = bronze.filter(col(Ingest.RescueCol).isNull)
    val rescued = bronze.filter(col(Ingest.RescueCol).isNotNull)
    assert(good.count() == 2L)
    assert(rescued.count() == 1L)
    assert(rescued.select(Ingest.RescueCol).as[String].collect()
      .head.contains("not-a-number"))
    // second file: incremental pickup, csv path too
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/landing/part2.csv"),
      "id,amount\n3,30.0\n")
    assert(Ingest.runOnce(spark, spec) == 1L)
  }

  test("json ingest: malformed document rescued, fields parsed otherwise") {
    val root = tmpDir("graft-ingest-json")
    val src = new java.io.File(s"$root/landing"); src.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/landing/a.json"),
      """{"id": 1, "tag": "x"}
        |{"id": 2, "tag": "y"}
        |{"id": broken
        |""".stripMargin)
    val spec = IngestSpec("tags", src.toString, s"$root/bronze/tags",
      s"$root/_cp/tags", s"$root/_schemas/tags.ddl", format = "json")
    Ingest.runOnce(spark, spec)
    val bronze = Ingest.readBronze(spark, spec.dstDir)
    assert(bronze.filter(col(Ingest.RescueCol).isNull).count() == 2L)
    assert(bronze.filter(col(Ingest.RescueCol).isNotNull).count() == 1L)
  }

  test("fan-out runAll ingests every spec (parameters.py loop)") {
    val root = tmpDir("graft-ingest2")
    val specs = Seq("a", "b").map { n =>
      Seq((1L, n)).toDF("id", "tag").write.mode("append").parquet(s"$root/land/$n")
      IngestSpec(n, s"$root/land/$n", s"$root/bronze/$n",
        s"$root/_cp/$n", s"$root/_schemas/$n.ddl")
    }
    assert(Ingest.runAll(spark, specs) == Map("a" -> 1L, "b" -> 1L))
  }

  /** The bronze table's row count the way runOnce used to take it: a full
    * count of the table (0 before it exists). */
  private def bronzeRows(spec: IngestSpec): Long =
    try spark.read.option("mergeSchema", "true").parquet(spec.dstDir).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  /** runOnce's returned count, and the bronze table's growth around it. */
  private def drained(spec: IngestSpec, maxFilesPerTrigger: Int = 1000)
      : (Long, Long) = {
    val before = bronzeRows(spec)
    val n = Ingest.runOnce(spark, spec, maxFilesPerTrigger)
    (n, bronzeRows(spec) - before)
  }

  test("the returned count equals the bronze table's growth: empty, " +
      "multi-batch, evolving and rescuing drains") {
    val root = tmpDir("graft-ingest-count")
    // multi-batch: three files, one per micro-batch
    val spec = IngestSpec("events", s"$root/landing", s"$root/bronze/events",
      s"$root/_cp/events", s"$root/_schemas/events.ddl")
    Seq(2, 3, 4).zipWithIndex.foreach { case (k, f) =>
      (1 to k).map(i => (f * 10L + i, "click")).toDF("id", "etype")
        .coalesce(1).write.mode("append").parquet(spec.srcDir)
    }
    assert(drained(spec, maxFilesPerTrigger = 1) == ((9L, 9L)))
    val sinkBatches = new java.io.File(s"${spec.dstDir}/_spark_metadata")
      .list().count(_.forall(_.isDigit))
    assert(sinkBatches == 3, s"expected 3 micro-batches, sink log has $sinkBatches")
    // empty: nothing new landed
    assert(drained(spec) == ((0L, 0L)))
    // across a schema evolution: the new column widens the bronze schema
    Seq((40L, "view", "web")).toDF("id", "etype", "channel").coalesce(1)
      .write.mode("append").parquet(spec.srcDir)
    assert(drained(spec) == ((1L, 1L)))
    // the sidecar read equals a footer-merged read: same columns by name
    // and type, same rows
    val bronze = Ingest.readBronze(spark, spec.dstDir)
    val merged = spark.read.option("mergeSchema", "true").parquet(spec.dstDir)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSet
    assert(shape(bronze) == shape(merged))
    assert(bronze.columns.contains("channel"))
    val cols = merged.columns.sorted.map(col)
    assert(rowsOf(bronze.select(cols: _*), "id") ==
      rowsOf(merged.select(cols: _*), "id"))
    assert(rowsOf(bronze, "id").size == 10)

    // a csv drain with a rescued row counts the rescued row too
    val csvRoot = s"$root/csv"
    new java.io.File(s"$csvRoot/landing").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$csvRoot/landing/part1.csv"),
      "id,amount\n1,10.5\n2,20.0\nnot-a-number,oops\n")
    val csv = IngestSpec("pays", s"$csvRoot/landing", s"$csvRoot/bronze/pays",
      s"$csvRoot/_cp/pays", s"$csvRoot/_schemas/pays.ddl",
      format = "csv", options = Map("header" -> "true"))
    new java.io.File(s"$csvRoot/_schemas").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(csv.schemaFile), "id BIGINT,amount DOUBLE")
    assert(drained(csv) == ((3L, 3L)))
    assert(Ingest.readBronze(spark, csv.dstDir)
      .filter(col(Ingest.RescueCol).isNotNull).count() == 1L)
  }
}
