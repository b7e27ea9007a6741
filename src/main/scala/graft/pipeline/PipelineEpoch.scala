package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** Cross-table PIPELINE EPOCHS — the consistency layer the per-table
  * version log cannot give on its own. Every [[PipelineGraph]] node
  * commits atomically, but a multi-table run commits node BY node: a
  * reader that lands between the dim commit and the fact commit joins
  * new dims against the old fact — mixed generations. (Delta has the
  * same gap; multi-table transactions are exactly what its commit
  * protocol does not cover.)
  *
  * The epoch closes it with one more pointer, one level up:
  *
  *   - after ALL node commits succeed, [[commit]] stages a MANIFEST
  *     (every persisted node's table → its committed version, read from
  *     the per-table version pointers) and publishes it as
  *     `epoch_v{N}` through [[SwapProtocol.publishIfAbsent]] — an
  *     ATOMIC put-if-absent (hard link on the local FS; a plain rename's
  *     exists-check races), so concurrent runs take distinct
  *     consecutive numbers and a manifest is only ever visible COMPLETE.
  *     The manifest itself IS the publication; the `_current` file is a
  *     best-effort hint, never the authority;
  *   - [[read]] resolves a table THROUGH the newest epoch: manifest →
  *     `VERSION AS OF` its recorded version ([[Catalog.versionRead]] —
  *     flat snapshots read the resolved dir, bucketed tables
  *     reconstruct from the retire log). Every table a reader touches
  *     through the same epoch is the same generation — all-old or
  *     all-new, never mixed.
  *
  * Crash safety falls out of the design: a run that dies mid-commit has
  * published nothing (its manifest was never linked), so epoch readers
  * keep the previous complete generation; a run that dies AFTER the
  * link has published everything (the manifest was staged complete
  * before linking). There is no partial state to heal.
  *
  * Retention: [[commit]] prunes manifests older than `keepEpochs`
  * (default 20) — this bounds the directory listing [[currentEpoch]]
  * pays. The per-table `keepVersions` window never contradicts it:
  * `Catalog.vacuumPath` pins every version a LIVE epoch manifest
  * references ([[graft.catalog.Catalog.epochProtectedVersions]]), so
  * [[readAt]] succeeds for any retained epoch even when
  * `keepEpochs > keepVersions` — pins release as manifests age out.
  *
  * Scale shape: the manifest is O(#nodes) driver-side metadata (a few
  * dozen lines); commit adds one staged file + one link per RUN —
  * nothing per row, nothing per partition. */
object PipelineEpoch {
  private def epochsDir(cat: Catalog, pipeline: String): String =
    cat.path("_pipeline_epochs", pipeline)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A published manifest's `table TAB version` lines. */
  private def parseManifest(f: FileSystem, p: Path): Map[String, Int] =
    SwapProtocol.readSmallFile(f, p).split('\n').filter(_.nonEmpty).map { l =>
      val Array(t, v) = l.split('\t'); t -> v.toInt
    }.toMap

  private def listManifests(f: FileSystem, dir: String): Seq[Int] =
    if (!f.exists(new Path(dir))) Nil
    else f.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch_v"))
      .flatMap(n => n.stripPrefix("epoch_v").toIntOption)

  /** The newest published epoch (0 = none yet). Authority is the
    * manifest files themselves — visible iff complete, unique by the
    * atomic publish — so this is ONE bounded `listStatus` (the
    * retention cap bounds the directory), not a pointer read that could
    * lag a racing commit. */
  def currentEpoch(spark: SparkSession, cat: Catalog,
      pipeline: String): Int = {
    val dir = epochsDir(cat, pipeline)
    val ms = listManifests(fsOf(spark, dir), dir)
    if (ms.isEmpty) 0 else ms.max
  }

  /** Record every table's CURRENT version under the next epoch number
    * and publish it atomically. Returns the committed epoch. Racing
    * runs serialize: the put-if-absent link admits exactly one claimant
    * per number; losers renumber and retry.
    *
    * Concurrent-commit monotonicity: the manifest is rebuilt on EVERY
    * attempt (a lost number race means another run committed — its
    * table versions may be newer than a snapshot taken before the
    * loop), and each attempt merges against the newest published
    * epoch: a table's recorded version is `max(freshly read, what the
    * previous epoch recorded)`. A previous epoch's version is always a
    * real committed one, so the merge never invents state — it only
    * prevents a race loser from publishing a HIGHER epoch that records
    * OLDER versions than the winner's (the regression an epoch-ordered
    * reader would see as time going backwards). The snapshot itself is
    * read-until-stable ([[stableSnapshot]]): per-table pointer reads
    * within one pass are sequential, so a RACING WRITER landing between
    * them would make a single pass mixed-generation — the snapshot is
    * re-read until two consecutive passes agree, and version pointers
    * are monotone, so an agreed pair proves an instant at which every
    * table simultaneously held its recorded version. Every published
    * manifest therefore records a real cross-table state, even under
    * concurrent writers and committers. */
  /** TEST SEAM (PipelineEpochSpec's between-pointer-reads writer):
    * invoked after EVERY per-table pointer read inside
    * [[stableSnapshot]]. Production value is a no-op. */
  private[graft] var onSnapshotRead: () => Unit = () => ()

  /** Read every table's current version until two consecutive passes
    * agree — the cross-table analogue of a seqlock read. Version
    * pointers only move FORWARD, so if pass N and pass N+1 return the
    * same vector, each table's version was constant across the interval
    * [its pass-N read, its pass-N+1 read]; all pass-N reads finish
    * before pass N+1 starts, so at the boundary instant every table
    * simultaneously held its recorded version — the snapshot is a real
    * instantaneous cross-table state, never mixed-generation. Bounded:
    * sustained writer churn that defeats 16 passes fails loudly rather
    * than publishing a manifest of unknowable consistency. */
  private def stableSnapshot(cat: Catalog,
      tables: Seq[String]): Seq[(String, Int)] = {
    def pass(): Seq[(String, Int)] = tables.sorted.map { t =>
      val Array(layer, tbl) = t.split('.')
      val v = cat.currentVersion(layer, tbl)
      onSnapshotRead()
      t -> v
    }
    var prev = pass()
    var i = 0
    while (i < 16) {
      val cur = pass()
      if (cur == prev) return cur
      prev = cur
      i += 1
    }
    throw new IllegalStateException(
      "table versions kept moving across 16 consecutive snapshot " +
        s"passes for tables ${tables.mkString(", ")} — refusing to " +
        "publish a pipeline-epoch manifest under sustained writer churn")
  }

  /** The pipeline directory's WAREHOUSE-INSTANCE id file. Epoch names
    * repeat when a warehouse is deleted and recreated at the same path
    * (epoch_v1.. again, different contents), and (name, mtime, length)
    * fingerprints can collide across the recreation within the store's
    * mtime granularity — so the first commit put-if-absents a UUID the
    * pin sweep folds into its cache key
    * ([[graft.catalog.Catalog.epochProtectedVersions]]): a recreated
    * pipeline gets a fresh id, and a stale cache entry keyed by the old
    * id can never be served for the new warehouse's manifests. */
  private[graft] val InstanceFile = "_instance"

  private def ensureInstanceId(f: FileSystem, dir: String): Unit = {
    val p = new Path(dir, InstanceFile)
    if (!f.exists(p)) {
      val tmp = new Path(dir,
        ".inst-" + java.util.UUID.randomUUID().toString.take(8))
      val out = f.create(tmp, true)
      try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
      finally out.close()
      // loser's staged file is consumed either way; winner's id stands
      SwapProtocol.publishIfAbsent(f, tmp, p)
    }
  }

  def commit(spark: SparkSession, cat: Catalog, pipeline: String,
      tables: Seq[String], keepEpochs: Int = 20): Int = {
    require(keepEpochs >= 1, "keepEpochs must be >= 1")
    val dir = epochsDir(cat, pipeline)
    val f = fsOf(spark, dir)
    f.mkdirs(new Path(dir))
    ensureInstanceId(f, dir)
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val next = currentEpoch(spark, cat, pipeline) + 1
      val fresh = stableSnapshot(cat, tables)
      // newest epoch's record (absent/pruned/racing-away → empty):
      // the monotone floor for every table we are about to stamp
      val prevRec: Map[String, Int] =
        if (next <= 1) Map.empty
        else scala.util.Try(
          tableVersions(spark, cat, pipeline, next - 1))
          .getOrElse(Map.empty)
      val manifest = fresh.map { case (t, v) =>
        s"$t\t${math.max(v, prevRec.getOrElse(t, 0))}"
      }.mkString("\n")
      val tmp = new Path(dir,
        ".epoch-" + java.util.UUID.randomUUID().toString.take(8))
      val out = f.create(tmp, true)
      try out.write(manifest.getBytes("UTF-8")) finally out.close()
      val root = new Path(dir)
      if (SwapProtocol.step("epoch-publish", root)(SwapProtocol
          .publishIfAbsent(f, tmp, new Path(dir, s"epoch_v$next")))) {
        // informational hint only (a crash or a racing lower write here
        // costs nothing — readers list manifests, never trust this)
        try SwapProtocol.step("epoch-hint", root)(SwapProtocol
          .writeSmallFile(f, new Path(dir, "_current"), next.toString))
        catch { case _: java.io.IOException | _: IllegalStateException => () }
        // retention: bound the listing currentEpoch pays (same contract
        // as per-table keepVersions — old epochs age out)
        SwapProtocol.step("epoch-prune", root) {
          listManifests(f, dir).filter(_ <= next - keepEpochs)
            .foreach(v => f.delete(new Path(dir, s"epoch_v$v"), false))
        }
        return next
      }
      // lost the number race — renumber and retry
    }
    throw new IllegalStateException(
      s"could not commit pipeline epoch for '$pipeline' after $attempts " +
        "attempts (sustained contention)")
  }

  /** The table → version map a given epoch recorded. */
  def tableVersions(spark: SparkSession, cat: Catalog, pipeline: String,
      epoch: Int): Map[String, Int] = {
    val dir = epochsDir(cat, pipeline)
    val f = fsOf(spark, dir)
    val p = new Path(dir, s"epoch_v$epoch")
    require(f.exists(p),
      s"epoch $epoch of pipeline '$pipeline' not found (published epochs: " +
        s"${listManifests(f, dir).sorted.mkString(", ")})")
    parseManifest(f, p)
  }

  /** Epoch-resolved read: `layer.table` AT the version the NEWEST epoch
    * recorded — all tables read through one epoch are one generation.
    * Fails if no epoch is committed yet, if the table is not in the
    * manifest, or if the recorded version fell out of the per-table
    * retention window (the `VERSION AS OF` contract). */
  def read(spark: SparkSession, cat: Catalog, pipeline: String,
      name: String): DataFrame =
    readAt(spark, cat, pipeline, name,
      currentEpoch(spark, cat, pipeline))

  /** [[read]] pinned to an explicit epoch — lets one consumer hold a
    * consistent generation across many reads even while new epochs
    * publish underneath it. */
  def readAt(spark: SparkSession, cat: Catalog, pipeline: String,
      name: String, epoch: Int): DataFrame = {
    require(epoch > 0, s"pipeline '$pipeline' has no committed epoch")
    val versions = tableVersions(spark, cat, pipeline, epoch)
    val v = versions.getOrElse(name, throw new IllegalArgumentException(
      s"table '$name' is not part of pipeline '$pipeline' " +
        s"(epoch $epoch records: ${versions.keys.toSeq.sorted.mkString(", ")})"))
    require(v > 0, s"table '$name' did not exist at epoch $epoch")
    val Array(layer, tbl) = name.split('.')
    Catalog.versionRead(spark, cat.path(layer, tbl), v)
  }

  // ---- path-addressed seam (the SQL surface's entry, mirroring
  // Catalog.vacuumPath/versionRead): a resolved table directory is
  // `<warehouse>/<layer>/<table>`, so the warehouse root, the epochs
  // dir, and the manifest key all derive from the path shape — no
  // Catalog instance needed, which is exactly what a SQL command
  // resolving an identifier through the session catalog has in hand.

  private def pathParts(tableDir: String): (String, String) = {
    val p = new Path(tableDir)
    val layerDir = p.getParent
    require(layerDir != null && layerDir.getParent != null,
      s"$tableDir is not a <warehouse>/<layer>/<table> directory")
    (layerDir.getParent.toString, s"${layerDir.getName}.${p.getName}")
  }

  private def epochsDirOf(warehouse: String, pipeline: String): String =
    s"$warehouse/_pipeline_epochs/$pipeline"

  /** Newest published epoch, addressed by any member table's dir. */
  def currentEpochPath(spark: SparkSession, tableDir: String,
      pipeline: String): Int = {
    val dir = epochsDirOf(pathParts(tableDir)._1, pipeline)
    val ms = listManifests(fsOf(spark, dir), dir)
    if (ms.isEmpty) 0 else ms.max
  }

  /** [[readAt]] addressed by the table's resolved directory. */
  def readAtPath(spark: SparkSession, tableDir: String, pipeline: String,
      epoch: Int): DataFrame = {
    require(epoch > 0, s"pipeline '$pipeline' has no committed epoch")
    val (warehouse, name) = pathParts(tableDir)
    val dir = epochsDirOf(warehouse, pipeline)
    val f = fsOf(spark, dir)
    val p = new Path(dir, s"epoch_v$epoch")
    require(f.exists(p),
      s"epoch $epoch of pipeline '$pipeline' not found (published epochs: " +
        s"${listManifests(f, dir).sorted.mkString(", ")})")
    val versions = parseManifest(f, p)
    val v = versions.getOrElse(name, throw new IllegalArgumentException(
      s"table '$name' is not part of pipeline '$pipeline' " +
        s"(epoch $epoch records: ${versions.keys.toSeq.sorted.mkString(", ")})"))
    require(v > 0, s"table '$name' did not exist at epoch $epoch")
    Catalog.versionRead(spark, tableDir, v)
  }

  /** One retained manifest for a LISTING. `None` = the file VANISHED
    * (pruned mid-listing — its epoch aged out, skipping it is correct).
    * Exists-but-unreadable throws after bounded retries: an auditor
    * discovering epochs through `pipeline_epochs`/`pipeline_epoch_history`
    * must never see a live epoch silently absent and conclude it was
    * never committed — the same vanished-vs-unreadable distinction the
    * vacuum pin sweep draws (ADVICE r13 medium; Catalog.readPinManifest). */
  private def readManifestOrPruned(f: FileSystem, p: Path)
      : Option[String] = {
    var attempt = 0
    while (true) {
      try return Some(SwapProtocol.readSmallFile(f, p))
      catch {
        case e: java.io.IOException =>
          if (!f.exists(p)) return None
          attempt += 1
          if (attempt >= 3) throw new IllegalStateException(
            s"pipeline-epoch manifest $p exists but could not be read " +
              "after 3 attempts — refusing to list an epoch set of " +
              "unknowable completeness", e)
          Thread.sleep(5L * attempt)
      }
    }
    None // unreachable
  }

  /** A manifest's parsed (table, version) lines; malformed lines are
    * tolerated PER-LINE (the pin sweep's discipline) rather than
    * failing or dropping the whole epoch. */
  private def parsedLines(text: String): Seq[(String, Int)] =
    text.split('\n').toSeq.flatMap { l =>
      l.split('\t') match {
        case Array(t, v) => v.toIntOption.map(t -> _)
        case _ => None
      }
    }

  /** The audit view behind `pipeline_epochs(...)`: every retained
    * epoch's manifest as (epoch, table_name, version) rows — bounded
    * by keepEpochs × #tables, metadata scale. */
  def manifestRows(spark: SparkSession, tableDir: String,
      pipeline: String): Seq[(Int, String, Int)] = {
    val dir = epochsDirOf(pathParts(tableDir)._1, pipeline)
    val f = fsOf(spark, dir)
    listManifests(f, dir).sorted.flatMap { e =>
      readManifestOrPruned(f, new Path(dir, s"epoch_v$e")).toSeq
        .flatMap(parsedLines).map { case (t, v) => (e, t, v) }
    }
  }

  /** Every retained epoch with its COMMIT METADATA — one row per epoch
    * (the discovery listing `pipeline_epochs`' per-table rows don't
    * give): commit time = the manifest file's mtime (the put-if-absent
    * link is the publication instant, so the file's timestamp IS the
    * commit's), the recorded table count, and the recorded version
    * span. A SQL auditor uses this to DISCOVER epochs ("what committed
    * last night?") instead of probing numbers. Bounded by the retention
    * cap; a manifest pruned mid-listing is skipped (its epoch aged
    * out). */
  def historyRows(spark: SparkSession, tableDir: String,
      pipeline: String): Seq[(Int, java.sql.Timestamp, Int, Int, Int)] = {
    val dir = epochsDirOf(pathParts(tableDir)._1, pipeline)
    val f = fsOf(spark, dir)
    listManifests(f, dir).sorted.flatMap { e =>
      val p = new Path(dir, s"epoch_v$e")
      // vanished mid-listing → the epoch aged out, skip; unreadable or
      // stat-failed while present → readManifestOrPruned's loud failure
      readManifestOrPruned(f, p).flatMap { text =>
        val vs = parsedLines(text).map(_._2)
        // stat after a successful read: a miss here means the manifest
        // was pruned between the two calls — same skip as a pruned read
        (try Some(f.getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }).map(st =>
          (e, new java.sql.Timestamp(st.getModificationTime), vs.length,
            if (vs.isEmpty) 0 else vs.min, if (vs.isEmpty) 0 else vs.max))
      }
    }
  }
}
