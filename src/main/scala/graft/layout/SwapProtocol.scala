package graft.layout

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog
import graft.catalog.Catalog.ConcurrentCommitException

/** The versioned commit protocol: ONE step sequence every table commit
  * runs, whatever its layout, plus the small-file primitives the protocol
  * and its neighbours (manifests, cursors, markers) publish through.
  *
  * Layout on disk: the live snapshot is `<dir>`; retired versions sit in
  * `<dir>.history/v{N}`; `<dir>.history/_current` names the live version;
  * `<dir>.history/_swap_claim_v{N}` is held by the one writer moving the
  * table from N to N+1; `<dir>.history/_recovery_epoch` changes whenever
  * a crashed transition is rolled back.
  *
  * [[commit]] runs, in order:
  *   1. pointer check — the version the caller staged against must still
  *      be live (optimistic concurrency), and no `v{cur}` entry may exist
  *      (that is another writer in flight, or a crashed one, which is
  *      recovered first);
  *   2. claim — `_swap_claim_v{cur}`, holding a token unique to this
  *      writer, through [[publishIfAbsent]], then the pointer is re-read:
  *      exactly one writer owns each transition;
  *   3. retire — the whole live dir ([[WholeDir]]: flat and hive
  *      snapshots, full rewrites of a bucketed one) or only the touched
  *      child dirs ([[Children]]: the `gbucket=` dirs of a bucket swap,
  *      an empty marker for one that did not exist) into `v{cur}`;
  *   4. stage-in — the staged dir (or its children) renamed live, with
  *      the nested-rename check;
  *   5. pointer — `_current` = cur + 1, written only while the claim
  *      still holds this writer's token, then the claim is released;
  *   6. commit time — bucketed layouts stamp `_commit_time_v{cur+1}`;
  *   7. prune — the one version that aged out of `keepVersions`;
  *   8. `refreshByPath`.
  * The writer refreshes its claim's mtime (a heartbeat) through the
  * retire and stage-in renames and right before the pointer write.
  *
  * A transition whose claim (and `v{cur}`) went without a heartbeat for
  * [[HealGraceMs]] is a crashed writer's, and [[recoverAbortedSwap]]
  * settles it by ONE rule:
  *   - a whole-dir transition whose new snapshot is live is complete on
  *     disk, and readers may already have read it: it is rolled FORWARD
  *     (pointer cur + 1; `v{cur}` stays as history);
  *   - a whole-dir transition with no live dir (a crash between retire
  *     and stage-in) and every bucket swap are rolled BACK: the entries
  *     under `v{cur}` are restored over what is live at their place and
  *     the recovery epoch is bumped, so [[ReadProbeCache]] re-probes.
  * A writer stalled (not crashed) past the grace learns at its pointer
  * step that its token is gone: a whole-dir commit was rolled forward
  * and stands; a bucket swap was rolled back and fails LOUDLY, so its
  * caller retries. Writers recover before staging, readers heal inline
  * ([[healCrashedSwap]]) only where a read could see a mix or nothing.
  * Every filesystem step runs through the [[step]] seam, where a spec can
  * inject a crash or a stall. CrashHealProps fuzzes the recovery;
  * CommitCrashSpec throws at every step of five commit kinds and stalls a
  * writer past the grace.
  */
object SwapProtocol {

  // ------------------------------------------------ small files

  /** Atomic PUT-IF-ABSENT publish of a fully-staged small file — the
    * primitive claims and manifests need. A plain `rename(staged,
    * target)` is NOT it on the local FS: `ChecksumFileSystem.rename`
    * implements fail-on-existing-file as an `exists` CHECK followed by
    * the POSIX `rename(2)` (which silently REPLACES an existing
    * destination), so two racers can interleave between check and act
    * and both report success. On `file://` this uses `link(2)` instead:
    * hard-linking is kernel-atomic (`EEXIST` if the target appears
    * first) AND the target materializes with its full staged content.
    * Non-local stores fall back to rename, whose HDFS/object-store
    * contracts genuinely fail on an existing destination. Returns true
    * iff THIS caller's staged file became the target; the staged file
    * is consumed either way. */
  /** Count of publishes that degraded to the NON-atomic exists+rename
    * path (link unsupported or persistently failing). Zero on a healthy
    * local FS; a nonzero value means epoch/claim uniqueness is running
    * on the racy fallback and the store should be looked at. */
  private[graft] val nonAtomicPublishes =
    new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def publishIfAbsent(f: FileSystem, staged: Path,
      target: Path): Boolean = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    def renameFallback(why: String): Boolean = {
      if (scheme == "file") {
        // on file:// the rename path is NOT put-if-absent (exists-check
        // + replacing rename(2) — the TOCTOU this function closes);
        // flag the degradation instead of silently reintroducing it
        nonAtomicPublishes.incrementAndGet()
        System.err.println(s"[graft] WARN publishIfAbsent: hard link " +
          s"unavailable ($why) — degrading to non-atomic rename for " +
          s"$target; concurrent-publish uniqueness is not guaranteed " +
          "on this filesystem")
      }
      if (f.exists(target)) { f.delete(staged, false); false }
      else if (f.rename(staged, target)) true
      else { f.delete(staged, false); false }
    }
    if (scheme == "file") {
      val s = java.nio.file.Paths.get(staged.toUri.getPath)
      val t = java.nio.file.Paths.get(target.toUri.getPath)
      // bounded retry: a transient IOException (NFS hiccup, interrupted
      // syscall) must not flip a correctness primitive onto the racy
      // path — only a PERSISTENT link failure may, and observably
      var attempt = 0
      var lastErr: java.io.IOException = null
      while (attempt < 3) {
        try {
          java.nio.file.Files.createLink(t, s)
          f.delete(staged, false)
          return true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            f.delete(staged, false); return false
          case _: UnsupportedOperationException =>
            return renameFallback("link(2) unsupported")
          case e: java.io.IOException =>
            // a racer's link can land between our failure and this
            // check — target existing IS the absent→present answer
            if (f.exists(target)) { f.delete(staged, false); return false }
            lastErr = e; attempt += 1
            if (attempt < 3) {
              // an interrupt must not escape with the staged file
              // un-consumed (the documented contract): restore the flag
              // and settle through the fallback, which deletes or
              // renames the staged file on every path
              try Thread.sleep(5L << attempt)
              catch {
                case _: InterruptedException =>
                  Thread.currentThread().interrupt()
                  return renameFallback("interrupted during link retry")
              }
            }
        }
      }
      renameFallback(s"link failed 3x: ${lastErr.getMessage}")
    } else renameFallback("non-local scheme")
  }

  /** The one small-file reader: the whole file as UTF-8, trimmed. */
  private[graft] def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  /** The one small-file writer: `fill` writes a unique
    * `<name>.tmp-<id>` sibling, which then replaces `target` by
    * delete-then-rename — readers see the old content, nothing, or the
    * new content, never a torn file. The tmp stays visible for exactly
    * the absent window, which is how [[readPointer]] and
    * [[readRecoveryEpoch]] tell "being replaced" from "never written";
    * the unique name keeps a crashed writer's leftover from being
    * renamed as a later writer's value. */
  private[graft] def writeSmallFile(f: FileSystem, target: Path)(
      fill: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(target.getParent,
      target.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = f.create(tmp, true)
    try fill(out) finally out.close()
    if (f.exists(target)) f.delete(target, false)
    if (!f.rename(tmp, target))
      throw new IllegalStateException(s"could not commit $target")
  }

  private[graft] def writeSmallFile(f: FileSystem, target: Path,
      text: String): Unit =
    writeSmallFile(f, target)(_.write(text.getBytes("UTF-8")))

  /** A [[writeSmallFile]] tmp older than this is a CRASHED writer's
    * leftover, not an in-flight delete-then-rename window (that window
    * is milliseconds; the gate is generous for FS timestamp
    * granularity). Without the gate a stranded tmp would make every read
    * spin its full retry budget. */
  private val StaleTmpMs = 10000L

  /** Is a fresh [[writeSmallFile]] of `name` in flight among `listing`? */
  private def publishing(listing: Seq[org.apache.hadoop.fs.FileStatus],
      name: String): Boolean = {
    val now = System.currentTimeMillis()
    listing.exists(s => s.getPath.getName.startsWith(name + ".tmp-") &&
      now - s.getModificationTime < StaleTmpMs)
  }

  // ------------------------------------------------ version log

  private[graft] def historyDir(dir: String) = new Path(dir + ".history")
  private[graft] def versionDir(dir: String, v: Int) =
    new Path(historyDir(dir), f"v$v%05d")
  private def pointerFile(dir: String) = new Path(historyDir(dir), "_current")
  private def claimFile(dir: String, v: Int) =
    new Path(historyDir(dir), s"_swap_claim_v$v")

  private def loggedVersions(listing: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[Int] =
    listing.map(_.getPath.getName).filter(n => n.startsWith("v") &&
      n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit)).map(_.drop(1).toInt)

  /** The live snapshot's version: the `_current` pointer when present;
    * a pointer-less existing dir is version 1 (written outside the
    * protocol); 0 when the table doesn't exist.
    *
    * The pointer is replaced delete-then-rename, so a reader can catch it
    * ABSENT — a transient window, marked by the writer's fresh tmp. Only
    * when the pointer is absent with no publish in flight is the value
    * derived: retired entries run v1..v{cur-1} (a writer that crashed
    * inside its pointer window), so live = max logged + 1. */
  private[graft] def readPointer(f: FileSystem, dir: String): Int =
    pointer(f, dir)._1

  /** [[readPointer]], and whether the `_current` file holds the value. */
  private def pointer(f: FileSystem, dir: String): (Int, Boolean) = {
    val p = pointerFile(dir)
    def derive(listing: Seq[org.apache.hadoop.fs.FileStatus]) = {
      val logged = loggedVersions(listing)
      (if (logged.nonEmpty) logged.max + 1
       else if (f.exists(new Path(dir))) 1 else 0, false)
    }
    var listing = Seq.empty[org.apache.hadoop.fs.FileStatus]
    var i = 0
    while (i < 100) {
      try {
        if (f.exists(p)) return (readSmallFile(f, p).toInt, true)
        listing = try f.listStatus(historyDir(dir)).toSeq
          catch { case _: java.io.FileNotFoundException => return derive(Nil) }
        if (!publishing(listing, "_current") && !f.exists(p))
          return derive(listing)
      } catch {
        case _: java.io.FileNotFoundException => ()
        // same transient window via the OTHER sidecar: ChecksumFileSystem
        // renames a file and its .crc in two steps, so a reader landing
        // between them can see new bytes against a stale/absent crc
        case _: org.apache.hadoop.fs.ChecksumException => ()
      }
      i += 1
      Thread.sleep(2)
    }
    derive(listing)
  }

  /** Recovery-epoch file: the one cross-process signal for the protocol's
    * single same-version mutation. [[recoverAbortedSwap]] moves dirs back
    * WITHOUT a pointer advance, so the (path, version) probe key alone
    * cannot tell other JVMs their cached probe now describes the crashed
    * writer's half-swapped state. Each rollback writes a fresh UUID here;
    * [[ReadProbeCache]] folds it into the cache key. Absent file = "never
    * recovered" (the common case: one `exists` per probe). */
  private def recoveryEpochFile(dir: String) =
    new Path(historyDir(dir), "_recovery_epoch")

  private[graft] def readRecoveryEpoch(f: FileSystem, dir: String): String = {
    val p = recoveryEpochFile(dir)
    var i = 0
    while (i < 100) {
      try {
        if (f.exists(p)) return readSmallFile(f, p)
        // ABSENT is ambiguous: "never recovered", or a bump's
        // delete-then-rename window — in which a probe returning "" would
        // cache a pre-recovery answer under the never-recovered epoch
        val listing = try f.listStatus(historyDir(dir)).toSeq
          catch { case _: java.io.FileNotFoundException => return "" }
        if (!publishing(listing, "_recovery_epoch") && !f.exists(p))
          return ""
      } catch { case _: java.io.FileNotFoundException => () }
      i += 1
      Thread.sleep(2)
    }
    // unreadable after the retry budget — a unique value makes the
    // caller treat the probe as uncacheable rather than stale
    "unreadable-" + java.util.UUID.randomUUID().toString
  }

  private[graft] def bumpRecoveryEpoch(f: FileSystem, dir: String): Unit = {
    writeSmallFile(f, recoveryEpochFile(dir),
      java.util.UUID.randomUUID().toString)
    // reclaim tmps stranded by a CRASHED earlier bump (a live bump's tmp
    // is younger than the readers' staleness gate by construction)
    try {
      val cutoff = System.currentTimeMillis() - StaleTmpMs
      f.listStatus(historyDir(dir))
        .filter(s => s.getPath.getName.startsWith("_recovery_epoch.tmp-")
          && s.getModificationTime < cutoff)
        .foreach(s => f.delete(s.getPath, false))
    } catch { case _: java.io.FileNotFoundException => () }
  }

  /** Per-version commit times for bucketed layouts. A flat snapshot's
    * version dir is written once and only ever renamed, so its mtime IS
    * the commit time; a bucket retire entry is created when the NEXT
    * version commits, so every bucketed commit stamps
    * `_commit_time_v{N}` — the record `TIMESTAMP AS OF` resolution
    * reads. */
  private[graft] def commitTimeMarker(dir: String, v: Int): Path =
    new Path(historyDir(dir), s"_commit_time_v$v")

  // ------------------------------------------------ step seam

  /** Hooks run before every named step whose path lies under the key
    * (a path prefix): a spec injects a crash (throw) or a stall (block)
    * at one step of one table's commit. Empty outside specs, where a
    * step costs one `isEmpty`. */
  private[graft] val stepHooks =
    new java.util.concurrent.ConcurrentHashMap[String, String => Unit]()

  /** Run `body` as the protocol step `name` acting at `at`. */
  private[graft] def step[A](name: String, at: Path)(body: => A): A = {
    if (!stepHooks.isEmpty) {
      val p = at.toUri.getPath
      stepHooks.forEach((prefix, hook) => if (p.startsWith(prefix)) hook(name))
    }
    body
  }

  /** Rename `from` to `to` as the step `name`; false if refused. The
    * protocol's one rename: retire, stage-in, recovery, the staged-file
    * moves of DML and appends. */
  private[graft] def move(name: String, f: FileSystem, from: Path,
      to: Path): Boolean =
    step(name, to) {
      try f.rename(from, to)
      catch { case _: java.io.FileNotFoundException => false }
    }

  // ------------------------------------------------ commit

  /** What a commit moves into the version log. */
  sealed trait Retire
  /** The whole live dir becomes `v{cur}`: flat and hive snapshots, and
    * full rewrites (RESTORE, column DDL) of a bucketed one. Commit tags
    * live in this layout's snapshot. */
  case object WholeDir extends Retire
  /** Only these child dirs of the live dir move to `v{cur}/<name>`; the
    * stage holds their replacements (a child absent from it is dropped). */
  final case class Children(names: Seq[String]) extends Retire

  /** Tag key every whole-dir commit stamps with the operation that
    * produced the version (Delta's `operation` column in `DESCRIBE
    * HISTORY`). */
  private[graft] val OperationTag = "operation"
  private val TagPrefix = "_graft_commit_tag_"

  /** Commit `stage` as the next version of `dir` — the step sequence in
    * the header. `expectedVersion` is the version a read-modify-write
    * caller staged against (Some(0) for a first load): if the table
    * moved, committing would silently drop the interleaved writer's
    * rows, so the stage is discarded and [[ConcurrentCommitException]]
    * raised. `tags` (whole-dir commits only) become
    * `_graft_commit_tag_<key>` files of the new snapshot; the live
    * snapshot's other tags carry forward (a streaming sink's exactly-once
    * batch marker must survive whatever lands after it). Every exit
    * before the stage-in leaves the live table untouched and the stage
    * deleted. */
  private[graft] def commit(spark: SparkSession, f: FileSystem, dir: String,
      stage: Path, retire: Retire, keepVersions: Int,
      expectedVersion: Option[Int], tags: Seq[(String, String)] = Nil)
      : Unit = {
    val dst = new Path(dir)
    def abandon(e: Exception): Nothing = { f.delete(stage, true); throw e }
    retire match {
      case WholeDir =>
        // unclaimed read: a concurrent commit may retire the live dir
        // under it, and then the table has moved past this stage
        val live = try if (f.exists(dst)) f.listStatus(dst).toSeq else Nil
          catch { case _: java.io.IOException if !f.exists(dst) =>
            abandon(new ConcurrentCommitException(dir)) }
        live.foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith(TagPrefix) &&
              !tags.exists(t => n == TagPrefix + t._1))
            org.apache.hadoop.fs.FileUtil.copy(f, st.getPath,
              f, new Path(stage, n), false, false,
              spark.sparkContext.hadoopConfiguration)
        }
        tags.foreach { case (k, v) =>
          val out = f.create(new Path(stage, TagPrefix + k), true)
          try out.write(v.getBytes("UTF-8")) finally out.close()
        }
      case Children(_) =>
        require(tags.isEmpty, s"a bucket swap of $dir has no tag store")
    }
    // 1. pointer check
    val cur = readPointer(f, dir)
    expectedVersion.filter(_ != cur).foreach { exp =>
      abandon(new ConcurrentCommitException(dir, exp, cur))
    }
    val vdir = versionDir(dir, cur)
    if (cur > 0 && f.exists(vdir)) {
      // another transition from cur is in flight, or crashed: settle a
      // crashed one; either way this stage may derive from it
      recover(spark, f, dir, cur)
      abandon(new ConcurrentCommitException(dir))
    }
    // 2. claim
    val claim = claimFile(dir, cur)
    val token = java.util.UUID.randomUUID().toString
    if (!step("claim", dst)(
        publishIfAbsent(f, stagedClaim(f, dir, token), claim))) {
      recover(spark, f, dir, cur) // clears a crashed claimant's claim
      abandon(new ConcurrentCommitException(dir))
    }
    // a winner at cur may have advanced the pointer and released its
    // claim between our read and our claim; holding the claim, a re-read
    // that still equals cur proves the read was not superseded
    val (recheck, stored) = pointer(f, dir)
    if (recheck != cur) {
      f.delete(claim, false)
      abandon(new ConcurrentCommitException(dir, cur, recheck))
    }
    // a pointer-less table (written outside the protocol) gets its
    // pointer before the retire: otherwise a crash right after would
    // derive version 2 from the new v1 entry and never roll it back
    if (cur > 0 && !stored) writeSmallFile(f, pointerFile(dir), cur.toString)
    // 3. retire, 4. stage-in
    def nestedCheck(live: Path, staged: Path): Unit = {
      // Hadoop rename(src, dst) with dst an EXISTING dir moves src INSIDE
      // it and returns true: a rollback that pre-empted this writer
      // (stalled past the grace) restored the live dir under it
      val nested = new Path(live, staged.getName)
      if (f.exists(nested)) {
        f.delete(nested, true)
        throw new IllegalStateException(s"commit of $live pre-empted by " +
          s"crash recovery (stalled past ${HealGraceMs}ms) — retry")
      }
    }
    retire match {
      case WholeDir =>
        if (f.exists(dst) && !move("retire", f, dst, vdir)) {
          f.delete(claim, false)
          abandon(new ConcurrentCommitException(dir))
        }
        heartbeat(f, claim)
        if (!move("stage-in", f, stage, dst))
          throw new IllegalStateException(s"stage-in of $stage failed")
        nestedCheck(dst, stage)
      case Children(names) =>
        step("retire", dst)(f.mkdirs(vdir))
        names.foreach { n =>
          heartbeat(f, claim)
          val live = new Path(dst, n)
          if (f.exists(live)) {
            if (!move("retire", f, live, new Path(vdir, n)))
              throw new IllegalStateException(s"retire of $live failed")
          } else step("retire", dst)(f.mkdirs(new Path(vdir, n)))
        }
        names.foreach { n =>
          val (src, live) = (new Path(stage, n), new Path(dst, n))
          heartbeat(f, claim)
          if (f.exists(src)) {
            if (f.exists(live))
              throw new IllegalStateException(s"commit of $live pre-empted " +
                s"by crash recovery (stalled past ${HealGraceMs}ms) — retry")
            if (!move("stage-in", f, src, live))
              throw new IllegalStateException(s"stage-in of $src failed")
            nestedCheck(live, src)
          }
        }
        f.delete(stage, true)
    }
    // 5. pointer, then the claim is released — only while this writer
    // still holds it: stalled past the grace, it may have been taken over
    val holder = step("pointer", dst)(holds(f, claim, token) && {
      writeSmallFile(f, pointerFile(dir), (cur + 1).toString); true })
    // every commit lands here — drop the read-probe cache so a reader
    // thread in this JVM can't see the new version through old answers
    ReadProbeCache.invalidate(dir)
    if (holder) {
      step("release", dst)(f.delete(claim, false))
      // 6. commit time (flat versions are dated by their dir's mtime)
      if (retire != WholeDir || Catalog.isBucketedLayout(f, dir))
        step("commit-time", dst)(stampCommitTime(f, dir, cur + 1))
      // 7. prune the ONE entry that just left the retention window —
      // every earlier commit pruned its own; orphans from a lowered
      // keepVersions, a released epoch pin or a recovered commit are
      // vacuum's job
      val aged = cur - keepVersions
      if (aged >= 1 && !Catalog.epochPinProtects(spark, f, dir, aged))
        step("prune", dst) {
          val old = versionDir(dir, aged)
          if (f.exists(old)) f.delete(old, true)
          f.delete(commitTimeMarker(dir, aged), false)
        }
    } else if (retire != WholeDir)
      // a taken-over bucket swap is rolled back: this stage is gone
      throw new IllegalStateException(s"commit of $dst pre-empted by " +
        s"crash recovery (stalled past ${HealGraceMs}ms) — retry")
    // (a taken-over whole-dir commit was rolled forward: its staged
    // snapshot, live since step 4, is version cur + 1)
    // 8. cached relations (file lists) outlive the swap
    spark.catalog.refreshByPath(dst.toString)
  }

  /** A fresh staged claim file holding the claimant's unique `token`,
    * consumed by [[publishIfAbsent]]. */
  private def stagedClaim(f: FileSystem, dir: String, token: String)
      : Path = {
    val p = new Path(historyDir(dir), ".claim-" + token.take(8))
    val out = f.create(p, true)
    try out.write(token.getBytes("UTF-8")) finally out.close()
    p
  }

  /** A claimant's heartbeat: a live one keeps its claim fresh through its
    * renames, so only a stalled or crashed one is ever taken over. */
  private def heartbeat(f: FileSystem, claim: Path): Unit =
    try f.setTimes(claim, System.currentTimeMillis(), -1)
    catch { case _: java.io.IOException => () }

  /** Does the writer with `token` still hold `claim`? Beats first, so a
    * holder stays fresh through the pointer write that follows (a stall
    * longer than [[HealGraceMs]] between this check and that write is
    * the one window the lease leaves open). */
  private def holds(f: FileSystem, claim: Path, token: String): Boolean = {
    heartbeat(f, claim)
    try readSmallFile(f, claim) == token
    catch { case _: java.io.FileNotFoundException => false }
  }

  private def stampCommitTime(f: FileSystem, dir: String, v: Int): Unit =
    writeSmallFile(f, commitTimeMarker(dir, v),
      System.currentTimeMillis().toString)

  // ------------------------------------------------ crash recovery

  /** How long a transition may go without a heartbeat before it counts
    * as crashed. A live writer stalled longer than this can be taken
    * over: a whole-dir commit is then rolled forward and stands; a
    * bucket swap, or a whole-dir one stalled before its stage-in, is
    * rolled back under it and fails LOUDLY (the token and nested-rename
    * checks in [[commit]]), so its caller retries — correctness is bought
    * with a retry, never silence. Hosts with multi-second IO stalls can
    * widen it with `-Dgraft.heal.graceMs`. */
  private[graft] def HealGraceMs: Long =
    sys.props.get("graft.heal.graceMs").flatMap(s =>
      scala.util.Try(s.toLong).toOption).getOrElse(3000L)

  private def stale(f: FileSystem, p: Path): Boolean =
    try System.currentTimeMillis() - f.getFileStatus(p).getModificationTime >
      HealGraceMs
    catch { case _: java.io.FileNotFoundException => true }

  /** Writer-side recovery, run before staging: settle a crashed
    * transition from the live version. Returns the live version after
    * it — the version to stage against. One `exists` beyond the pointer
    * read in the steady state. */
  private[graft] def recoverAbortedSwap(spark: SparkSession, f: FileSystem,
      dir: String): Int = {
    val cur = readPointer(f, dir)
    if (cur > 0 && f.exists(versionDir(dir, cur))) {
      recover(spark, f, dir, cur)
      readPointer(f, dir)
    } else cur
  }

  /** Read-side healing: a scan of a bucket tree mid-transition could mix
    * old and new buckets, or miss a retired one. One `exists` on the
    * in-flight `v{cur}` answers the steady state. An entry younger than
    * [[HealGraceMs]] is a live writer's, left alone; an older one is
    * recovered inline when it is a bucket swap, or when the live dir is
    * missing altogether — a whole-dir transition with its new snapshot
    * live reads whole (the next writer rolls it forward), so flat reads
    * never pay more. Returns the live version: the pointer read it made,
    * re-read only after a recovery. */
  private[graft] def healCrashedSwap(spark: SparkSession, f: FileSystem,
      dir: String): Int = {
    val cur = readPointer(f, dir)
    val vdir = versionDir(dir, cur)
    if (cur > 0 && f.exists(vdir) && stale(f, vdir) &&
        (!f.exists(new Path(dir)) || bucketSwap(f, vdir))) {
      recover(spark, f, dir, cur)
      readPointer(f, dir)
    } else cur
  }

  private def bucketSwap(f: FileSystem, vdir: Path): Boolean =
    try f.listStatus(vdir).forall(_.getPath.getName.startsWith(
      graft.merge.PartitionedMerge.BucketCol + "="))
    catch { case _: java.io.FileNotFoundException => false }

  /** Settle the transition from `cur` if its claimant crashed: take the
    * claim over when it is absent or stale past [[HealGraceMs]] (claim
    * AND `v{cur}` both without a heartbeat), then apply the header's
    * rule — a whole-dir transition with a live dir rolls forward; one
    * without, and a bucket swap, roll back (every entry under `v{cur}`
    * restored over what is live at its place, the recovery epoch bumped)
    * — and release. A stale claim without a `v{cur}` (crash before the
    * retire) is just cleared. */
  private def recover(spark: SparkSession, f: FileSystem, dir: String,
      cur: Int): Unit = {
    val claim = claimFile(dir, cur)
    val vdir = versionDir(dir, cur)
    val held = f.exists(claim)
    if (held && !(stale(f, claim) && stale(f, vdir))) return // live writer
    if (held) {
      // take-over: move the stale claim aside (only one racer's move of
      // it succeeds); a claim that turns out fresh was published by a
      // live writer between our check and the move — hand it back
      val aside = new Path(historyDir(dir),
        ".claim-stale-" + java.util.UUID.randomUUID().toString.take(8))
      if (!move("recover", f, claim, aside)) return
      if (!stale(f, aside)) { publishIfAbsent(f, aside, claim); return }
      f.delete(aside, false)
    }
    if (!publishIfAbsent(f, stagedClaim(f, dir,
        java.util.UUID.randomUUID().toString), claim)) return
    try {
      // only a directory is a retire entry (anything else is not this
      // protocol's, and restoring it over the live dir would destroy it)
      val entry = try f.getFileStatus(vdir).isDirectory
        catch { case _: java.io.FileNotFoundException => false }
      val dst = new Path(dir)
      if (readPointer(f, dir) != cur || !entry) ()
      else if (!f.exists(dst) || !bucketSwap(f, vdir)) {
        // whole dir: never move a live snapshot aside — it is the
        // transition's new version. A stalled writer's stage-in can land
        // between the exists and the restore, which then nests under it:
        // put the entry back and roll forward after all
        val forward = f.exists(dst) || {
          if (!move("recover", f, vdir, dst))
            throw new IllegalStateException(
              s"crash recovery could not restore $dst from $vdir")
          val nested = new Path(dst, vdir.getName)
          f.exists(nested) && move("recover", f, nested, vdir)
        }
        if (forward) step("recover", dst) {
          writeSmallFile(f, pointerFile(dir), (cur + 1).toString)
          ReadProbeCache.invalidate(dir)
          if (Catalog.isBucketedLayout(f, dir)) stampCommitTime(f, dir, cur + 1)
        } else restored(f, dir)
      } else {
        val trash = new Path(dir + ".tmp-recover-" +
          java.util.UUID.randomUUID().toString.take(8))
        val entries = f.listStatus(vdir).toSeq
        try entries.foreach { st =>
          val (retired, live) = (st.getPath, new Path(dst, st.getPath.getName))
          if (f.exists(live)) {
            f.mkdirs(trash)
            if (!move("recover", f, live, new Path(trash, live.getName)))
              throw new IllegalStateException(s"crash recovery could not " +
                s"set aside $live")
          }
          // an empty bucket entry marks "absent at cur": nothing goes back
          if (f.listStatus(retired).isEmpty) f.delete(retired, true)
          else if (!move("recover", f, retired, live))
            throw new IllegalStateException(
              s"crash recovery could not restore $live from $retired")
        } finally if (entries.nonEmpty) restored(f, dir)
        f.delete(vdir, true)
        f.delete(trash, true)
      }
    } finally f.delete(claim, false)
  }

  /** The one same-version mutation: other processes learn of a rollback
    * from the recovery epoch, this JVM's readers from the invalidation. */
  private def restored(f: FileSystem, dir: String): Unit = {
    bumpRecoveryEpoch(f, dir)
    ReadProbeCache.invalidate(dir)
  }
}
