package graft.layout

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** In-JVM cache of the per-version READ PROBE — the two FS questions every
  * DV-applied read asks before touching data: "is this the bucket layout?"
  * (one `listStatus`) and "which `_dv` sidecar dirs are live?" (root
  * `exists` plus one per bucket). VERDICT r7 #1 measured the answers being
  * re-derived on every read; at Delta-scale file counts the `listStatus`
  * alone is the large-checkpoint problem, and on an object store each
  * probe is a round-trip.
  *
  * Soundness: both answers are IMMUTABLE for a given pointer version —
  * every operation that creates, grows, or folds a sidecar, or changes
  * the layout, commits through `SwapProtocol.commit` on every layout,
  * which advances the pointer, so the (path, version) key can never serve
  * a stale answer to a reader that observes the new version. The one
  * same-version mutation in the protocol — `SwapProtocol`'s rollback of a
  * crashed transition, whole-dir or bucket swap (a roll-forward moves the
  * pointer like any commit) — invalidates
  * explicitly for this JVM's readers AND bumps the table's
  * `_recovery_epoch` file, which this cache folds into the key: a probe
  * cached by process A before process B ran recovery misses on A's next
  * lookup (the epoch changed), so cross-process recovery staleness is
  * bounded to probes already in flight, not indefinite. Ordinary
  * cross-process writers are caught by the version key: their commit
  * moves the pointer this probe reads. The commit also invalidates
  * in-JVM (belt and braces for writers racing their own readers).
  *
  * Cost model: one `readPointer` (a small-file read, up to 3 metadata ops
  * on a pointer-less table), one epoch `exists` (a content read only on
  * tables that have ever crash-recovered), and one crash-probe `exists`
  * on the in-flight version dir (read-side self-healing — the crashed
  * mid-swap state changes neither version nor epoch, so it must be
  * probed, not keyed) replaces `listStatus` + (nBuckets+1) `exists` per
  * read — and amortizes to near-zero for repeated reads of the same
  * version, which is every refresh loop's shape.
  */
private[graft] object ReadProbeCache {

  final case class Probe(isBucketed: Boolean, dvDirs: Seq[Path])

  /** Bounded: verify/bench sessions create thousands of throwaway tables;
    * a full clear on overflow is simpler than LRU and the probe re-derives
    * in one listing. */
  private val MaxEntries = 8192
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Probe]()

  // NUL never appears in a filesystem path, so key = path NUL version NUL
  // epoch is collision-free even for paths with spaces/digits
  private def keyOf(path: String, v: Int, epoch: String) =
    path + "\u0000" + v + "\u0000" + epoch

  def probe(spark: SparkSession, path: String): Probe =
    probe(spark, new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path)

  private[graft] def probe(spark: SparkSession, fs: FileSystem,
      path: String): Probe = {
    // crashed-swap self-heal BEFORE keying: a writer that died between
    // its retire renames and its pointer write leaves a bucket with no
    // live dir at an UNCHANGED (version, epoch) — the one state the key
    // cannot see — and a scan would silently drop its rows. One `exists`
    // answers the steady state; see SwapProtocol.healCrashedSwap for
    // the live-writer grace protocol. It returns the key's version.
    val v = SwapProtocol.healCrashedSwap(spark, fs, path)
    // epoch read BEFORE deriving: a recovery racing this probe lands the
    // derived answer under the PRE-recovery epoch, so the next lookup
    // (which reads the new epoch) misses and re-derives fresh state
    val epoch = SwapProtocol.readRecoveryEpoch(fs, path)
    val key = keyOf(path, v, epoch)
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      val bucketed = graft.catalog.Catalog.isBucketedLayout(fs, path)
      val dirs =
        if (bucketed)
          graft.merge.PartitionedMerge.liveBucketDirs(fs, path)
            .map(p => new Path(p, DeletionVectors.DvDirName))
            .filter(fs.exists)
        else {
          val root = new Path(path, DeletionVectors.DvDirName)
          if (fs.exists(root)) Seq(root) else Nil
        }
      val pr = Probe(bucketed, dirs)
      if (cache.size >= MaxEntries) cache.clear()
      cache.put(key, pr)
      pr
    }
  }

  /** Drop every cached version of `path` — called by the same-JVM writers
    * (`SwapProtocol`'s commit and rollback) so a reader thread can never
    * see this process's own commit through a stale probe. */
  def invalidate(path: String): Unit = {
    val p = path + "\u0000"
    cache.keySet.removeIf((k: String) => k.startsWith(p))
    ()
  }
}
