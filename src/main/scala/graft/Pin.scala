package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The one pin protocol of the iterative operators (CC folds, graph
  * loops, k-center, the incremental-ingest queries, the cluster store):
  * [[snap]] pins a frame eagerly, [[release]] frees what a pin holds,
  * [[keyed]] lays an edge table out for co-partitioned per-round joins,
  * and [[releaseAll]] is the driver mains' between-queries scrub. */
object Pin {

  /** Eager lineage-truncating materialization — one round of a
    * driver-looped iterative (CC / pageRank / k-center), or an operator
    * intermediate that several consumers read.
    * `localCheckpoint` by default (fast; an executor loss fails the
    * job, the job reruns — fine for a driver-looped refinement);
    * with `checkpointDir`, reliable `checkpoint()` into fault-tolerant
    * storage so a round survives executor loss on a long cluster run.
    * Both are EAGER (materialize AND truncate lineage) and release
    * through [[release]].
    *
    * The checkpoint dir is set only when the context's CURRENT dir does
    * not already live under the requested root: `setCheckpointDir`
    * mints a fresh UUID subdirectory per call AND mutates global
    * SparkContext state, so calling it per round would create N dirs
    * per N-round loop and race concurrent driver-threaded loops
    * (ADVICE r13). One loop = one subdirectory; concurrent loops
    * sharing a root share one. Loops with DIFFERENT roots on
    * concurrent threads still race the global setting — callers pass
    * one checkpoint root per session (the documented shape). */
  private[graft] def snap(df: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach { d =>
      val sc = df.sparkSession.sparkContext
      val want = {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(sc.hadoopConfiguration).makeQualified(p).toString
      }
      val alreadyUnder = sc.getCheckpointDir.exists { cur =>
        Option(new org.apache.hadoop.fs.Path(cur).getParent)
          .exists(_.toString == want)
      }
      if (!alreadyUnder) sc.setCheckpointDir(d)
    }
    if (checkpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
  }

  /** Release the materialized blocks behind a checkpoint-pinned frame:
    * its plan is a LogicalRDD, which the CacheManager doesn't track —
    * unpersist the RDD directly. No-op on frames without a pin. The walk
    * covers the WHOLE plan tree, so a lazy frame built over a live pin
    * releases that pin too: release only frames a pin produced. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Drop every DataFrame cache and every persisted RDD of the session —
    * the scrub that keeps one query's stranded blocks from squeezing the
    * next query's execution memory in a long single-JVM run. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Pin an edge table for an iterative fold: the source (often the
    * most expensive subtree of the query — codec passes, band joins) is
    * [[snap]]ped ONCE and counted ONCE, and the shuffle width is derived
    * from that count (× `rowsPerSourceRow`, for folds that symmetrize
    * each edge into two rows) through [[Tables.sizedPartitions]].
    * [[Keyed.by]] then hands out materialized copies hash-partitioned on
    * a key at that width.
    *
    * Why CACHED copies and not a keyed snap: a checkpointed LogicalRDD
    * advertises UnknownPartitioning (verified against Spark 4.1 plans,
    * r15 — plans/r15/q57_*: `Scan ExistingRDD …, UnknownPartitioning(0)`),
    * so a pinned `repartition` silently puts the edge-side exchange back
    * into EVERY round's join. An InMemoryRelation preserves its child's
    * hashpartitioning (AQE cannot re-shape a cached plan's output
    * partitioning by default), so a join against a keyed copy moves only
    * the other side — which callers re-key to `hashpartitioning(key,
    * width)` themselves: left to EnsureRequirements it would land on
    * spark.sql.shuffle.partitions, and the width MISMATCH drags the
    * cached side back into an exchange.
    *
    * The source stays pinned until [[Keyed.release]]: a recomputed cache
    * partition must still find its source blocks. Release after the
    * fold's final result is pinned — never while a lazy frame over the
    * copies is still to be walked. */
  private[graft] def keyed(source: DataFrame, rowsPerSourceRow: Int = 1,
      checkpointDir: Option[String] = None): Keyed = {
    val pinned = snap(source, checkpointDir)
    new Keyed(pinned, Tables.sizedPartitions(source.sparkSession,
      pinned.count() * rowsPerSourceRow))
  }

  /** A pinned edge source plus the keyed copies handed out from it. */
  final class Keyed private[Pin] (source: DataFrame, val width: Int) {
    private val copies = scala.collection.mutable.Buffer.empty[DataFrame]

    /** `shape(source)` hash-partitioned on `key` at [[width]], cached and
      * materialized now (one job), before concurrent readers race for it. */
    def by(key: String,
        shape: DataFrame => DataFrame = identity): DataFrame = {
      val copy = shape(source).repartition(width, col(key)).cache()
      copy.count()
      copies += copy
      copy
    }

    /** Unpersist every keyed copy, then release the source pin. */
    def release(): Unit = {
      copies.foreach(_.unpersist(blocking = false))
      Pin.release(source)
    }
  }
}
