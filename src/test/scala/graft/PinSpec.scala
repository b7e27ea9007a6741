package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions.col

/** The layout contract [[Pin.keyed]] exists for: a keyed copy joins a
  * frame hash-partitioned on the same key at the same width without an
  * exchange on the keyed side, while a checkpoint of the SAME keyed frame
  * advertises no partitioning and is shuffled again. The iterative folds
  * (CC, PageRank, HITS, label propagation, seed distance) rely on the
  * first half every round; the second half is the Spark behaviour that
  * makes the cached copy necessary. */
class PinSpec extends SparkSuite {

  private val nRows = 4000L

  private def edges: DataFrame = spark.range(0, nRows)
    .select((col("id") % 101).as("k"), col("id").as("v"))

  private def withWidthConf[T](body: => T): T = {
    spark.conf.set("graft.shuffle.rowsPerPartition", "1500")
    spark.conf.set("graft.shuffle.maxPartitions", "16")
    try body
    finally {
      spark.conf.unset("graft.shuffle.rowsPerPartition")
      spark.conf.unset("graft.shuffle.maxPartitions")
    }
  }

  /** Joins `edgeSide` with a frame keyed on `k` at `width` and returns,
    * for every scan of a pinned frame in the final plan (a cached copy's
    * InMemoryTableScan or a checkpoint's RDD scan), whether an Exchange
    * sits above it. */
  private def pinnedScansUnderExchange(edgeSide: DataFrame,
      width: Int): Seq[Boolean] = {
    val other = spark.range(0, 101)
      .select(col("id").as("k"), (col("id") * 2).as("w"))
      .repartition(width, col("k"))
    val joined = edgeSide.join(other.hint("SHUFFLE_HASH"), "k")
    assert(joined.collect().length == nRows)
    def walk(p: SparkPlan, under: Boolean): Seq[Boolean] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, under)
      case s: QueryStageExec => walk(s.plan, under)
      case _: InMemoryTableScanExec | _: RDDScanExec => Seq(under)
      case r: ReusedExchangeExec => walk(r.child, under = true)
      case e: Exchange => e.children.flatMap(walk(_, under = true))
      case o => o.children.flatMap(walk(_, under))
    }
    walk(joined.queryExecution.executedPlan, under = false)
  }

  test("widths come from the pinned source's count, times rowsPerSourceRow") {
    withWidthConf {
      val plain = Pin.keyed(edges)
      val doubled = Pin.keyed(edges, rowsPerSourceRow = 2)
      try {
        assert(plain.width == 3) // ceil(4000 / 1500)
        assert(doubled.width == 6) // ceil(8000 / 1500)
      } finally { plain.release(); doubled.release() }
    }
  }

  test("a keyed copy joins a frame keyed at its width with no exchange " +
      "above its InMemoryTableScan") {
    withWidthConf {
      val pin = Pin.keyed(edges)
      try {
        val scans = pinnedScansUnderExchange(pin.by("k"), pin.width)
        assert(scans.nonEmpty, "no InMemoryTableScan in the join plan")
        assert(!scans.contains(true),
          "the keyed copy was shuffled again for a co-partitioned join")
      } finally pin.release()
    }
  }

  test("the same join over a snap of the keyed frame exchanges its side") {
    withWidthConf {
      val width = 3
      val snapped = Pin.snap(edges.repartition(width, col("k")))
      try {
        val scans = pinnedScansUnderExchange(snapped, width)
        assert(scans.nonEmpty, "no checkpoint scan in the join plan")
        assert(scans.forall(identity),
          "a checkpointed frame now keeps its hash partitioning — " +
            "Pin.keyed's cached copies may no longer be needed")
      } finally Pin.release(snapped)
    }
  }

  test("release unpersists every keyed copy and the source pin") {
    Pin.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    val pin = Pin.keyed(edges)
    pin.by("k")
    pin.by("v", _.select(col("v"), col("k")))
    assert(spark.sparkContext.getPersistentRDDs.size == before + 3)
    pin.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
