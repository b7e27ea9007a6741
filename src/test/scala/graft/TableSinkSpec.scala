package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** Streaming INTO a graft table (`writeStream.format("graft-table")`):
  * per-epoch versioned commits, epoch-replay idempotence, complete-mode
  * overwrites, and the full table→table loop (graft source → graft sink)
  * with checkpointed restart continuity. */
class TableSinkSpec extends SparkSuite {
  import spark.implicits._

  private def freshCat() = {
    val wh = tmpDir("graft-tsink")
    (new graft.catalog.Catalog(spark, wh), wh)
  }

  private def drainOnce(df: org.apache.spark.sql.DataFrame, dest: String,
      checkpoint: String, mode: String = "append"): Unit = {
    val q = df.writeStream.format("graft-table")
      .option("path", dest).option("checkpointLocation", checkpoint)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }

  test("table→table loop: source rows land as versioned appends, exactly once across restarts") {
    val (cat, _) = freshCat()
    cat.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "bronze", "src")
    val srcDir = cat.path("bronze", "src")
    val dstDir = tmpDir("tsink-dst") + "/t"
    val ckpt = tmpDir("tsink-ckpt")
    def stream = spark.readStream.format("graft-table")
      .option("path", srcDir).load()

    drainOnce(stream, dstDir, ckpt)
    assert(rowsOf(graft.layout.DeletionVectors.readPath(spark, dstDir), "id").map(_.head) ==
      Seq(1L, 2L), "first drain must land the initial snapshot")
    val v1 = SwapProtocol.readPointer(
      new org.apache.hadoop.fs.Path(dstDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration), dstDir)

    cat.append(Seq((3L, "c")).toDF("id", "v"), "bronze", "src")
    drainOnce(stream, dstDir, ckpt)
    assert(rowsOf(graft.layout.DeletionVectors.readPath(spark, dstDir), "id").map(_.head) ==
      Seq(1L, 2L, 3L), "restart must append exactly the new rows")

    // an idle drain commits nothing: no empty versions pile up
    // (AvailableNow with no new offset runs zero batches)
    val v2 = SwapProtocol.readPointer(
      new org.apache.hadoop.fs.Path(dstDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration), dstDir)
    drainOnce(stream, dstDir, ckpt)
    val v3 = SwapProtocol.readPointer(
      new org.apache.hadoop.fs.Path(dstDir).getFileSystem(
        spark.sparkContext.hadoopConfiguration), dstDir)
    assert(v2 > v1, "second drain must commit a new version")
    assert(v3 == v2, "idle drain must not commit")

    // history records the streaming operation
    val ops = Catalog.historyRows(spark, dstDir).map(_._6)
    assert(ops.contains("STREAMING APPEND"), s"history ops were $ops")
  }

  test("epoch replay is a no-op: the same batch id never commits twice") {
    val dstDir = tmpDir("tsink-replay") + "/t"
    val provider = new graft.streaming.GraftTableSourceProvider
    val sink = provider.createSink(spark.sqlContext,
      Map("path" -> dstDir), Nil, OutputMode.Append())
    val batch = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    sink.addBatch(0L, batch)
    sink.addBatch(0L, batch) // crash-between-commit-and-checkpoint replay
    assert(graft.layout.DeletionVectors.readPath(spark, dstDir).count() == 2,
      "replayed epoch must not double-append")
    sink.addBatch(1L, Seq((3L, "z")).toDF("id", "v"))
    assert(graft.layout.DeletionVectors.readPath(spark, dstDir).count() == 3)
    // stale epoch below the high-water mark is likewise skipped
    sink.addBatch(0L, batch)
    assert(graft.layout.DeletionVectors.readPath(spark, dstDir).count() == 3)
  }

  test("complete mode: each epoch replaces the table with the current aggregate") {
    val (cat, _) = freshCat()
    cat.create(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "k"),
      "bronze", "src2")
    val srcDir = cat.path("bronze", "src2")
    val dstDir = tmpDir("tsink-agg") + "/t"
    val ckpt = tmpDir("tsink-aggck")
    def agg = spark.readStream.format("graft-table")
      .option("path", srcDir).load()
      .groupBy("k").agg(count(lit(1)).as("n"))

    drainOnce(agg, dstDir, ckpt, mode = "complete")
    assert(rowsOf(graft.layout.DeletionVectors.readPath(spark, dstDir), "k") ==
      Seq(Seq("a", 2L), Seq("b", 1L)))

    cat.append(Seq((4L, "b"), (5L, "b")).toDF("id", "k"), "bronze", "src2")
    drainOnce(agg, dstDir, ckpt, mode = "complete")
    assert(rowsOf(graft.layout.DeletionVectors.readPath(spark, dstDir), "k") ==
      Seq(Seq("a", 2L), Seq("b", 3L)),
      "complete mode must reflect the full re-emitted aggregate")
  }

  test("update mode is refused; bucketed targets are refused by the append") {
    val provider = new graft.streaming.GraftTableSourceProvider
    intercept[IllegalArgumentException] {
      provider.createSink(spark.sqlContext,
        Map("path" -> (tmpDir("tsink-upd") + "/t")), Nil,
        OutputMode.Update())
    }
  }
}
