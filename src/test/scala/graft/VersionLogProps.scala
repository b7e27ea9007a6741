package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** Model-based fuzz of the snapshot/version-log lifecycle — the layer
  * every other component (MERGE, MVs, CDF, time travel) rides on. A
  * random sequence of overwrite / append / DELETE FROM / RESTORE /
  * OPTIMIZE-compact ops runs against a catalog table while a plain Scala
  * map-model tracks what every committed version should contain; after
  * every op the live read must equal the model, and at the end every
  * retained version must reconstruct exactly (time travel is only as
  * good as the log under arbitrary op interleavings — restore-then-
  * append, compact-preserves-content, delete-after-restore).
  * Fixed-seed sampling (the MergeProps pattern). */
class VersionLogProps extends SparkSuite {
  import spark.implicits._

  private def rowsGen(lo: Long, hi: Long): Gen[Map[Long, Long]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.chooseNum(lo, hi)
      v <- Gen.chooseNum(-9L, 9L)
    } yield (k, v)).map(_.toMap))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("random op sequences: live state tracks the model, every version reconstructs") {
    (1 to 3).foreach { c =>
      val cat = new Catalog(spark, tmpDir(s"graft-vlprops$c"))
      val tbl = s"vt$c"
      def df(m: Map[Long, Long]) =
        if (m.isEmpty) spark.emptyDataset[(Long, Long)].toDF("id", "v")
        else m.toSeq.toDF("id", "v")
      def live(): Map[Long, Long] =
        cat.read("gold", tbl).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
      // model: (pointer version -> expected content) after each op
      var state = sample(rowsGen(1, 20), c * 10L)
      cat.overwriteSnapshot(df(state), "gold", tbl)
      cat.register("gold", tbl)
      var recorded = Map(SwapProtocol.readPointer(
        new org.apache.hadoop.fs.Path(cat.path("gold", tbl))
          .getFileSystem(spark.sparkContext.hadoopConfiguration),
        cat.path("gold", tbl)) -> state)
      val fs = new org.apache.hadoop.fs.Path(cat.path("gold", tbl))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

      val ops = sample(Gen.listOfN(6, Gen.chooseNum(0, 4)), c * 77L)
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case 0 => // overwrite with a fresh random table
            state = sample(rowsGen(1, 20), c * 10L + i + 1)
            cat.overwriteSnapshot(df(state), "gold", tbl)
          case 1 => // append fresh ids only (ids 100+ never collide)
            val add = sample(rowsGen(100L + i * 10, 100L + i * 10 + 5),
              c * 20L + i)
            if (add.nonEmpty) {
              Catalog.appendPath(spark, df(add), cat.path("gold", tbl))
              state = state ++ add
            }
          case 2 => // row-level DELETE through the SQL surface
            val m = 2 + (i % 3)
            graft.sql.GraftSql.sql(spark,
              s"DELETE FROM gold.$tbl WHERE id % $m = 0")
            state = state.filterNot { case (k, _) => k % m == 0 }
          case 3 => // RESTORE to a random recorded version (new commit)
            val (v, content) = recorded.toSeq(
              sample(Gen.chooseNum(0, recorded.size - 1), c * 30L + i))
            cat.restore("gold", tbl, v)
            state = content
          case 4 => // OPTIMIZE-compact: layout only, content identical
            cat.compact("gold", tbl, targetFileSize = 1L << 20)
        }
        assert(live() == state,
          s"case $c op $i (#$op): live state diverged from the model")
        recorded += SwapProtocol.readPointer(fs, cat.path("gold", tbl)) -> state
      }
      // every recorded version still inside the retention window must
      // reconstruct exactly what the model says it contained
      val cur = SwapProtocol.readPointer(fs, cat.path("gold", tbl))
      recorded.filter(_._1 > cur - 10).foreach { case (v, expect) =>
        val got = cat.readVersion("gold", tbl, v).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
        assert(got == expect,
          s"case $c: VERSION AS OF $v diverged from the model")
      }
      spark.sql(s"DROP TABLE gold.$tbl")
    }
  }
}
