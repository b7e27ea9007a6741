package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.catalog.Catalog
import graft.layout.DeletionVectors
import graft.layout.SwapProtocol

/** Model-based fuzz of the deletion-vector lifecycle composed with every
  * other table op — [[VersionLogProps]]' harness with merge-on-read DML
  * in the alphabet. Random sequences of overwrite / append / DELETE /
  * UPDATE / mode-flip / materialize / OPTIMIZE / RESTORE run against a
  * table whose DV mode toggles mid-history, while a Scala map-model
  * tracks expected content; the live read must equal the model after
  * EVERY op and every retained version must reconstruct exactly. This is
  * where sidecar-vs-link interplay bugs live: a delete after a restore,
  * an update over an existing sidecar, an append linking a deleted file,
  * a materialize racing retention. */
class DvProps extends SparkSuite {
  import spark.implicits._

  private def rowsGen(lo: Long, hi: Long): Gen[Map[Long, Long]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, for {
      k <- Gen.chooseNum(lo, hi)
      v <- Gen.chooseNum(-9L, 9L)
    } yield (k, v)).map(_.toMap))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("random DV/CoW op sequences: live state tracks the model, versions reconstruct") {
    (1 to 3).foreach { c =>
      val cat = new Catalog(spark, tmpDir(s"graft-dvprops$c"))
      val tbl = s"dt$c"
      val dir = cat.path("gold", tbl)
      def df(m: Map[Long, Long]) =
        if (m.isEmpty) spark.emptyDataset[(Long, Long)].toDF("id", "v")
        else m.toSeq.toDF("id", "v")
      def live(): Map[Long, Long] =
        cat.read("gold", tbl).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
      var state = sample(rowsGen(1, 20), c * 10L)
      cat.overwriteSnapshot(df(state), "gold", tbl)
      // odd cases start merge-on-read so DV DML is exercised even if the
      // sampled op string never draws the mode flip
      if (c % 2 == 1) cat.enableDeletionVectors("gold", tbl)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      var recorded = Map(SwapProtocol.readPointer(fs, dir) -> state)

      val ops = sample(Gen.listOfN(10, Gen.chooseNum(0, 7)), c * 77L)
      ops.zipWithIndex.foreach { case (op, i) =>
        op match {
          case 0 => // overwrite with a fresh random table
            state = sample(rowsGen(1, 20), c * 10L + i + 1)
            cat.overwriteSnapshot(df(state), "gold", tbl)
          case 1 => // append fresh ids (links any live sidecar forward)
            val add = sample(rowsGen(100L + i * 10, 100L + i * 10 + 5),
              c * 20L + i)
            if (add.nonEmpty) {
              cat.append(df(add), "gold", tbl)
              state = state ++ add
            }
          case 2 => // row-level DELETE (merge-on-read iff mode is on)
            val m = 2 + (i % 3)
            cat.deleteWhere("gold", tbl, col("id") % m === 0)
            state = state.filterNot { case (k, _) => k % m == 0 }
          case 3 => // row-level UPDATE (merge-on-read iff mode is on)
            val m = 2 + ((i + 1) % 3)
            cat.updateWhere("gold", tbl, col("id") % m === 0,
              Seq("v" -> (col("v") + 100L)))
            state = state.map { case (k, v) =>
              if (k % m == 0) k -> (v + 100L) else k -> v }
          case 4 => // flip the DML mode mid-history
            if (DeletionVectors.isEnabled(spark, dir))
              cat.disableDeletionVectors("gold", tbl)
            else cat.enableDeletionVectors("gold", tbl)
          case 5 => // fold any sidecar into rewritten files
            cat.materializeDeletes("gold", tbl)
          case 6 => // OPTIMIZE: layout only, purges sidecars
            cat.compact("gold", tbl, targetFileSize = 1L << 20)
          case 7 => // RESTORE to a random recorded version
            val (v, content) = recorded.toSeq(
              sample(Gen.chooseNum(0, recorded.size - 1), c * 30L + i))
            cat.restore("gold", tbl, v)
            state = content
        }
        assert(live() == state,
          s"case $c op $i (#$op): live state diverged from the model " +
            s"(dvMode=${DeletionVectors.isEnabled(spark, dir)}, " +
            s"hasDv=${DeletionVectors.hasDv(spark, dir)})")
        recorded += SwapProtocol.readPointer(fs, dir) -> state
      }
      // every retained version reconstructs (DV-applied where a retired
      // version carries its own sidecar)
      val cur = SwapProtocol.readPointer(fs, dir)
      recorded.filter(_._1 > cur - 10).foreach { case (v, expect) =>
        val got = cat.readVersion("gold", tbl, v).collect()
          .map(r => r.getAs[Long]("id") -> r.getAs[Long]("v")).toMap
        assert(got == expect,
          s"case $c: VERSION AS OF $v diverged from the model")
      }
      // vacuum reclaims staging leftovers without touching live state
      cat.vacuum("gold", tbl)
      assert(live() == state, s"case $c: vacuum changed live state")
    }
  }
}
