package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.catalog.Catalog
import graft.layout.SwapProtocol

/** Chaos races over the version log (fixed-seed scalacheck): RANDOM pairs
  * of commit operations — overwrite, append, RESTORE, OPTIMIZE — fired
  * simultaneously at one table. The protocol does not promise both land;
  * it promises STRUCTURAL soundness whatever the interleaving: losers
  * fail typed (ConcurrentCommitException only), the live snapshot is
  * always readable and never mixes two writers' rows, the version count
  * advances exactly once per commit that reported success, every
  * retained version reconstructs, and vacuum leaves no staging litter.
  *
  * The rename-nesting double-commit (found only under full-suite load)
  * is exactly the class this suite hunts: invariants that hold in every
  * SEQUENTIAL test and break only in a thread interleaving.
  */
class ConcurrencyProps extends SparkSuite {
  import spark.implicits._

  private val pool = Executors.newFixedThreadPool(4)

  private def race[A](thunks: Seq[() => A]): Seq[Either[Throwable, A]] = {
    val start = new CountDownLatch(1)
    val fs = thunks.map { t =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, A]] {
        def call(): Either[Throwable, A] = {
          start.await(10, TimeUnit.SECONDS)
          try Right(t()) catch { case e: Throwable => Left(e) }
        }
      })
    }
    start.countDown()
    fs.map(_.get(120, TimeUnit.SECONDS))
  }

  test("random op pairs raced: typed losers, readable state, versions reconstruct") {
    val root = tmpDir("graft-chaos")
    val cat = new Catalog(spark, root)
    cat.overwriteSnapshot(Seq((0L, 0L)).toDF("id", "tag"), "silver", "chaos")
    val dir = cat.path("silver", "chaos")
    val p = Gen.Parameters.default
    def g[A](gen: Gen[A], s: Long): A = gen.apply(p, Seed(s)).get

    var nextTag = 1L
    def op(kind: Int): () => String = kind match {
      case 0 =>
        val tag = nextTag; nextTag += 1
        () => {
          Catalog.overwritePath(spark,
            Seq((1L, tag), (2L, tag)).toDF("id", "tag"), dir)
          s"overwrite$tag"
        }
      case 1 =>
        val tag = nextTag; nextTag += 1
        () => {
          Catalog.appendPath(spark, Seq((100L + tag, tag)).toDF("id", "tag"),
            dir)
          s"append$tag"
        }
      case 2 => () => {
        val v = math.max(1, SwapProtocol.readPointer(
          new org.apache.hadoop.fs.Path(dir).getFileSystem(
            spark.sparkContext.hadoopConfiguration), dir) - 1)
        Catalog.restorePath(spark, dir, v, 10)
        s"restore$v"
      }
      case _ => () => {
        Catalog.compactPath(spark, dir, 10)
        "optimize"
      }
    }

    (1 to 6).foreach { round =>
      val before = cat.currentVersion("silver", "chaos")
      val kinds = (g(Gen.chooseNum(0, 3), 900L * round),
        g(Gen.chooseNum(0, 3), 901L * round))
      val results = race(Seq(op(kinds._1), op(kinds._2)))
      val ok = results.collect { case Right(r) => r }
      val errs = results.collect { case Left(e) => e }
      // losers must be the TYPED conflict, nothing else
      assert(errs.forall(_.isInstanceOf[Catalog.ConcurrentCommitException]),
        s"round $round ops=$kinds: untyped failure " +
          errs.map(e => e.getClass.getName + ": " + e.getMessage))
      // one version per committing success — plain OPTIMIZE legitimately
      // no-ops (and commits nothing) when the table is already packed
      val after = cat.currentVersion("silver", "chaos")
      val committing = ok.count(_ != "optimize")
      assert(after >= before + committing && after <= before + ok.size,
        s"round $round ops=$kinds winners=$ok: version $before -> $after")
      // live state readable and single-sourced: one tag for overwrite
      // rows, appends only add distinct high ids
      val live = cat.read("silver", "chaos")
      val tags = live.filter(org.apache.spark.sql.functions.col("id") < 100L)
        .select("tag").distinct().collect().map(_.getLong(0))
      assert(tags.length <= 1,
        s"round $round: mixed overwrite generations ${tags.toSeq}")
      // every retained version reconstructs
      (math.max(1, after - 3) to after).foreach { v =>
        assert(cat.readVersion("silver", "chaos", v).count() > 0,
          s"round $round: version $v unreadable")
      }
    }
    cat.vacuum("silver", "chaos")
    val parent = new org.apache.hadoop.fs.Path(dir).getParent
    val f = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.listStatus(parent).map(_.getPath.getName)
      .exists(_.startsWith("chaos.tmp")), "staging litter after vacuum")
  }
}
