package graft

import org.apache.hadoop.fs.Path

import graft.layout.SwapProtocol

/** The put-if-absent publish primitive in isolation: kernel-atomic on
  * the local FS (hard link), exactly-one-winner under a thread race,
  * and OBSERVABLE when it ever degrades to the non-atomic rename path
  * (the degradation counter must stay zero on a healthy local FS). And
  * the protocol's ownership: no code outside it renames or reads a small
  * file by hand. */
class SwapProtocolSpec extends SparkSuite {

  private def fs(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stage(dir: String, content: String): Path = {
    val f = fs(dir)
    val p = new Path(dir,
      ".staged-" + java.util.UUID.randomUUID().toString.take(8))
    val out = f.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    p
  }

  test("exactly one of N racing publishers wins; the target carries the " +
      "winner's full content; local FS never takes the non-atomic path") {
    val dir = tmpDir("graft-swap")
    val f = fs(dir)
    val target = new Path(dir, "claim")
    val before = SwapProtocol.nonAtomicPublishes.get()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val futs = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            val s = stage(dir, s"writer-$i")
            start.await(10, java.util.concurrent.TimeUnit.SECONDS)
            SwapProtocol.publishIfAbsent(f, s, target)
          }
        })
      }
      start.countDown()
      val wins = futs.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(wins.count(identity) == 1, s"winners: ${wins.count(identity)}")
      val got = SwapProtocol.readSmallFile(f, target)
      assert(got.startsWith("writer-"), s"target content: $got")
      // every loser's staged file was consumed
      assert(f.listStatus(new Path(dir)).map(_.getPath.getName).toSeq
        .filter(_.startsWith(".staged-")).isEmpty)
      assert(SwapProtocol.nonAtomicPublishes.get() == before,
        "local-FS publish degraded to the non-atomic rename path")
    } finally pool.shutdown()
  }

  test("publish against an existing target loses without touching it") {
    val dir = tmpDir("graft-swap2")
    val f = fs(dir)
    val target = new Path(dir, "claim")
    assert(SwapProtocol.publishIfAbsent(f, stage(dir, "first"), target))
    assert(!SwapProtocol.publishIfAbsent(f, stage(dir, "second"), target))
    assert(SwapProtocol.readSmallFile(f, target) == "first")
  }

  test("the protocol owns every rename and small-file read in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SwapProtocol.scala").toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val offenders = files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i)
            if l.contains(".rename(") || l.contains("fromInputStream") =>
          s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty, "renames and small-file reads go through " +
      "SwapProtocol (move, writeSmallFile, readSmallFile):\n" +
      offenders.mkString("\n"))
  }
}
