package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

class AtomicPointerSpec extends AnyFunSuite {

  test("commitExclusive: one winner, its payload intact, no temp left") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ptr").toFile
    val conf = new Configuration()
    val p = new Path(dir.toString, "LAYOUT")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val racers = (0 until 4).map { i =>
        pool.submit(() => { start.await(); i -> AtomicPointer.commitExclusive(conf, p, s"payload-$i") })
      }
      start.countDown()
      val won = racers.map(_.get()).collect { case (i, true) => i }
      assert(won.size == 1, won)
      assert(AtomicPointer.read(conf, p).contains(s"payload-${won.head}"))
      // a later first-committer loses too, and leaves the payload alone
      assert(!AtomicPointer.commitExclusive(conf, p, "late"))
      assert(AtomicPointer.read(conf, p).contains(s"payload-${won.head}"))
      assert(dir.list().toSeq.filterNot(_.startsWith(".")) == Seq("LAYOUT"), dir.list().toSeq)
      assert(!dir.list().exists(_.endsWith(".tmp")), dir.list().toSeq)
    } finally pool.shutdownNow()
  }
}
