package graft

import org.scalatest.funsuite.AnyFunSuite

/** The FAIR-scheduler pool soak ([[graft.serving.PoolSoakMain]]) in a
  * forked JVM: scheduler.mode is fixed when a SparkContext is created,
  * and the suite's shared session is FIFO, so only a fresh process can
  * run the endpoints under FAIR and count the pools Spark creates. */
class PoolSoakSpec extends AnyFunSuite {

  test("FAIR session under concurrent /dauRealtime load: rootPool children stay within poolThreads + 1") {
    val p = ForkedMain.start("graft.serving.PoolSoakMain", "/root/testdata/sf0.001")
    // readAllBytes drains until process exit (no pipe deadlock)
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, s"soak failed\n$out")
    assert(out.linesIterator.exists(_.startsWith("[poolsoak] OK:")),
      s"no OK line\n$out")
  }
}
