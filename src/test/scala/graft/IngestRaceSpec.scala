package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The REAL cross-process IngestSegments race (r16 verdict task 7): a
  * pruned prober and a live compactor genuinely concurrent on one
  * bucket-partitioned table. The single-process specs pin the retry
  * contract's branches with a deterministic hook; only an actual race
  * proves they compose: across every probe that RETURNED, the distinct
  * key set was exact (zero misreads — the admit-every-duplicate
  * failure), and every probe that could not return failed LOUDLY (the
  * streaming-retry contract), never silently small. */
class IngestRaceSpec extends AnyFunSuite {

  test("prober vs compactor on one segment table: zero misreads, loud-only failures, both sides make progress") {
    val base = Files.createTempDirectory("ingest_race").toString
    val path = s"$base/table"
    def spawn(role: String): Process =
      ForkedMain.start("graft.IngestRaceMain", base, path, role)
    val ps = Seq(spawn("compactor"), spawn("prober"))
    val deadline = System.currentTimeMillis() + 120000
    while (!Seq("compactor", "prober").forall(r =>
      new java.io.File(s"$base/ready-$r").exists())) {
      assert(System.currentTimeMillis() < deadline, "racers never readied")
      assert(ps.forall(_.isAlive), "a racer died before the barrier")
      Thread.sleep(20)
    }
    Files.writeString(java.nio.file.Path.of(s"$base/go"), "go")
    val outs = ps.map(p => new String(p.getInputStream.readAllBytes()))
    val codes = ps.map(_.waitFor())
    assert(codes == Seq(0, 0),
      s"a racer failed (MISREAD = silent row loss)\n${outs.mkString("\n---\n")}")
    val cycles = outs.flatMap(_.linesIterator.find(_.startsWith("CYCLES ")))
      .head.stripPrefix("CYCLES ").toLong
    val probeLine = outs.flatMap(_.linesIterator.find(_.startsWith("PROBES ")))
      .head.split(' ')
    val (probes, loud) = (probeLine(1).toLong, probeLine(3).toLong)
    // liveness: the race must have actually happened — several full
    // compaction cycles interleaved with several exact probes
    assert(cycles >= 2, s"compactor made no churn (cycles=$cycles)")
    assert(probes >= 3,
      s"prober never got an exact read under churn (probes=$probes, loud=$loud)")
  }
}
