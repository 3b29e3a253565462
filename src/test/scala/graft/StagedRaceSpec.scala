package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The REAL cross-process StagedLayout race: two forked JVMs
  * ([[StagedRaceMain]]) genuinely concurrent on one path — the
  * modeled post-race states in SinkHardeningSpec pin the protocol's
  * branches, but only an actual race proves the branches compose:
  * exactly one rename wins, the loser serves the winner's COMPLETE
  * copy (never its own discarded stage, never a torn directory), and
  * nothing leaks beside or inside the published path. */
class StagedRaceSpec extends AnyFunSuite {

  test("two JVMs racing ensure() on one path: one winner, both serve its complete copy, zero torn serves or leaks, across repeated races") {
    for (race <- 1 to 3) {
      val base = Files.createTempDirectory(s"staged_race_$race").toString
      val path = s"$base/layout"
      def spawn(id: Int): Process =
        ForkedMain.start("graft.StagedRaceMain", base, path, id.toString)
      val ps = Seq(spawn(1), spawn(2))
      // wait for both JVMs to be inside the protocol, then drop the
      // barrier so the ensure() calls start together
      val deadline = System.currentTimeMillis() + 120000
      while (!Seq(1, 2).forall(i =>
        new java.io.File(s"$base/ready-$i").exists())) {
        assert(System.currentTimeMillis() < deadline, "racers never readied")
        assert(ps.forall(_.isAlive), "a racer died before the barrier")
        Thread.sleep(20)
      }
      Files.writeString(java.nio.file.Path.of(s"$base/go"), "go")
      // readAllBytes drains until process exit (no pipe deadlock)
      val outs = ps.map(p => new String(p.getInputStream.readAllBytes()))
      val codes = ps.map(_.waitFor())
      assert(codes == Seq(0, 0),
        s"race $race: a racer failed\n${outs.mkString("\n---\n")}")
      val serves = outs.map(_.linesIterator.find(_.startsWith("SERVED "))
        .getOrElse(fail(s"race $race: no SERVED line")))
      // ONE copy serves both processes — a loser serving its own
      // discarded build (or a torn mix) would print a different payload
      assert(serves.distinct.size == 1,
        s"race $race: processes served different copies: $serves")
      // no stage leaked beside the path, none buried inside it
      val siblings = new java.io.File(base).listFiles().map(_.getName)
        .filter(_.contains(".stage-"))
      assert(siblings.isEmpty, s"race $race: leaked stages: ${siblings.toSeq}")
      val children = new java.io.File(path).listFiles().map(_.getName)
        .filter(_.contains(".stage-"))
      assert(children.isEmpty, s"race $race: buried stages: ${children.toSeq}")
    }
  }
}
