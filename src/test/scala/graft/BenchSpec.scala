package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import scala.jdk.CollectionConverters._

/** The bench's own passes, driven on a private copy of the sf0.001
  * fixture: [[Bench.prepare]] builds every stored layout the timed
  * queries serve from, [[Bench.time]] then builds and rewrites nothing,
  * and a failed query poisons the total. Plus the input check and the
  * rule that picks the detail artifact. */
class BenchSpec extends SparkSpec {

  private val boom: Bench.Query =
    (_, _) => throw new IllegalStateException("planted failure")

  test("a run with a crashed query can never clobber an existing artifact (round-10 q105 clobber)") {
    // failed + a previous artifact → .failed sidecar
    assert(Bench.detailTarget(prefixRun = false, anyFailed = true,
      prevExists = true).contains("bench_detail.failed.json"))
    // no previous artifact at all: a failed record beats no record
    assert(Bench.detailTarget(prefixRun = false, anyFailed = true,
      prevExists = false).contains("bench_detail.json"))
    assert(Bench.detailTarget(prefixRun = false, anyFailed = false,
      prevExists = true).contains("bench_detail.json"))
    // prefix-filtered profiling run: never writes, regardless of state
    assert(Bench.detailTarget(prefixRun = true, anyFailed = true,
      prevExists = false).isEmpty)
  }

  test("time refuses fewer than one iteration before running any query") {
    val runs = new java.util.concurrent.atomic.AtomicInteger()
    val counted: Bench.Query = (s, _) => { runs.incrementAndGet(); s.range(1).toDF() }
    for (iters <- Seq(0, -1))
      intercept[IllegalArgumentException] {
        Bench.time(spark, sf0001, Seq("q_counted" -> counted), iters)
      }
    assert(runs.get == 0, "no query may run on an invalid iteration count")
  }

  test("median: the middle pair's mean on even counts; a short run is failed at -1") {
    assert(Bench.Meas(Seq(3.0, 1.0), 2).median == 2.0)
    assert(Bench.Meas(Seq(5.0, 1.0, 2.0), 3).median == 2.0)
    val short = Bench.Meas(Seq(1.0), 3)
    assert(short.failed && short.median == -1.0 && short.min == 1.0)
    assert(Bench.total(Seq("a" -> Bench.Meas(Seq(1.0), 1),
      "b" -> Bench.Meas(Seq(2.0), 1))) == 3.0)
  }

  test("prepare builds every store; the timed pass builds none; a failure poisons total") {
    val fixture = Files.createTempDirectory("bench-fixture")
    Files.list(Paths.get(sf0001)).iterator.asScala.foreach(copyTree(_, fixture))
    val d = fixture.toString
    // Lifecycle tags start with the md5 prefix of the fixture dir, so
    // every layout below belongs to this private copy alone
    val id = functions.Scalars.md5Hex(d.getBytes("UTF-8")).take(12)
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    def layouts(): Seq[Path] =
      Files.list(tmp).iterator.asScala.toSeq
        .filter(k => k.getFileName.toString.startsWith("graft-") && Files.isDirectory(k))
        .flatMap(k => Files.list(k).iterator.asScala.toSeq
          .filter(_.getFileName.toString.startsWith(id)))
        .sortBy(_.toString)
    // tools/stores.py's fingerprint: (relative path, size, mtime) per file
    def fingerprint(): Map[Path, Set[(String, Long, String)]] =
      layouts().map { l =>
        l -> Files.walk(l).iterator.asScala
          .filter(Files.isRegularFile(_, LinkOption.NOFOLLOW_LINKS))
          .map(f => (l.relativize(f).toString, Files.size(f),
            Files.getLastModifiedTime(f, LinkOption.NOFOLLOW_LINKS).toString))
          .toSet
      }.toMap
    val all = SparkEntry.queries
    val queries = Seq("q01_pricing_summary", "q105_ann_lsh_stream",
      "q98_bucketed_snapshot").map(n => n -> all(n))
    try {
      assert(layouts().isEmpty)
      Bench.prepare(spark, d, queries)
      val built = layouts()
      val kinds = built.map(_.getParent.getFileName.toString).toSet
      assert(Set("graft-annlsh-stream", "graft-bktlive").subsetOf(kinds),
        s"q105's or q98's stored state was not built: $built")
      built.foreach(l => assert(Files.exists(l.resolve("__done")),
        s"$l is not a complete layout"))
      val before = fingerprint()
      val meas = Bench.time(spark, d, queries :+ ("q_boom" -> boom), 2).toMap
      assert(fingerprint() == before, "the timed pass rebuilt or added a store")
      queries.foreach { case (n, _) =>
        assert(meas(n).times.size == 2 && meas(n).median > 0, s"$n: ${meas(n)}")
      }
      assert(meas("q_boom").median == -1.0)
      assert(Bench.total(meas.toSeq) == -1.0)
    } finally {
      layouts().foreach(deleteTree)
      deleteTree(fixture)
    }
  }

  private def copyTree(src: Path, destDir: Path): Unit = {
    val dest = destDir.resolve(src.getFileName.toString)
    if (Files.isDirectory(src)) {
      Files.createDirectory(dest)
      Files.list(src).iterator.asScala.foreach(copyTree(_, dest))
    } else Files.copy(src, dest)
  }

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
