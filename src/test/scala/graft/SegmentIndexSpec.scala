package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.{DedupOps, SimilarityOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming admission writer every admitting segment index shares
  * (`graft.sinks.SegmentIndex.admit`), one row per family: a negative
  * batch id is refused before it can touch the bootstrap's `ingest=-1`
  * segments, and a bootstrap at -1 survives batch 0, whose replay
  * reproduces its admitted output exactly. */
class SegmentIndexSpec extends SparkSpec {
  import spark.implicits._

  /** `view` projects the admitted rows onto the columns `admitted`
    * (rendered as Row strings) pins after batch 0. */
  private case class Family(name: String, tables: Seq[String],
      build: (DataFrame, String) => Unit,
      writer: (String, String) => (DataFrame, Long) => Unit,
      bootstrap: DataFrame, batch: DataFrame, view: Seq[String],
      admitted: Set[String])

  private val text = ("the quick brown fox jumps over the lazy dog " * 8).trim
  private val other = ("completely different content about spark engines " * 9).trim
  private val third = ("yet another unrelated corpus line with many words here " * 8).trim

  private val rnd = new java.util.Random(4242L)
  private def unit(a: Seq[Double]) = {
    val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n)
  }
  private def gauss() = unit(Seq.fill(64)(rnd.nextGaussian()))
  private val base = gauss()
  private val vecOther = gauss()
  private val vecThird = gauss()
  private val near = unit(base.zip(gauss()).map { case (x, g) => x + 0.2 * g })

  private def span(tag: String) = (1 to 24).map(i => s"$tag$i").mkString(" ")

  private val families = Seq(
    // batch 0: 10 is a near-dup of the bootstrap's 0, 11 is novel
    Family("text", Seq("bands", "docs"), DedupOps.lshIndex.build(_, _, -1L),
      (idx, out) => DedupOps.lshIndex.writer(idx, out, 0.5, None) _,
      Seq((0L, text), (1L, other)).toDF("doc_id", "text"),
      Seq((10L, text.replaceFirst("lazy", "sleepy")), (11L, third))
        .toDF("doc_id", "text"),
      Seq("doc_id"), Set("[11]")),
    Family("emb", Seq("bands", "vecs"), SimilarityOps.embIndex(64).build(_, _, -1L),
      (idx, out) => SimilarityOps.embIndex(64).writer(idx, out, 0.9, None) _,
      Seq((0L, base), (1L, vecOther)).toDF("vec_id", "v"),
      Seq((10L, near), (11L, vecThird)).toDF("vec_id", "v"),
      Seq("vec_id"), Set("[11]")),
    // batch 0: doc 10's first span is the bootstrap's, its second is new
    Family("chunk", Seq("chunks"), TextOps.buildChunkIndex(_, _),
      (idx, out) => TextOps.streamingChunkDedupWriter(idx, out) _,
      Seq((1L, span("s"))).toDF("doc_id", "text"),
      Seq((10L, span("s") + " " + span("f"))).toDF("doc_id", "text"),
      Seq("doc_id", "n_chunks", "n_kept"), Set("[10,2,1]")))

  /** tools/stores.py's fingerprint — (relative path, size, mtime) per
    * file — over every table's bootstrap segment. */
  private def bootstrapPrint(idx: String, tables: Seq[String]) =
    tables.map { t =>
      val seg = Paths.get(s"$idx/$t/ingest=-1")
      assert(Files.isDirectory(seg), s"no bootstrap segment at $seg")
      t -> Files.walk(seg).iterator.asScala
        .filter(Files.isRegularFile(_, LinkOption.NOFOLLOW_LINKS))
        .map((f: Path) => (seg.relativize(f).toString, Files.size(f),
          Files.getLastModifiedTime(f, LinkOption.NOFOLLOW_LINKS).toString))
        .toSet
    }.toMap

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  families.foreach { f =>
    test(s"${f.name}: a negative batch id is refused and leaves the bootstrap untouched") {
      val dir = Files.createTempDirectory(s"segidx_neg_${f.name}").toString
      val idx = s"$dir/index"
      f.build(f.bootstrap, idx)
      val before = bootstrapPrint(idx, f.tables)
      intercept[IllegalArgumentException] {
        f.writer(idx, s"$dir/out")(f.batch, -1L)
      }
      assert(bootstrapPrint(idx, f.tables) == before,
        "a refused batch -1 rewrote the bootstrap segment")
      assert(!Files.exists(Paths.get(s"$dir/out/admitted/ingest=-1")))
    }

    test(s"${f.name}: a bootstrap at -1 survives batch 0, and replaying batch 0 reproduces it") {
      val dir = Files.createTempDirectory(s"segidx_replay_${f.name}").toString
      val idx = s"$dir/index"
      f.build(f.bootstrap, idx)
      val boot = bootstrapPrint(idx, f.tables)
      val w = f.writer(idx, s"$dir/out")
      def admitted() = spark.read.parquet(s"$dir/out/admitted/ingest=0")
      def segment(t: String) =
        rows(spark.read.parquet(s"$idx/$t/ingest=0").drop("bmod"))
      w(f.batch, 0L)
      assert(bootstrapPrint(idx, f.tables) == boot,
        "batch 0 rewrote the bootstrap segment")
      assert(rows(admitted().select(f.view.map(col): _*)) == f.admitted,
        "batch 0 did not see the bootstrap")
      val first = rows(admitted())
      val firstSegs = f.tables.map(segment)
      // the retry sees its own first attempt's segment on disk; the
      // probe's in-flight exclusion must make that invisible
      w(f.batch, 0L)
      assert(rows(admitted()) == first, "replaying batch 0 changed its admitted rows")
      assert(f.tables.map(segment) == firstSegs, "replaying batch 0 changed its segment")
      assert(bootstrapPrint(idx, f.tables) == boot)
    }
  }
}
