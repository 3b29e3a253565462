package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The ONE build-once protocol behind every stored layout: the ingest
  * lifecycles (the fold+tail, replay and retraction states the
  * `_stream` and `_retract` queries serve) and the one-shot layouts
  * (IVF, PQ and ANN-LSH indexes, cluster and incremental labels, the
  * bucketed pair, the live and partitioned bucketed tables, basket
  * pairs). A builder supplies only its own write script, and this
  * object decides the rest.
  *
  *  - Location: `<java.io.tmpdir>/graft-<kind>/<tag>`, the tag being the
  *    sf dir's md5 prefix plus the (len, mtime) of every source table,
  *    then the builder's layout `variant` (its code version). A
  *    regenerated fixture gets a fresh tag dir, so an old generation is
  *    never served.
  *  - Completeness: the `__done` marker, written LAST, inside the stage.
  *  - Publication: [[StagedLayout]] stage-then-rename. A build that
  *    crashes or throws never leaves a served dir, and a torn leftover
  *    (no `__done`) is cleared and rebuilt. Streams that ran inside the
  *    stage move with the rename: nothing ever resumes their
  *    checkpoints, so the absolute feed paths baked into them are inert.
  *  - One per-JVM monitor serializes builds, so two threads asking for
  *    the same state run `build` once; cross-process races are
  *    StagedLayout's (the loser serves the winner's identical copy —
  *    every script here is input-determined).
  *  - Stale versions: the build path (never a serve of a complete
  *    layout) sweeps the same data tag's other-variant siblings, so a
  *    version bump does not orphan its predecessor under /tmp forever.
  */
object Lifecycle {

  /** The served dir of `kind`'s state over `sourceTables` of `d`. */
  def location(s: SparkSession, d: String, sourceTables: Seq[String],
      kind: String, variant: String = ""): String = {
    val stats = sourceTables.map { t =>
      val (len, mtime) = Hfs.stat(s, s"$d/$t.parquet")
      s"_${len}_$mtime"
    }
    val id = graft.functions.Scalars.md5Hex(d.getBytes("UTF-8")).take(12)
    s"${sys.props("java.io.tmpdir")}/graft-$kind/$id${stats.mkString}$variant"
  }

  /** Ensure `kind`'s state is built and published, returning its
    * served dir. `build` writes the whole state into the stage dir it
    * is given. */
  def ensure(s: SparkSession, d: String, sourceTables: Seq[String],
      kind: String, variant: String = "")(build: String => Unit): String =
    synchronized {
      val loc = location(s, d, sourceTables, kind, variant)
      StagedLayout.ensure(s, loc)(Hfs.readString(s, s"$loc/__done").nonEmpty) {
        stage =>
          sweepStaleVariants(s, loc, variant)
          build(stage)
          Hfs.writeString(s, s"$stage/__done", "ok")
      }
    }

  /** Delete the siblings of `loc` that carry its data tag under
    * another variant than `variant`. Only this tag's siblings: other tags
    * are other data dirs' LIVE caches. Running on every serve made two
    * mixed-version drivers mutually delete each other's COMPLETED
    * layouts (rebuild ping-pong plus transient FileNotFound), hence
    * build path only. ANY `.stage-` name is off-limits, not just this
    * variant's: a driver running an OLDER binary may be mid-build in its
    * own stage. Deletions are AGE-GATED: a recent-mtime sibling is
    * presumed to be a concurrent other-version driver's live cache, not
    * orphaned debris, and is left for the /tmp wipe. Residual: an
    * other-version layout older than the gate that is STILL served gets
    * swept — one loud FileNotFound on a cache that rebuilds
    * deterministically. */
  private def sweepStaleVariants(s: SparkSession, loc: String,
      variant: String): Unit = {
    val base = loc.take(loc.lastIndexOf('/'))
    val current = loc.drop(base.length + 1)
    val now = System.currentTimeMillis()
    Hfs.childDirs(s, base, current.stripSuffix(variant))
      .filterNot(n => n.startsWith(current) || n.contains(".stage-"))
      .filter(n =>
        // a sibling deleted between the listing and this stat (a
        // concurrent same-tag builder's sweep, or the /tmp wipe) is
        // already what the sweep wanted — never a build failure
        scala.util.Try(Hfs.stat(s, s"$base/$n")._2)
          .toOption.exists(mt => now - mt > StaleLayoutSweepAgeMs))
      .foreach(n => Hfs.deleteRecursive(s, s"$base/$n"))
  }

  /** Age gate of the stale-variant sweep: a same-tag sibling younger
    * than this is treated as another driver's live cache. */
  private[graft] val StaleLayoutSweepAgeMs: Long = 15L * 60 * 1000

  /** The worst RETRACTABLE state a store can serve from, shared by the
    * doc-, user- and vector-keyed retraction lifecycles: `rows` cut into
    * three ingests by `cutCol` pmod 3, a compaction AFTER the third
    * (after only two it folds nothing — IngestSegments keeps the max
    * batch id as the replayable tail, so folded = {0} early-returns),
    * then retract(`retract1`) as batch 3, re-ingest(`resurrect`) as
    * batch 4 (the CDC insert-after-delete), a SECOND compaction
    * (tombstones cross a fold boundary: dead rows dropped, the side
    * table's inert tombstones purged), and a final retract(`retract2`)
    * left LIVE in the tail as batch 5 (the read-time resolve must mask
    * fold rows and re-kill a resurrected key). The masks come from
    * [[halvingMasks]]. */
  def retractCuts(rows: => DataFrame, cutCol: Column,
      writer: String => (DataFrame, Long) => Unit,
      retractor: String => (DataFrame, Long) => Unit,
      compact: String => Unit, masks: (Column, Column, Column))(
      stage: String): Unit = {
    val (retract1, resurrect, retract2) = masks
    val r = rows
    def cut(b: Long) = r.filter(pmod(cutCol, lit(3)) === b)
    writer(stage)(cut(0), 0L)
    writer(stage)(cut(1), 1L)
    writer(stage)(cut(2), 2L)
    compact(stage)
    retractor(stage)(r.filter(retract1), 3L)
    writer(stage)(r.filter(resurrect), 4L)
    compact(stage)
    retractor(stage)(r.filter(retract2), 5L)
  }

  /** Stages an ordered file-stream feed for a lifecycle's stream run:
    * chunk i becomes the ONE parquet file `feed/c<i>.parquet` (written
    * `coalesce(1)` into `loc/__stage<i>`, renamed out, the stage
    * deleted) with its mtime pinned to its position. The file source
    * orders its backlog by mtime, so a reader with
    * `maxFilesPerTrigger = 1` replays the chunks as consecutive
    * micro-batches in list order. Staged through Hfs like every sink
    * path: a bare java.io.File listing silently returns empty on a
    * non-local default FS, and an assert-wrapped setLastModified is
    * elided under -Xdisable-assertions, scrambling the arrival order
    * instead of failing loudly. */
  def stageFeed(s: SparkSession, loc: String, feed: String,
      chunks: Seq[DataFrame]): Unit = {
    Hfs.mkdirs(s, feed)
    chunks.zipWithIndex.foreach { case (df, i) =>
      val stage = s"$loc/__stage$i"
      df.coalesce(1).write.parquet(stage)
      val part = Hfs.childFiles(s, stage)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).head
      val target = f"$feed/c$i%02d.parquet"
      Hfs.rename(s, s"$stage/$part", target)
      Hfs.setMtime(s, target, 1000000000000L + i * 60000L)
      Hfs.deleteRecursive(s, stage)
    }
  }

  /** [[retractCuts]]' masks over `key`: retract ≡ `residue` (mod
    * `mod`), resurrect the ≡ `residue` (mod 2·`mod`) half — a subset of
    * the retracted keys by construction, as it must be: re-ingesting a
    * LIVE key would break the additive stores' one-key-one-admission
    * contract — and re-retract the ≡ `residue` (mod 4·`mod`) quarter. */
  def halvingMasks(key: Column, mod: Int = 10,
      residue: Int = 3): (Column, Column, Column) =
    (pmod(key, lit(mod)) === residue, pmod(key, lit(2 * mod)) === residue,
      pmod(key, lit(4 * mod)) === residue)
}
