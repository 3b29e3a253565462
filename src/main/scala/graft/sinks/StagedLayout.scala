package graft.sinks

import org.apache.spark.sql.SparkSession

/** Cross-process atomic publication of a derived layout directory —
  * the ONE copy of the stage-then-rename protocol every stored layout
  * shares: [[Lifecycle]] is its only main caller, so every ingest
  * lifecycle and every one-shot layout (IVF, PQ and ANN-LSH indexes,
  * cluster and incremental labels, the bucketed pair, the live and
  * partitioned bucketed tables, basket pairs) reaches it there. Before
  * r15 each builder overwrote INTO its served path: `synchronized` is
  * per-JVM only, so two concurrent DRIVERS
  * could interleave overwrite writes into the same path and serve a
  * torn directory (the r14 ensureClusterLabels fix, generalized here
  * per that round's self-review).
  *
  * Protocol: each process builds privately into `<path>.stage-<uuid>`;
  * exactly one rename wins (Hfs.rename refuses an existing destination
  * and detects the lost-race mv-into burial); the loser discards its
  * copy and serves the winner's — legal because every layout under
  * this protocol is INPUT-DETERMINED, so both copies are identical.
  *
  * A pre-existing destination that is INCOMPLETE (a torn directory
  * from a crashed pre-staging overwrite-build) is cleared before
  * staging — self-healing instead of wedging every future rename. The
  * clear races a concurrent publisher in a narrow window (its freshly
  * renamed complete layout could be seen incomplete a moment earlier
  * and deleted), but that window is exactly the one the old
  * overwrite-build already had on every build, and the blast radius is
  * one loud FileNotFound on a /tmp cache that rebuilds
  * deterministically — never a torn serve.
  */
object StagedLayout {

  /** Ensure `path` holds a complete build, returning `path`.
    *
    * @param complete re-evaluated marker probe ("is the layout at
    *   `path` serving-complete?") — must be true after a successful
    *   `build` + rename
    * @param build writes the full layout into the given (stage)
    *   directory; must leave it serving-complete per `complete`'s
    *   markers
    */
  def ensure(s: SparkSession, path: String)(complete: => Boolean)(
      build: String => Unit): String = {
    if (complete) { clearBuriedStage(s, path); return path }
    if (Hfs.exists(s, path)) Hfs.deleteRecursive(s, path) // torn leftover
    val stage = s"$path.stage-${java.util.UUID.randomUUID}"
    var published = false
    try {
      build(stage)
      try { Hfs.rename(s, stage, path); published = true }
      catch { case e: java.io.IOException =>
        // destination-exists means the race was lost benignly (the
        // winner's complete copy serves); any other rename failure has
        // no winner and must surface
        if (!complete) throw e
        clearBuriedStage(s, path)
      }
    } finally if (!published) Hfs.deleteRecursive(s, stage)
    path
  }

  /** Serve-side burial sweep: Hfs.rename's post-rename burial
    * detection deletes a lost mv-into race's copy only if that process
    * SURVIVES — a crash between the mv-into rename and the burial
    * delete leaves the loser's whole stage as a child of the served
    * path (`dest/<basename>.stage-<uuid>`, not dot/underscore-hidden,
    * so a parquet read of the layout would list it as extra rows
    * forever). A buried stage is always named after the served path
    * itself (`<basename(path)>.stage-<uuid>` — the loser staged a
    * SIBLING of the target, so mv-into buried it under its own name),
    * and ONLY that prefix is swept: a match on any `.stage-` substring
    * would also delete the in-flight stage of a DIFFERENT StagedLayout
    * target nested under this path, failing that builder's writes
    * mid-build (r16 advice). Nothing nests targets today; the narrow
    * prefix makes that invariant unnecessary rather than assumed. One
    * listStatus per serve — the same RPC the completeness markers
    * already cost. */
  private def clearBuriedStage(s: SparkSession, path: String): Unit = {
    val own = s"${path.reverse.takeWhile(_ != '/').reverse}.stage-"
    Hfs.childDirs(s, path, "").filter(_.startsWith(own))
      .foreach(n => Hfs.deleteRecursive(s, s"$path/$n"))
  }
}
