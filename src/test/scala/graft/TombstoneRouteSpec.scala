package graft

import graft.sinks.IngestSegments
import org.apache.spark.sql.functions._

/** The routed tombstone resolve (r16 verdict task 1): every road —
  * broadcast / Bloom-prefiltered / plain shuffle — resolves every row
  * to the SAME verdict, the route is picked from the counted aggregate
  * size against the session budgets (never a hard hint that cannot
  * degrade), and [[IngestSegments.compactTombstones]]' purge retires
  * provably-inert tombstones without ever changing a resolve. */
class TombstoneRouteSpec extends SparkSpec {
  import spark.implicits._

  /** keys 0..99, two versions each (ing 0 and ing 2) plus a payload
    * column the resolve must carry through untouched. */
  private def corpus =
    (0L until 100L).flatMap(k => Seq((k, 0L, s"v0-$k"), (k, 2L, s"v2-$k")))
      .toDF("k", "ing", "payload")

  private def tombs =
    // k=3: kills ing 0 only; k=5: kills both versions; k=60: ing-0 tie
    // goes to the tombstone (strict >)
    Seq((3L, 1L), (5L, 9L), (60L, 0L)).toDF("k", "ing")

  test("all resolve roads agree, and the routed form matches them") {
    val agg = tombs.groupBy($"k").agg(max($"ing").as("__tomb_ing"))
      .localCheckpoint()
    val want = IngestSegments
      .applyTombstonesRouted(corpus, agg, 3L, "k", "ing", "broadcast")
      .as[(Long, Long, String)].collect().toSet
    // fixture sanity: the three kill shapes are all present
    assert(!want.contains((3L, 0L, "v0-3")) && want.contains((3L, 2L, "v2-3")))
    assert(!want.exists(_._1 == 5L))
    assert(!want.contains((60L, 0L, "v0-60")) && want.contains((60L, 2L, "v2-60")))
    for (road <- Seq("bloom", "plain")) {
      val got = IngestSegments
        .applyTombstonesRouted(corpus, agg, 3L, "k", "ing", road)
        .as[(Long, Long, String)].collect().toSet
      assert(got == want, s"road $road diverged from broadcast")
    }
    val routed = IngestSegments.applyTombstones(corpus, tombs, "k", "ing")
      .as[(Long, Long, String)].collect().toSet
    assert(routed == want, "the routed resolve diverged from the roads")
  }

  test("zero tombstones short-circuit: no join is planned at all") {
    val out = IngestSegments.applyTombstones(
      corpus, tombs.filter(lit(false)), "k", "ing")
    assert(out.queryExecution.analyzed
      .collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      .isEmpty, "an empty tombstone set must not cost a join")
    assert(out.count() == 200L)
  }

  test("routeOf picks by counted size against the session budgets") {
    val bud = org.apache.spark.sql.graftbridge.Bridge
      .autoBroadcastThreshold(spark) / 32L
    assert(bud > 0, "test session must have a broadcast budget")
    val maxItems = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    assert(graft.functions.KeyRoute.of(spark, 0L) == "none")
    assert(graft.functions.KeyRoute.of(spark, math.min(bud, 10L)) == "broadcast")
    assert(graft.functions.KeyRoute.of(spark, bud + 1L) == "bloom",
      s"past the $bud-key broadcast budget the resolve must take the Bloom road")
    assert(graft.functions.KeyRoute.of(spark, maxItems + 1L) == "plain",
      "past the Bloom sizing clamps the plain shuffle join is the floor")
  }

  test("purge retires inert folded tombstones, keeps live ones, and never changes any resolve") {
    val tp = java.nio.file.Files.createTempDirectory("graft-tombpurge").toString
    // the protected row store's RAW readable rows (key, ing):
    //  k=1: only a dead version (ing 0 <= its tombstone) -> KEEP
    //  k=2: resurrected (ing 5 only, > tombstone 3)      -> PURGE
    //  k=3: no rows at all (fold dropped them)           -> PURGE
    //  k=4: dead ing 0 beside live ing 5                 -> KEEP
    val rows = Seq((1L, 0L), (2L, 5L), (4L, 0L), (4L, 5L)).toDF("k", "ing")
    IngestSegments.writeTombstones(
      Seq(1L, 2L, 3L, 4L).toDF("k"), tp, "k", 3L)
    // a second, NEWER tombstone batch: (9,5) is the replayable tail —
    // never a purge candidate however inert
    IngestSegments.writeTombstones(Seq(9L).toDF("k"), tp, "k", 5L)
    def resolve() = IngestSegments.applyTombstones(
        rows, IngestSegments.readTombstones(spark, tp, "k"), "k", "ing")
      .as[(Long, Long)].collect().toSet
    val before = resolve()
    assert(before == Set((2L, 5L), (4L, 5L)), s"fixture drifted: $before")
    IngestSegments.compactTombstones(spark, tp, "k",
      protectedRows = Some(rows))
    val kept = IngestSegments.readTombstones(spark, tp, "k")
      .as[(Long, Long)].collect().toSet
    assert(kept == Set((1L, 3L), (4L, 3L), (9L, 5L)),
      s"purge verdicts drifted: $kept")
    assert(resolve() == before, "the purge changed a resolve")
    // the rows store's own compact later drops the dead versions: the
    // remaining folded tombstones become inert and retire on the next
    // purge — the side table tracks CURRENT retractions, not history
    val rowsAfterFold = Seq((2L, 5L), (4L, 5L)).toDF("k", "ing")
    IngestSegments.compactTombstones(spark, tp, "k",
      protectedRows = Some(rowsAfterFold))
    val kept2 = IngestSegments.readTombstones(spark, tp, "k")
      .as[(Long, Long)].collect().toSet
    assert(kept2 == Set((9L, 5L)), s"inert tombstones survived a purge: $kept2")
    assert(IngestSegments.applyTombstones(rowsAfterFold,
        IngestSegments.readTombstones(spark, tp, "k"), "k", "ing")
      .as[(Long, Long)].collect().toSet == before)
  }

  test("guardBuild refuses a bulk bootstrap into a store with retraction history") {
    val root = java.nio.file.Files.createTempDirectory("graft-tombguard").toString
    // no history: negative-id bootstrap is legal
    IngestSegments.guardBuild(spark, s"$root/codes", -1L,
      tombPath = Some(s"$root/tomb"))
    IngestSegments.writeTombstones(Seq(7L).toDF("k"), s"$root/tomb", "k", 0L)
    val e = intercept[IllegalArgumentException] {
      IngestSegments.guardBuild(spark, s"$root/codes", -1L,
        tombPath = Some(s"$root/tomb"))
    }
    assert(e.getMessage.contains("retraction history"))
  }
}
