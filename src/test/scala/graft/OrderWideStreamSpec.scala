package graft

import graft.streaming.OrderWideStream
import org.apache.spark.sql.functions._

/** q152 mechanics at hand-fixture scale — the sf0.01 driver gate covers
  * the full arrival matrix; this pins the parts a refactor could
  * silently break:
  *  - the streamed store is the EXACT multiset of the batch q05 join
  *    (duplicates preserved: the fixture plants two lineitems sharing
  *    (orderkey, linenumber) — the line_uid sink key must keep both);
  *  - near-TTL offsets survive (±18/21 h of the 24 h window);
  *  - the at-least-once duplicated batch-1 write collapses (row count
  *    is exact, not 2×);
  *  - the staged feeds are five mtime-ordered files per side (the
  *    lockstep 5-trigger arrival plan's precondition).
  */
class OrderWideStreamSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft-owspec-fixture"
    graft.sinks.Hfs.deleteRecursive(spark, d)
    val orders = (1 to 9).map { i =>
      (i.toLong, (i % 3 + 1).toLong, f"2024-${i}%02d-15 00:00:00")
    }.toDF("o_orderkey", "o_custkey", "o_orderdate")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    orders.coalesce(1).write.parquet(s"$d/orders.parquet")
    // linenumbers 6 and 7 are the near-TTL rows (−18 h / +21 h of the
    // 24 h window); order 5 carries a DUPLICATE (orderkey, linenumber)
    // pair differing only in price — the fixture lineitem's actual
    // shape; order 7's second line (linenumber 9 → +27 h) sits BEYOND
    // the 24 h window and must be excluded by the join's time
    // condition, not merely absent from the data
    val lines = Seq(
      (1L, 1, 100.0, 0.1), (1L, 2, 200.0, 0.0),
      (2L, 1, 300.0, 0.2), (2L, 7, 400.0, 0.0),
      (3L, 6, 500.0, 0.1),
      (4L, 1, 600.0, 0.0), (4L, 7, 650.0, 0.05),
      (5L, 3, 700.0, 0.0), (5L, 3, 710.0, 0.0), // dup key, distinct price
      (6L, 2, 800.0, 0.1),
      (7L, 5, 900.0, 0.0), (7L, 9, 920.0, 0.0), // +27 h: OUTSIDE the TTL
      (8L, 4, 950.0, 0.3), (8L, 6, 960.0, 0.0),
      (9L, 1, 990.0, 0.0))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    lines.coalesce(1).write.parquet(s"$d/lineitem.parquet")
    Seq((1L, "alice", 1L), (2L, "bo", 2L), (3L, "chen", 1L))
      .toDF("c_custkey", "c_name", "c_nationkey")
      .coalesce(1).write.parquet(s"$d/customer.parquet")
    Seq((1L, "ALPHA"), (2L, "BETA")).toDF("n_nationkey", "n_name")
      .coalesce(1).write.parquet(s"$d/nation.parquet")
    d
  }

  test("q152: streamed store ≡ batch join multiset; dup keys kept; replay collapsed") {
    val got = OrderWideStream.orderWideStream(spark, dir)
      .as[(Long, Long, Long, String, String, String, Double)]
      .collect().toSeq.sorted
    // independent batch expectation WITH the join's time window (the
    // fixture plants a +27 h line that the 24 h condition must exclude;
    // the offset formula mirrors the staged detail_ts)
    val hours = col("l_linenumber") * lit(3) *
      when(col("l_linenumber") % 2 === 0, lit(-1)).otherwise(lit(1))
    val expected = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(abs(hours) <= 24)
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        col("o_custkey") === col("c_custkey"))
      .join(spark.read.parquet(s"$dir/nation.parquet"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("l_linenumber").cast("long"),
        col("o_custkey"), col("c_name"), col("n_name"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"),
        col("l_extendedprice") * (lit(1) - col("l_discount")))
      .as[(Long, Long, Long, String, String, String, Double)]
      .collect().toSeq.sorted
    assert(expected.size == 14, "fixture self-check (15 lines, 1 beyond-TTL)")
    assert(got == expected,
      s"streamed store diverged from the batch join:\n got=$got\n exp=$expected")
    // the duplicate (5, 3) key survived as TWO rows
    assert(got.count(r => r._1 == 5L && r._2 == 3L) == 2)
    // the +27 h line was excluded by the TIME CONDITION, not the data
    assert(!got.exists(r => r._1 == 7L && r._2 == 9L),
      "a beyond-TTL detail leaked through the join window")
    assert(got.exists(r => r._1 == 7L && r._2 == 5L),
      "order 7's in-window line must still match")
  }

  test("q152 at sf0.1: the full lifecycle holds at 10x the driver gate's volume") {
    // VERDICT r12 item 5: the state-envelope math is asserted
    // (StreamingSpec's join-state envelope) but the oracle gate only
    // exercised sf0.01. This runs the REAL staged-feed lifecycle over sf0.1
    // (~600k detail rows through the 24 h stream-stream join in five
    // lockstep micro-batches) and pins the store against the batch
    // join as an exact MULTISET (exceptAll both ways — duplicates
    // must survive with their multiplicity). The build is the same
    // fingerprint-tagged state the sf0.1 bench prebuild creates, so a
    // post-bench suite run pays only the compare.
    val sf01 = "/root/testdata/sf0.1"
    val got = OrderWideStream.orderWideStream(spark, sf01)
    val hours = col("l_linenumber") * lit(3) *
      when(col("l_linenumber") % 2 === 0, lit(-1)).otherwise(lit(1))
    val expected = Tables.t(spark, sf01, "lineitem")
      .filter(abs(hours) <= 24) // vacuous on TPC-H (linenumber <= 7) but
      // keeps the expectation the join's own admission rule
      .join(Tables.t(spark, sf01, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.t(spark, sf01, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.t(spark, sf01, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey").as("order_id"),
        col("l_linenumber").cast("long").as("detail_id"),
        col("o_custkey").as("user_id"), col("c_name").as("user_name"),
        col("n_name").as("province_name"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("create_date"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("split_total_amount"))
    val (ng, ne) = (got.count(), expected.count())
    assert(ng == ne, s"row count: streamed $ng vs batch $ne")
    assert(got.exceptAll(expected).isEmpty,
      "streamed rows missing from the batch join")
    assert(expected.exceptAll(got).isEmpty,
      "batch rows missing from the streamed store")
  }

  /** The built lifecycle's tag dir (any completed one — the assertions
    * are shape-invariant across fixtures). */
  private def builtLoc(): String = graft.sinks.Hfs
    .childDirs(spark, s"${sys.props("java.io.tmpdir")}/graft-orderwidestream", "")
    .map(tag => s"${sys.props("java.io.tmpdir")}/graft-orderwidestream/$tag")
    .find(l => graft.sinks.Hfs.readString(spark, s"$l/__done").nonEmpty &&
      graft.sinks.Hfs.exists(spark, s"$l/__feed_info/c00.parquet"))
    .getOrElse(fail("no built lifecycle state found"))

  test("q152 staging: five mtime-ordered files per feed (the lockstep arrival plan)") {
    OrderWideStream.orderWideStream(spark, dir).collect() // ensure built
    val loc = builtLoc()
    Seq("__feed_info", "__feed_detail").foreach { side =>
      val files = graft.sinks.Hfs.childFiles(spark, s"$loc/$side").sorted
      assert(files == Seq("c00.parquet", "c01.parquet", "c02.parquet",
        "c03.parquet", "c04.parquet"), s"$side files: $files")
      val mtimes = files.map(f =>
        graft.sinks.Hfs.stat(spark, s"$loc/$side/$f")._2)
      assert(mtimes == mtimes.sorted && mtimes.distinct.size == 5,
        s"$side mtimes not strictly ascending: $mtimes")
    }
  }

  test("q152 lifecycle: a torn build (missing __done) is cleared and rebuilt, never served") {
    val first = OrderWideStream.orderWideStream(spark, dir)
      .as[(Long, Long, Long, String, String, String, Double)]
      .collect().toSeq.sorted
    // THIS fixture GENERATION's tag dir, by exact stat fingerprint — a
    // prefix search once picked a STALE generation's dir (the lazy
    // fixture rewrite bumps mtime → new tag per suite run), tore that,
    // and the rebuild then healed the CURRENT tag instead (flaked in
    // the full-suite run)
    val loc = OrderWideStream.lifecycleLoc(spark, dir)
    assert(graft.sinks.Hfs.readString(spark, s"$loc/__done").nonEmpty,
      "fixture lifecycle not built")
    // tear it: kill the marker and plant junk in the store — the next
    // read must rebuild from scratch (junk gone), not serve torn state
    graft.sinks.Hfs.deleteRecursive(spark, s"$loc/__done")
    graft.sinks.Hfs.writeString(spark, s"$loc/store/__JUNK", "torn")
    val again = OrderWideStream.orderWideStream(spark, dir)
      .as[(Long, Long, Long, String, String, String, Double)]
      .collect().toSeq.sorted
    assert(again == first, "rebuild must reproduce the store exactly")
    assert(!graft.sinks.Hfs.exists(spark, s"$loc/store/__JUNK"),
      "torn-state junk survived the rebuild")
    assert(graft.sinks.Hfs.readString(spark, s"$loc/__done").nonEmpty)
  }
}
