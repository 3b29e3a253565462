package graft

import graft.operators.Publisher

/** The REST payload assembly matches the underlying oracle-checked
  * queries (q77/q78 are the value-level gates; this spec pins the
  * response SHAPES the reference's controllers return). */
class PublisherSpec extends SparkSpec {

  test("dauRealtime: total + today/yesterday hourly maps") {
    Graft.init(spark, sf0001)
    val r = Publisher.dauRealtimeSql(spark, "2024-01-15")
    assert(r.dauTotal > 0)
    assert(r.dauTd.nonEmpty && r.dauYd.nonEmpty)
    assert(r.dauTd.keys.forall(h => h.length == 2 && h <= "23"))
    // hourly dedup sums to at least the distinct-user total (one entry
    // per user per hour-of-first-visit; exactly one per user per day)
    assert(r.dauTd.values.sum == r.dauTotal)
  }

  test("statsByItem: token match + segment relabel and acctbal bands") {
    Graft.init(spark, sf0001)
    val bySeg = Publisher.statsByItemSql(spark, Seq("small", "widget"), "segment")
    assert(bySeg.nonEmpty &&
      bySeg.map(_.name).toSet.subsetOf(Set("auto", "building", "machinery", "other")))
    assert(bySeg == bySeg.sortBy(-_.value)) // ordered by value desc
    val byBand = Publisher.statsByItemSql(spark, Seq("small", "widget"), "band")
    assert(byBand.map(_.name).toSet.subsetOf(Set("negative", "mid", "high")))
    intercept[IllegalArgumentException] {
      Publisher.statsByItemSql(spark, Seq("x"), "bogus")
    }
  }

  test("statsByItemSql refuses an injected token before any SQL runs") {
    intercept[IllegalArgumentException] {
      Publisher.statsByItemSql(spark, Seq("x'; DROP--"), "segment")
    }
  }
}
