package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The ONE home of the counted-key-set sizing judgment and of the one
  * Bloom filter builder. A semi-join of a big side against a counted
  * key set takes one of four roads:
  *  - "none": zero keys, nothing to join;
  *  - "broadcast": the keys fit the session broadcast budget;
  *  - "bloom": past the budget but inside Spark's Bloom sizing clamps —
  *    a filter over the keys prunes the big side map-side, and the
  *    exact (non-broadcast) join kills false positives;
  *  - "plain": past the clamps too — the shuffle join is the floor.
  * The tombstone resolve ([[graft.sinks.IngestSegments.applyTombstones]])
  * and the decontamination registry router
  * ([[DedupOps.decontamSpansFromRegistry]]) route through [[of]]; q159
  * and the q75 [[DedupOps.BloomGate]] read the clamps and build through
  * [[mightContain]]. */
object KeyRoute {

  private val MaxItemsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
  private val MaxBitsConf = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"

  /** The road for an `n`-key set under the session's sizing confs. */
  def of(s: SparkSession, n: Long): String =
    if (n == 0L) "none"
    else if (fitsBroadcastBudget(s, n)) "broadcast"
    else if (fitsBloomClamps(s, bloomItems(n))) "bloom"
    else "plain"

  /** Would an exact registry of `nRows` 8-byte keys fit the session's
    * own broadcast budget? Costed at 32 B/row — the hashed-relation
    * materialization (key + row object + table slot) is what the
    * budget protects, not the 8-byte payload. Routing on the session
    * conf keeps the judgment honest: whatever the operator would ask
    * `broadcast()` to ship is what the budget was set against. */
  def fitsBroadcastBudget(s: SparkSession, nRows: Long): Boolean = {
    val t = org.apache.spark.sql.graftbridge.Bridge.autoBroadcastThreshold(s)
    t > 0 && nRows <= t / 32L
  }

  /** The filter size a counted `n`-key set is built at: one item per
    * key, floored at 1 024 so a tiny set still gets a useful filter. */
  def bloomItems(n: Long): Long = math.max(n, 1024L)

  /** Spark's BloomFilterAggregate sizing clamps (maxNumItems,
    * maxNumBits), read live from the session confs. */
  def bloomClamps(s: SparkSession): (Long, Long) =
    (s.conf.get(MaxItemsConf, "4000000").toLong,
      s.conf.get(MaxBitsConf, "67108864").toLong)

  /** Does a filter of `estItems` at 8 bits/item fit the clamps? Past
    * them the aggregate SILENTLY truncates its arguments (the q75
    * estItems lesson) and the filter saturates toward admit-everything —
    * wasted build + filter work. */
  def fitsBloomClamps(s: SparkSession, estItems: Long): Boolean = {
    val (maxItems, maxBits) = bloomClamps(s)
    estItems <= maxItems && estItems * 8L <= maxBits
  }

  /** A might-contain predicate on `probe` over a Bloom filter of
    * `keys`' `keyCol`, sized `estItems` at 8 bits/item. Built
    * distributed by Spark's own BloomFilterAggregate; collect()(0) is
    * the one bit-array row, not data (the bounded-collect pattern of
    * the stored ANN models). Zero keys → null bit array → the
    * predicate is NULL for every row → the filter admits nothing. */
  def mightContain(keys: DataFrame, keyCol: String, estItems: Long,
      probe: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    val bits = keys.select(Bridge.column(
        new BloomFilterAggregate(Bridge.expression(col(keyCol)),
          Literal(estItems), Literal(estItems * 8L)).toAggregateExpression())
        .as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    Bridge.column(BloomFilterMightContain(Literal(bits), Bridge.expression(probe)))
  }
}
