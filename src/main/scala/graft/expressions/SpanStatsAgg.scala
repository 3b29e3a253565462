package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Mutable state for [[SpanStatsAgg]]: 32 bytes, FIXED — the point.
  * `min1`/`min2` use Long.MaxValue as the empty sentinel (doc ids are
  * non-negative by fixture/suite contract; a corpus actually carrying
  * doc_id = Long.MaxValue would alias the sentinel, which the eval
  * would turn into a wrong "no second doc" — so update() ENFORCES the
  * contract with a loud require instead of trusting it). */
final class SpanStatsBuffer(var nOcc: Long, var min1: Long,
    var cMin1: Long, var min2: Long)

/** q157's per-gram provenance statistics in ONE bounded aggregate over
  * the raw positional gram rows: grouped by gram hash, the state
  * carries (occurrence count, lowest doc id, that doc's occurrence
  * count, second-lowest DISTINCT doc id) — everything the partner rule
  * needs — in 32 fixed bytes however hot the gram. The composed form
  * this replaces pre-aggregated per-(gram, doc) counts (a corpus-sized
  * exchange that map-side combining cannot collapse — (h, doc) keys
  * are nearly all distinct) and then joined that frame BACK to its own
  * per-gram mins for the second-lowest doc, re-shuffling the
  * corpus-sized frame a second time; measured at the removed
  * ScaleProbe's 1.6M-doc/69M-gram fixture the provenance pass cost
  * 105 s against the span scan's 14 s. With the fused state the plan
  * is scan → one hash-partial-combined exchange keyed h — the same
  * shape (and cost class) as the span scan's own count aggregate.
  *
  * Update: doc < min1 demotes the old min1 to min2 and resets its
  * count; doc == min1 increments; min1 < doc < min2 tightens min2.
  * Merge is exact under partial counts for the SAME doc on both sides
  * (counts for the common min1 add; min2 candidates are the four
  * mins filtered > the merged min1) — correctness never depends on a
  * document's rows staying in one partition. */
case class SpanStatsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpanStatsBuffer]
  with ImplicitCastInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_occ", LongType, nullable = false),
    StructField("min1", LongType, nullable = false),
    StructField("c_min1", LongType, nullable = false),
    StructField("min2", LongType, nullable = true)))
  override def nullable: Boolean = true // empty group → null struct
  override def prettyName: String = "span_stats"

  override def createAggregationBuffer(): SpanStatsBuffer =
    new SpanStatsBuffer(0L, Long.MaxValue, 0L, Long.MaxValue)

  override def update(buf: SpanStatsBuffer, input: InternalRow): SpanStatsBuffer = {
    val v = child.eval(input)
    if (v == null) return buf // null doc ids contribute nothing
    val doc = v.asInstanceOf[Long]
    // Long.MaxValue is the buffer's empty sentinel (header comment): a
    // doc id equal to it would silently alias to "no second doc" and
    // emit a wrong partner_doc — fail loudly instead of corrupting.
    require(doc != Long.MaxValue,
      "span_stats: doc_id = Long.MaxValue collides with the empty " +
        "sentinel — the id-space contract (ids < 2^63-1) is violated")
    buf.nOcc += 1
    if (doc < buf.min1) {
      if (buf.min1 != Long.MaxValue) buf.min2 = buf.min1
      buf.min1 = doc
      buf.cMin1 = 1L
    } else if (doc == buf.min1) {
      buf.cMin1 += 1L
    } else if (doc < buf.min2) {
      buf.min2 = doc
    }
    buf
  }

  override def merge(a: SpanStatsBuffer, b: SpanStatsBuffer): SpanStatsBuffer = {
    if (b.nOcc == 0) return a
    if (a.nOcc == 0) return b
    val m1 = math.min(a.min1, b.min1)
    var c = 0L
    if (a.min1 == m1) c += a.cMin1
    if (b.min1 == m1) c += b.cMin1
    var m2 = Long.MaxValue
    def cand(x: Long): Unit = if (x > m1 && x < m2) m2 = x
    cand(a.min1); cand(a.min2); cand(b.min1); cand(b.min2)
    a.nOcc += b.nOcc
    a.min1 = m1
    a.cMin1 = c
    a.min2 = m2
    a
  }

  override def eval(buf: SpanStatsBuffer): Any = {
    if (buf.nOcc == 0) return null
    new GenericInternalRow(Array[Any](buf.nOcc, buf.min1, buf.cMin1,
      if (buf.min2 == Long.MaxValue) null else buf.min2))
  }

  override def serialize(buf: SpanStatsBuffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(32)
    bb.putLong(buf.nOcc); bb.putLong(buf.min1)
    bb.putLong(buf.cMin1); bb.putLong(buf.min2)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SpanStatsBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    new SpanStatsBuffer(bb.getLong, bb.getLong, bb.getLong, bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpanStatsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpanStatsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SpanStatsAgg =
    copy(child = newChild)
}

object SpanStatsAgg {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column surface: `span_stats(doc_id)` →
    * struct(n_occ, min1, c_min1, min2). */
  def span_stats(c: Column): Column =
    Bridge.column(SpanStatsAgg(Bridge.expression(c)).toAggregateExpression())
}
