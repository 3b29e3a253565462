package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Live novelty monitor — the streaming twin of the q110 batch report:
  * per-batch token partials land as additive `seq=N` segments with
  * their cut id INSIDE the rows (`(cut, token, c)`), so the merged
  * state keeps enough to attribute every token type to the cut that
  * FIRST carried it — min(cut) survives compaction folds precisely
  * because rows keep their cut, where a plain vocabulary fold
  * (VocabSink) would erase arrival order. Everything here is a
  * decomposable sum — a [[SumStore]] keyed (cut, token) — so the
  * [[AdditiveSegments]] replay/fold contract applies unchanged; like
  * the vocabulary, segment size converges to per-batch vocabulary size
  * (Heaps' law), not batch size.
  *
  * State growth note for 100 TB: the merged state is (cuts × their
  * vocab) rows. A production monitor caps `cut` at a rolling window
  * (drop cuts older than the horizon in compact's reconcile) — the
  * report semantics stay identical over the surviving window. */
object NoveltySink extends SumStore(Seq("cut", "token"), Seq("c"))(
    (batch, batchId) => batch
      .select(explode(graft.functions.TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .select(lit(batchId).as("cut"), col("token"), col("c"))) {

  /** The q110-shaped per-cut novelty report over the live state. */
  def report(spark: SparkSession, path: String): DataFrame =
    graft.functions.TextOps.noveltyFromCutCounts(read(spark, path))
}
