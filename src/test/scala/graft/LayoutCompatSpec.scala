package graft

import java.nio.file.Files

import graft.functions.{DedupOps, PqOps, SimilarityOps, TextOps}
import graft.operators.Bucketing
import graft.sinks.{DwellSink, FunnelSink, Hfs, PitSink, SessionSink, PhraseIndexSink, RetentionSink, SourceStatsSink, TransitionSink, VocabSink}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Format-drift regression net for every persistent (pinned) layout:
  * each test builds a layout through its writer(s) and then probes it
  * through EVERY reader of that layout in the same run. The round-10
  * q105 bug existed because `pinGeom`'s format changed together with
  * two of its three readers — the third (`probeAnnLshIndexLive`) kept
  * parsing the old format and broke only on fresh state. A writer
  * format change that misses any reader must turn one of these red,
  * not surface rounds later from a cold cache. */
class LayoutCompatSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Deterministic 16-dim corpus with built-in near-dup structure:
    * vector i+100 is a small perturbation of vector i. */
  private def vec(i: Int): Array[Double] =
    Array.tabulate(16)(j => math.cos(i * 31 + j * 7))
  private def nearVec(i: Int): Array[Double] =
    vec(i).zipWithIndex.map { case (x, j) => x + (if (j == 0) 0.01 else 0.0) }
  private def embFrame(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, vec(i.toInt).toSeq)).toDF("vec_id", "v")

  private def topk(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("neighbor_id"), col("cosine"))
      .as[(Long, Double)].collect().toSeq

  // ---------------------------------------------------------------- ann-lsh

  test("ann-lsh geometry pin: one-shot writer vs all three readers, lifecycle writer vs all three readers") {
    val ids = (1L to 12L)
    val q = vec(1)

    // writer generation A: one-shot build pins dims:bits
    val oneShot = tmp("lc_ann_oneshot") + "/idx"
    SimilarityOps.buildAnnLshIndex(embFrame(ids), oneShot, bits = 4, dims = 16)
    // reader 1: one-shot probe
    val a = topk(SimilarityOps.probeAnnLshIndex(spark, oneShot, q,
      bits = 4, probe = 4, k = 5, excludeVecId = 1L))
    assert(a.nonEmpty, "one-shot probe must read the one-shot pin")
    // reader 2: the live probe's geometry parser (shared helper) must
    // accept the SAME pin — this is the exact pair that broke in r10.
    // An ingest under the one-shot pin is geometry-legal, so the drift
    // check (reader 3) must pass for matching geometry...
    val e1 = intercept[IllegalArgumentException] {
      SimilarityOps.ingestAnnSegment(embFrame(ids), oneShot, 0L,
        bits = 5, dims = 16)
    }
    assert(e1.getMessage.contains("bits"),
      "ingest drift check must read the one-shot pin's bits")
    val e2 = intercept[IllegalArgumentException] {
      SimilarityOps.ingestAnnSegment(
        ids.map(i => (i, vec(i.toInt).take(8).toSeq)).toDF("vec_id", "v"),
        oneShot, 0L, bits = 4, dims = 8)
    }
    assert(e2.getMessage.contains("width"),
      "ingest drift check must read the one-shot pin's dims")

    // writer generation B: the ingest lifecycle pins on first segment
    val live = tmp("lc_ann_live") + "/idx"
    val cuts = ids.grouped(4).toSeq
    SimilarityOps.ingestAnnSegment(embFrame(cuts(0)), live, 0L, bits = 4, dims = 16)
    SimilarityOps.ingestAnnSegment(embFrame(cuts(1)), live, 1L, bits = 4, dims = 16)
    SimilarityOps.compactAnnLshIndex(spark, live)
    SimilarityOps.ingestAnnSegment(embFrame(cuts(2)), live, 2L, bits = 4, dims = 16)
    // reader 2 on the lifecycle pin — and cross-writer agreement: the
    // same corpus through either writer generation must answer the same
    val b = topk(SimilarityOps.probeAnnLshIndexLive(spark, live, q,
      bits = 4, probe = 4, k = 5, excludeVecId = 1L))
    assert(a == b, s"one-shot and lifecycle probes disagree: $a vs $b")
    // the live probe now performs the stored-bits check the one-shot
    // probe always had (the check the r10 bug skipped)
    val e3 = intercept[IllegalArgumentException] {
      SimilarityOps.probeAnnLshIndexLive(spark, live, q, bits = 5,
        probe = 4, k = 5, excludeVecId = 1L)
    }
    assert(e3.getMessage.contains("bits"),
      "live probe must enforce the pinned bits like the one-shot probe")
    val e4 = intercept[IllegalArgumentException] {
      SimilarityOps.probeAnnLshIndex(spark, oneShot, q, bits = 5,
        probe = 4, k = 5, excludeVecId = 1L)
    }
    assert(e4.getMessage.contains("bits"))

    // legacy bare-int pin (pre-bits layouts): read-tolerated by every
    // reader — dims still checked, bits check skipped
    Hfs.writeString(spark, s"$live/__dims", "16")
    val c = topk(SimilarityOps.probeAnnLshIndexLive(spark, live, q,
      bits = 4, probe = 4, k = 5, excludeVecId = 1L))
    assert(c == b, "legacy bare-int pin must read as (dims, no bits)")
    intercept[IllegalArgumentException] {
      SimilarityOps.probeAnnLshIndexLive(spark, live, q.take(8), bits = 4,
        probe = 4, k = 5, excludeVecId = 1L)
    }
    // a corrupt pin is a loud refusal for every reader, never a guess
    Hfs.writeString(spark, s"$live/__dims", "16:4:9")
    intercept[IllegalArgumentException] {
      SimilarityOps.probeAnnLshIndexLive(spark, live, q, bits = 4,
        probe = 4, k = 5, excludeVecId = 1L)
    }
  }

  // ---------------------------------------------------------------- ivf

  test("ivf centroid layout: stored centroids read identically by point probe and knn join") {
    val path = tmp("lc_ivf") + "/idx"
    SimilarityOps.buildIvfIndex(embFrame(1L to 12L), path, k = 3,
      iters = 2, dims = 16)
    val q = vec(1)
    // nprobe = k makes both forms exact — any disagreement is a layout
    // read skew, not recall
    val point = topk(SimilarityOps.probeIvfIndex(spark, path, q,
      nprobe = 3, topk = 5, excludeVecId = 1L))
    val join = SimilarityOps.ivfKnnJoin(spark, path,
        Seq((1L, q.toSeq)).toDF("query_id", "qv"), nprobe = 3, topk = 5)
      .select(col("neighbor_id"), col("cosine"))
      .as[(Long, Double)].collect().toSeq
    assert(point == join,
      s"probeIvfIndex and ivfKnnJoin read the same layout differently: $point vs $join")
  }

  // ---------------------------------------------------------------- pq

  test("pq model + code layout: loadModel/probe/knn-join/ingest/compact all read one format") {
    val path = tmp("lc_pq") + "/idx"
    PqOps.buildPqIndex(embFrame(1L to 12L), path, kCells = 2,
      coarseIters = 2, pqIters = 2, dims = 16, m = 4, ksub = 4)
    // reader 1: the model loader (cells ordered, books (j, code) ordered)
    val (cents, books) = PqOps.loadModel(spark, path)
    assert(cents.length == 2 && cents.forall(_.length == 16))
    assert(books.length == 4 && books.forall(_.length == 4) &&
      books.forall(_.forall(_.length == 4)))
    val q = vec(1)
    def adcTopk(df: DataFrame): Seq[(Long, Double)] =
      df.select(col("neighbor_id"), col("adc_score"))
        .as[(Long, Double)].collect().toSeq
    // reader 2 vs reader 3: point probe and knn join over the same codes
    val point = adcTopk(PqOps.probePqIndex(spark, path, q, nprobe = 2,
      topk = 5, excludeVecId = 1L))
    val join = adcTopk(PqOps.pqKnnJoin(spark, path,
      Seq((1L, q.toSeq)).toDF("query_id", "qv"), nprobe = 2, topk = 5))
    assert(point == join,
      s"probePqIndex and pqKnnJoin disagree on one layout: $point vs $join")
    // writer 2: incremental ingest encodes against the FROZEN model;
    // compaction folds segments — the probe must read both generations
    PqOps.ingestPqSegment(
      Seq((100L, nearVec(1).toSeq)).toDF("vec_id", "v"), path, 0L)
    val withNew = adcTopk(PqOps.probePqIndex(spark, path, q, nprobe = 2,
      topk = 12, excludeVecId = 1L))
    assert(withNew.exists(_._1 == 100L),
      "probe must see the ingested segment")
    PqOps.compactPqIndex(spark, path)
    val folded = adcTopk(PqOps.probePqIndex(spark, path, q, nprobe = 2,
      topk = 12, excludeVecId = 1L))
    assert(withNew == folded, "compaction must not change probe answers")
  }

  // ---------------------------------------------------------------- chunk index

  test("chunk index __buckets pin: build → probe → compact → probe, one modulus") {
    val path = tmp("lc_chunk") + "/idx"
    val docs = Seq(
      (1L, ("alpha beta gamma delta epsilon zeta eta theta " * 20).trim),
      (2L, ("one two three four five six seven eight nine ten " * 20).trim))
      .toDF("doc_id", "text")
    TextOps.buildChunkIndex(docs, path)
    val indexed = TextOps.chunkGrid(docs)
      .select(md5(col("chunk").cast("binary")).as("h"))
    val novel = Seq("nothing like the corpus at all zzz qqq xxx www yyy")
      .toDF("chunk").select(md5(col("chunk").cast("binary")).as("h"))
    val hitsBefore = TextOps.probeChunkIndex(spark, path, indexed, 999L)
      .as[String].collect().toSet
    assert(hitsBefore == indexed.as[String].collect().toSet,
      "every indexed hash must probe as seen")
    assert(TextOps.probeChunkIndex(spark, path, novel, 999L).count() == 0L)
    TextOps.compactChunkIndex(spark, path)
    val hitsAfter = TextOps.probeChunkIndex(spark, path, indexed, 999L)
      .as[String].collect().toSet
    assert(hitsAfter == hitsBefore, "compaction must not change the probe")
  }

  // ---------------------------------------------------------------- text lsh index

  test("text lsh index: build/ingest/compact segments all read by candidate and verify probes") {
    val path = tmp("lc_textlsh") + "/idx"
    val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val other = ("completely different content about spark engines " * 9).trim
    DedupOps.lshIndex.build(Seq((0L, base)).toDF("doc_id", "text"), path, -1L)
    DedupOps.lshIndex.ingest(Seq((1L, other)).toDF("doc_id", "text"), path, 0L)
    val probeDocs = Seq(
      (10L, base.replaceFirst("lazy", "sleepy")),
      (11L, other.replaceFirst("spark", "flink"))).toDF("doc_id", "text")
    // reader 1: the candidate tier sees buckets from BOTH segments
    val cands = DedupOps.lshIndex.candidates(probeDocs, path, None)
      .select(col("new_doc"), col("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((10L, 0L)) && cands.contains((11L, 1L)),
      s"candidates must span bulk AND ingest segments, got $cands")
    // reader 2: the verified probe
    val before = DedupOps.lshIndex.probe(probeDocs, path, 0.5, None)
      .select(col("new_doc"), col("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(before == Set((10L, 0L), (11L, 1L)))
    DedupOps.lshIndex.compact(spark, path)
    val after = DedupOps.lshIndex.probe(probeDocs, path, 0.5, None)
      .select(col("new_doc"), col("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(after == before, "compaction must not change probe verdicts")
  }

  // ---------------------------------------------------------------- emb lsh index

  test("embedding lsh index: build/ingest/compact segments all read by candidate and verify probes") {
    val path = tmp("lc_emblsh") + "/idx"
    SimilarityOps.embIndex(16).build(embFrame(1L to 6L), path, -1L)
    SimilarityOps.embIndex(16).ingest(embFrame(7L to 12L), path, 0L)
    val probeVecs = Seq(
      (100L, nearVec(2).toSeq),   // near-dup of indexed vec 2 (bulk seg)
      (101L, nearVec(9).toSeq))   // near-dup of indexed vec 9 (ingest seg)
      .toDF("vec_id", "v")
    val cands = SimilarityOps.embIndex(16).candidates(probeVecs, path, None)
      .select(col("new_vec"), col("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((100L, 2L)) && cands.contains((101L, 9L)),
      s"candidates must span bulk AND ingest segments, got $cands")
    val before = SimilarityOps.embIndex(16).probe(probeVecs, path,
        0.99, None)
      .select(col("new_vec"), col("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(before.contains((100L, 2L)) && before.contains((101L, 9L)))
    SimilarityOps.embIndex(16).compact(spark, path)
    val after = SimilarityOps.embIndex(16).probe(probeVecs, path,
        0.99, None)
      .select(col("new_vec"), col("dup_of"))
      .as[(Long, Long)].collect().toSet
    assert(after == before, "compaction must not change probe verdicts")
  }

  // ---------------------------------------------------------------- additive sinks

  test("additive segment sinks: writer segments readable by every view, compaction invariant") {
    val docs1 = Seq((1L, "spark streams data fast"),
      (2L, "spark joins data well")).toDF("doc_id", "text")
    val docs2 = Seq((3L, "flink streams data fast")).toDF("doc_id", "text")

    val vocab = tmp("lc_vocab") + "/v"
    VocabSink.writer(vocab)(docs1, 0L)
    VocabSink.writer(vocab)(docs2, 1L)
    val vRead = VocabSink.read(spark, vocab)
      .as[(String, Long, Long)].collect().toSet
    val vTop = VocabSink.topK(spark, vocab, 3)
      .as[(String, Long, Long, Long)].collect().toSeq
    VocabSink.compact(spark, vocab)
    assert(VocabSink.read(spark, vocab)
      .as[(String, Long, Long)].collect().toSet == vRead)
    assert(VocabSink.topK(spark, vocab, 3)
      .as[(String, Long, Long, Long)].collect().toSeq == vTop)

    val phrase = tmp("lc_phrase") + "/p"
    PhraseIndexSink.writer(phrase)(docs1, 0L)
    PhraseIndexSink.writer(phrase)(docs2, 1L)
    val pRead = PhraseIndexSink.read(spark, phrase)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(pRead.nonEmpty)
    PhraseIndexSink.compact(spark, phrase)
    assert(PhraseIndexSink.read(spark, phrase)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet == pRead)

    // doc_id is part of the writer contract since the r17 rows ledger
    // (the retractable unit is the doc)
    val srcDocs1 = Seq((10L, "web", "alpha beta gamma"),
      (11L, "books", "one two")).toDF("doc_id", "source", "text")
    val srcDocs2 = Seq((12L, "web", "delta epsilon"))
      .toDF("doc_id", "source", "text")
    val stats = tmp("lc_srcstats") + "/s"
    SourceStatsSink.writer(stats)(srcDocs1, 0L)
    SourceStatsSink.writer(stats)(srcDocs2, 1L)
    val sRead = SourceStatsSink.read(spark, stats)
      .as[(String, Long, Long)].collect().toSet
    assert(sRead == Set(("web", 2L, 5L), ("books", 1L, 2L)))
    val plan = SourceStatsSink.mixturePlan(spark, stats, 1000L)
      .collect().map(_.toSeq).toSeq
    SourceStatsSink.compact(spark, stats)
    assert(SourceStatsSink.read(spark, stats)
      .as[(String, Long, Long)].collect().toSet == sRead)
    assert(SourceStatsSink.mixturePlan(spark, stats, 1000L)
      .collect().map(_.toSeq).toSeq == plan)

    // the SET-UNION sinks ride the same segment layout — writer
    // segments must stay readable by read() across compaction too
    val ret = tmp("lc_retention") + "/r"
    val ev = Seq((1L, 10L, "2024-01-01 10:00:00"), (2L, 10L, "2024-01-02 09:00:00"))
      .toDF("event_id", "user_id", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    RetentionSink.writer(ret)(ev, 0L)
    val rRead = RetentionSink.read(spark, ret)
      .select(col("user_id"), col("day").cast("string"))
      .as[(Long, String)].collect().toSet
    RetentionSink.compact(spark, ret)
    assert(RetentionSink.read(spark, ret)
      .select(col("user_id"), col("day").cast("string"))
      .as[(Long, String)].collect().toSet == rRead)

    val trans = tmp("lc_transition") + "/t"
    val pr = Seq((10L, 1L, 2L, "view", "click"))
      .toDF("user_id", "from_id", "to_id", "src", "dst")
    TransitionSink.writer(trans)(pr, 0L)
    val tRead = TransitionSink.read(spark, trans)
      .as[(Long, Long, Long, String, String)].collect().toSet
    TransitionSink.compact(spark, trans)
    assert(TransitionSink.read(spark, trans)
      .as[(Long, Long, Long, String, String)].collect().toSet == tRead)

    val fun = tmp("lc_funnel") + "/f"
    val st = Seq((10L, 1), (10L, 2)).toDF("user_id", "step")
    FunnelSink.writer(fun)(st, 0L)
    val fRead = FunnelSink.read(spark, fun)
      .as[(Long, Int)].collect().toSet
    FunnelSink.compact(spark, fun)
    assert(FunnelSink.read(spark, fun)
      .as[(Long, Int)].collect().toSet == fRead)

    val dw = tmp("lc_dwell") + "/d"
    val dp = Seq((10L, 1L, "view", 1500L))
      .toDF("user_id", "from_id", "from_type", "gap_us")
    DwellSink.writer(dw)(dp, 0L)
    val dRead = DwellSink.read(spark, dw)
      .as[(Long, Long, String, Long)].collect().toSet
    DwellSink.compact(spark, dw)
    assert(DwellSink.read(spark, dw)
      .as[(Long, Long, String, Long)].collect().toSet == dRead)

    val ses = tmp("lc_session") + "/s"
    val sv = Seq((10L, 1000000L, 3L, 600000000L, 1L))
      .toDF("user_id", "start_us", "n_events", "dur_us", "converted")
    SessionSink.writer(ses)(sv, 0L)
    val sesRead = SessionSink.read(spark, ses)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    SessionSink.compact(spark, ses)
    assert(SessionSink.read(spark, ses)
      .as[(Long, Long, Long, Long, Long)].collect().toSet == sesRead)

    val pit = tmp("lc_pit") + "/p"
    val pv = Seq((10L, 7L, 123456789L, 2L, Option(5L)))
      .toDF("user_id", "event_id", "ts_us", "state_version", "state_k")
    PitSink.writer(pit)(pv, 0L)
    val piRead = PitSink.read(spark, pit)
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet
    PitSink.compact(spark, pit)
    assert(PitSink.read(spark, pit)
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet == piRead)
  }

  // ---------------------------------------------------------------- merge sink

  test("bench registry layout: writer segments readable by registry(), set invariant under compaction and replay") {
    val reg = tmp("lc_benchreg") + "/r"
    // bench docs (id < 20) across two batches; training rows ignored
    val b1 = Seq((0L, "alpha beta gamma delta epsilon"),
      (25L, "training noise never stored")).toDF("doc_id", "text")
    val b2 = Seq((1L, "beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    graft.sinks.BenchRegistrySink.writer(reg)(b1, 0L)
    graft.sinks.BenchRegistrySink.writer(reg)(b2, 1L)
    val set0 = graft.sinks.BenchRegistrySink.registry(spark, reg)
      .distinct().as[Long].collect().toSet
    // both docs' 4-grams present: 2 starts each, one gram shared
    // ("beta gamma delta epsilon") → 3 distinct hashes
    assert(set0.size == 3, s"expected 3 distinct gram hashes, got $set0")
    graft.sinks.BenchRegistrySink.writer(reg)(b2, 1L) // replay overwrite
    assert(graft.sinks.BenchRegistrySink.registry(spark, reg)
      .distinct().as[Long].collect().toSet == set0)
    graft.sinks.BenchRegistrySink.compact(spark, reg)
    assert(graft.sinks.BenchRegistrySink.registry(spark, reg)
      .distinct().as[Long].collect().toSet == set0,
      "compaction must preserve the registry set exactly")
    // empty store reads as the empty registry (cold-start contract)
    assert(graft.sinks.BenchRegistrySink
      .registry(spark, tmp("lc_benchreg_empty")).count() == 0)
  }

  // ---------------------------------------------------------------- bucketed layout

  test("bucketed layout __meta pin: bootstrap/delta/fold all read by the snapshot") {
    val loc = tmp("lc_bucketed") + "/t"
    val base = "lc_compat_" + math.abs(loc.hashCode).toString
    def rows(a: Int, b: Int): DataFrame =
      (a until b).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    Bucketing.bootstrapBucketed(rows(0, 40), loc, base, "k", 4)
    val (m1, t1) = Bucketing.bucketedSnapshot(spark, loc, base)
    assert(m1.count() == 40L && t1.isEmpty)
    Bucketing.ingestBucketedDelta(rows(40, 50), loc, 0L)
    val (m2, t2) = Bucketing.bucketedSnapshot(spark, loc, base)
    val all2 = t2.map(m2.unionByName(_)).getOrElse(m2)
      .select(col("k")).as[Long].collect().toSet
    assert(all2 == (0L until 50L).toSet,
      "snapshot must read bootstrap AND delta segments")
    Bucketing.foldBucketedDeltas(spark, loc, base)
    val (m3, t3) = Bucketing.bucketedSnapshot(spark, loc, base)
    val all3 = t3.map(m3.unionByName(_)).getOrElse(m3)
      .select(col("k")).as[Long].collect().toSet
    assert(all3 == all2, "fold must not change snapshot content")
  }

  test("pruned live read racing compaction's delete phase re-lists instead of silently dropping the folded rows") {
    // The hazard: a probe lists segment ids, a concurrent compact
    // renames its fold live and DELETES the folded segments, and only
    // then does the probe list each segment's child dirs — the deleted
    // segments list empty (childDirs of a missing path returns empty,
    // not PATH_NOT_FOUND), the fold is absent from the probe's id
    // listing, and pre-fix the probe planned over the sole survivor:
    // the folded rows (the bulk of the index) silently vanished from
    // that read, so a dedup probe would admit every duplicate in the
    // racing batch. The seam interleaves the compact deterministically
    // at the widest point of the window.
    val tbl = tmp("lc_compact_race") + "/t"
    def seg(id: Long, ks: Seq[Long]): Unit =
      graft.sinks.IngestSegments.alignToLayout(
        ks.map(k => (k, (k % 2).toInt)).toDF("k", "bucket"), "bucket")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$tbl/ingest=$id")
    seg(-1L, 0L until 8L)
    seg(0L, 8L until 16L)
    seg(1L, 16L until 24L) // newest batch — compact must leave it live
    def runCompact(): Unit = graft.sinks.IngestSegments.compact(
      spark, tbl, _.select("k", "bucket").distinct(), Seq("bucket"))
    var fired = 0
    graft.sinks.IngestSegments.compactRaceHookForTests = () => {
      if (fired == 0) runCompact() // folds -1 and 0 into -2, deletes them
      fired += 1
    }
    try {
      val (df, ids) = graft.sinks.IngestSegments
        .readLivePrunedWithIds(spark, tbl, _ == "bucket=0").get
      assert(fired >= 2, "stale listing must trigger a re-list")
      val got = df.select(col("k")).as[Long].collect().toSet
      assert(got == (0L until 24L).filter(_ % 2 == 0).toSet,
        s"folded rows must survive the racing read, got $got")
      assert(ids.toSet == Set(-2L, 1L),
        s"retry must serve the post-compact listing, got $ids")
    } finally graft.sinks.IngestSegments.compactRaceHookForTests = () => ()
    // quiescent probes over the compacted table stay correct and cheap
    val again = graft.sinks.IngestSegments
      .readLivePrunedWithIds(spark, tbl, _ == "bucket=1").get._1
      .select(col("k")).as[Long].collect().toSet
    assert(again == (0L until 24L).filter(_ % 2 == 1).toSet)
  }
}
