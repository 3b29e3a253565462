package graft

import graft.functions.{SimilarityOps, TextOps}
import graft.operators.{Analytics, Relational}
import org.apache.spark.sql.functions._

/** Semantics pins for the round-11 additions q117-q120 — each on a
  * synthetic fixture whose expected answer is derived independently
  * (hand-placed geometry, hand-counted cohorts, a re-fused ranking, a
  * plain-Scala reimplementation of the weight formula), so a silent
  * change in the engine's shape shows up as a value diff here before
  * the driver's oracle gate sees it. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- q117 semantic dedup ----

  private def vecs(rows: (Long, Seq[Double])*) =
    rows.toSeq.toDF("vec_id", "v")

  test("q117: two tight groups cluster to min-id reps; a straddler joins ONE cell only (the SemDeDup boundary)") {
    // ids 0/1 seed the two k-means cells (init = k lowest ids): e1-ish
    // and e2-ish groups, plus vector 4 between them but nearer e2.
    // threshold 0.6: cos(4, e1-group) ≈ 0.69 ≥ 0.6 — a cross-cell
    // near-dup ON PURPOSE. SemDeDup never compares across cells, so 4
    // must merge with the e2 group only; a one-giant-cluster result
    // means the cell partition leaked.
    val e = vecs(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),
      1L -> Seq(0.0, 1.0, 0.0, 0.0),
      2L -> Seq(0.995, 0.1, 0.0, 0.0),
      3L -> Seq(0.1, 0.995, 0.0, 0.0),
      4L -> Seq(1.0, 1.05, 0.0, 0.0))
    val (cents, out) = SimilarityOps.semanticDedupOver(e, k = 2,
      threshold = 0.6, dims = 4)
    assert(cents.length == 2)
    val got = out.select("vec_id", "cluster_rep", "keep")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((0L, 0L, 1), (2L, 0L, 0), (1L, 1L, 1), (3L, 1L, 0),
      (4L, 1L, 0)), s"got $got")
  }

  test("q117: k=1 degenerates to exact all-pairs clustering (closure of the full cosine graph)") {
    val e = vecs(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),
      1L -> Seq(0.9, 0.1, 0.0, 0.0),
      2L -> Seq(0.0, 0.0, 1.0, 0.0),
      3L -> Seq(0.0, 0.0, 0.9, 0.3))
    val (_, out) = SimilarityOps.semanticDedupOver(e, k = 1,
      threshold = 0.9, dims = 4)
    val got = out.select("vec_id", "cluster_rep", "keep")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((0L, 0L, 1), (1L, 0L, 0), (2L, 2L, 1), (3L, 2L, 0)),
      s"got $got")
  }

  test("q117: malformed vectors are dropped before cells, never clustered") {
    val e = vecs(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),
      1L -> Seq(1.0, 0.0, 0.0, 0.0),
      2L -> Seq(1.0, 0.0)) // short — must not appear anywhere
    val (_, out) = SimilarityOps.semanticDedupOver(e, k = 1,
      threshold = 0.9, dims = 4)
    val got = out.select("vec_id", "cluster_rep").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 0L), (1L, 0L)), s"got $got")
  }

  test("collapseClusters: union-find ≡ star ≡ BFS on random multigraphs") {
    import graft.functions.DedupOps
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 8) {
      val n = 30 + rnd.nextInt(60)
      val edges = (1 to (n * 2)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      } ++ Seq((n.toLong + 5, n.toLong + 5)) // a self-pair singleton
      val pairs = edges.toDF("doc_a", "doc_b")
      val expect = DedupSpec.bfsLabels(edges).toSet
      val local = DedupOps.collapseClusters(pairs)
        .as[(Long, Long)].collect().toSet
      assert(local == expect, s"trial $trial: union-find route diverged")
      val star = DedupOps.collapseClusters(pairs, localEdgeThreshold = 0L)
        .as[(Long, Long)].collect().toSet
      assert(star == expect, s"trial $trial: star route diverged")
    }
  }

  test("q123: a same-cell benchmark near-dup flags; a cross-cell one escapes (the documented recall trade); bench never flags itself") {
    // ids 0/1 = the benchmark (nBench = 2) AND the k-means seeds, so
    // the cells split along e1 vs e2. Corpus: 2 near-dups of bench 0
    // (same cell), 3 far from everything, and 4 = the straddler that
    // is near bench 0 by cosine but lands in cell 1 — must escape.
    val e = vecs(
      0L -> Seq(1.0, 0.0, 0.0, 0.0),
      1L -> Seq(0.0, 1.0, 0.0, 0.0),
      2L -> Seq(0.995, 0.1, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 1.0, 0.0),
      4L -> Seq(1.0, 1.05, 0.0, 0.0))
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val got = SimilarityOps
      .semanticDecontamWith(e, cents, nBench = 2, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
      .map { case (id, n, c) => id -> ((n, c)) }.toMap
    // vec 2: cos to bench0 ≈ .995 — flagged with 1 hit. vec 4: cos to
    // bench0 ≈ .69 ≥ .6 BUT lives in cell 1 with bench1 (cos ≈ .724 ≥
    // .6 — flagged via bench1, 1 hit). vec 3: orthogonal — clean.
    assert(got.keySet == Set(2L, 4L), s"got $got")
    assert(got(2L)._1 == 1L && got(2L)._2 > 0.99, s"got $got")
    assert(got(4L)._1 == 1L && got(4L)._2 < 0.75, s"got $got")
  }

  test("q125: Misra-Gries candidates are a SUPERSET of true heavy hitters on adversarial streams; the exact pass equals brute force") {
    import graft.functions.TextOps
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      // a skewed stream plus churn: lots of distinct near-threshold
      // tokens forcing constant decrement-all churn in the sketch
      val words = (1 to 3).map(i => s"hot$i") ++
        (1 to 200).map(i => s"t$i")
      val weights = Seq(40, 30, 25) ++ Seq.fill(200)(1 + rnd.nextInt(3))
      val stream = rnd.shuffle(words.zip(weights).flatMap {
        case (w, n) => Seq.fill(n)(w) })
      val docs = stream.grouped(25).zipWithIndex
        .map { case (g, i) => (i.toLong, "en", g.mkString(" ")) }.toSeq
        .toDF("doc_id", "lang", "text")
      val k = 10
      val total = stream.size
      val expected = stream.groupBy(identity).view.mapValues(_.size.toLong)
        .filter { case (_, n) => n > total / k.toDouble }
        .toMap
      val got = TextOps.heavyTokensOver(docs, k)
        .as[(String, Long)].collect().toMap
      assert(got == expected, s"trial $trial: got $got expected $expected")
    }
  }

  test("q124: the latest prior click gets the credit; clickless or click-after purchases attribute nothing") {
    val ev = Seq(
      // user 1: click d1, click d2, purchase 10.0 → credited to d2
      (1L, 1L, "2024-01-01 10:00:00", "click", 0.0),
      (2L, 1L, "2024-01-02 10:00:00", "click", 0.0),
      (3L, 1L, "2024-01-03 10:00:00", "purchase", 10.0),
      // user 2: purchase BEFORE its only click → dropped
      (4L, 2L, "2024-01-01 09:00:00", "purchase", 99.0),
      (5L, 2L, "2024-01-01 10:00:00", "click", 0.0),
      // user 3: click d2 then two purchases → both credited to d2
      (6L, 3L, "2024-01-02 08:00:00", "click", 0.0),
      (7L, 3L, "2024-01-02 09:00:00", "purchase", 1.5),
      (8L, 3L, "2024-01-04 09:00:00", "purchase", 2.25),
      // null-ts events are outside every sequence — no credit moves
      (9L, 3L, null, "purchase", 77.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Analytics.lastTouchAttributionOver(ev)
      .as[(String, Long, Double)].collect()
      .map { case (d, n, v) => d -> ((n, v)) }.toMap
    assert(got == Map("2024-01-02" -> ((3L, 13.75))), s"got $got")
  }

  // ---- q118 retention cohorts ----

  test("q118: hand-counted cohort matrix; duplicate same-day events collapse") {
    val ev = Seq(
      // user 10: first 2024-01-01, active again on the 3rd (twice)
      (10L, "2024-01-01 08:00:00"), (10L, "2024-01-03 09:00:00"),
      (10L, "2024-01-03 23:59:59"),
      // user 20: only 2024-01-01
      (20L, "2024-01-01 12:00:00"),
      // user 30: first 2024-01-02, active the 3rd
      (30L, "2024-01-02 01:00:00"), (30L, "2024-01-03 02:00:00"))
      .toDF("user_id", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Analytics.retentionCohortsOver(ev)
      .as[(String, Int, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 0, 2L), ("2024-01-01", 2, 1L),
      ("2024-01-02", 0, 1L), ("2024-01-02", 1, 1L)), s"got $got")
  }

  test("q121: out-of-order steps never count; same-timestamp order resolves by event_id; each user counts once") {
    val ev = Seq(
      // user 1: full ordered funnel (and a duplicate purchase — distinct)
      (1L, 1L, "2024-01-01 00:00:01", "view"),
      (2L, 1L, "2024-01-01 00:00:02", "click"),
      (3L, 1L, "2024-01-01 00:00:03", "purchase"),
      (4L, 1L, "2024-01-01 00:00:04", "purchase"),
      // user 2: click BEFORE its view — click/purchase must not count
      (5L, 2L, "2024-01-01 00:00:01", "click"),
      (6L, 2L, "2024-01-01 00:00:02", "view"),
      (7L, 2L, "2024-01-01 00:00:03", "purchase"),
      // user 3: view and click share a timestamp; event_id orders the
      // view FIRST, so the click qualifies — but purchase precedes both
      (8L, 3L, "2024-01-01 00:00:00", "purchase"),
      (9L, 3L, "2024-01-01 00:00:05", "view"),
      (10L, 3L, "2024-01-01 00:00:05", "click"),
      // user 4: purchase at the SAME ts as the qualified click — the
      // ROW frame sees the lower-event_id click as strictly before, so
      // the purchase qualifies (sequence = row order, ties by id)
      (11L, 4L, "2024-01-01 00:00:01", "view"),
      (12L, 4L, "2024-01-01 00:00:02", "click"),
      (13L, 4L, "2024-01-01 00:00:02", "purchase"),
      // a null-ts purchase has no position in any sequence — ignored
      // (the engines also disagree on where nulls sort)
      (14L, 2L, null, "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Analytics.funnelStepsOver(ev)
      .as[(Long, Long, Long)].collect().head
    // views: users 1,2,3,4 — click-after-view: 1,3,4 — purchase after
    // that: users 1 and 4 (user 3's purchase precedes its view)
    assert(got == ((4L, 3L, 2L)), s"got $got")
  }

  test("q122 sink: cross-batch duplicate (user, day) pairs collapse; replay and compact preserve the set; matrix == batch") {
    import graft.sinks.RetentionSink
    val loc = java.nio.file.Files
      .createTempDirectory("retention-sink-spec").toString
    def ev(rows: (Long, Long, String)*) = rows.toSeq
      .toDF("event_id", "user_id", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    // user 1 active on day1 in BOTH batch 0 and batch 1 (straddles the
    // cut); user 2 in batch 1 only; batch 1 then replayed (at-least-once)
    val b0 = ev((1L, 1L, "2024-03-01 10:00:00"), (2L, 1L, "2024-03-02 10:00:00"))
    val b1 = ev((3L, 1L, "2024-03-01 23:00:00"), (4L, 2L, "2024-03-02 05:00:00"))
    RetentionSink.writer(loc)(b0, 0L)
    RetentionSink.writer(loc)(b1, 1L)
    RetentionSink.writer(loc)(b1, 1L) // replay
    val set1 = RetentionSink.read(spark, loc)
      .select(col("user_id"), col("day").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(set1 == Set((1L, "2024-03-01"), (1L, "2024-03-02"),
      (2L, "2024-03-02")), s"got $set1")
    RetentionSink.compact(spark, loc)
    val set2 = RetentionSink.read(spark, loc)
      .select(col("user_id"), col("day").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(set2 == set1, "compaction changed the activity set")
    // the matrix over the lifecycle state == the batch q118 answer
    val viaSink = Analytics.cohortMatrixOf(RetentionSink.read(spark, loc))
      .as[(String, Int, Long)].collect().toSet
    val batch = Analytics.retentionCohortsOver(b0.union(b1))
      .as[(String, Int, Long)].collect().toSet
    assert(viaSink == batch, s"sink $viaSink != batch $batch")
    assert(viaSink == Set(("2024-03-01", 0, 1L), ("2024-03-01", 1, 1L),
      ("2024-03-02", 0, 1L)), s"got $viaSink")
  }

  // ---- q119 hybrid RRF ----

  test("q119: fusion equals an independently re-fused (rank_t, rank_v) pair; both-list docs outrank single-list peers at equal rank") {
    val docs = Tables.t(spark, sf0001, "documents")
    val emb = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // re-derive the two rankings with collect-side fusion
    val text = Relational.bm25MatchOver(docs, Seq("spark", "merge"), lnIdf = false)
      .as[(Long, Double)].collect()
      .sortBy { case (id, sc) => (-sc, id) }.map(_._1).zipWithIndex
      .map { case (id, i) => id -> (i + 1) }.toMap
    val q = emb.filter(col("vec_id") === 0)
      .select(col("v")).as[Seq[Double]].head.toArray
    val cos = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect()
      .map { case (id, v) =>
        val a = v.toArray
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i) * q(i); na += a(i) * a(i); nb += q(i) * q(i); i += 1
        }
        id -> BigDecimal(dot / math.sqrt(na * nb))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val vecRank = cos.sortBy { case (id, c) => (-c, id) }.take(20)
      .map(_._1).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val expected = (text.keySet ++ vecRank.keySet).toSeq
      .map { id =>
        val r = text.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          vecRank.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (id, r)
      }
      .sortBy { case (id, r) => (-r, id) }.take(15)
    val got = Relational.hybridRrfOver(docs, emb)
      .as[(Long, Double)].collect().toSeq
      .sortBy { case (id, r) => (-r, id) }
    assert(got == expected, s"got $got\nexpected $expected")
    // structural sanity on the fused list: some doc from each tier
    assert(expected.exists { case (id, _) => text.contains(id) })
    assert(expected.exists { case (id, _) => vecRank.contains(id) })
  }

  // ---- q120 DSIR weights ----

  test("q120: plain-Scala reimplementation matches; pure-target doc outweighs pure-other doc") {
    val docs = Seq(
      (1L, "en", "alpha alpha beta"),
      (2L, "de", "gamma gamma beta"),
      (3L, "en", "alpha beta gamma"))
      .toDF("doc_id", "lang", "text")
    // independent model: token -> (c_r, c_t) over the same corpus
    val corpus = Seq(
      (1L, true, Seq("alpha", "alpha", "beta")),
      (2L, false, Seq("gamma", "gamma", "beta")),
      (3L, true, Seq("alpha", "beta", "gamma")))
    val cr = corpus.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = corpus.filter(_._2).flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nR, nT, v) = (cr.values.sum, ct.values.sum, cr.size.toLong)
    def weight(toks: Seq[String]): Double = {
      val lsum = toks.map(t => math.log(ct.getOrElse(t, 0L) + 1.0) -
        math.log(cr(t) + 1.0)).sum
      val w = (lsum + toks.size *
        (math.log((nR + v).toDouble) - math.log((nT + v).toDouble))) / toks.size
      BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = corpus.map { case (id, _, toks) => id -> weight(toks) }.toMap
    val got = TextOps.dsirWeightsOver(docs)
      .as[(Long, Double)].collect().toMap
    assert(got == expected, s"got $got expected $expected")
    // the en-vocab doc must outweigh the de-vocab doc under target=en
    assert(got(1L) > got(2L), s"target-domain doc should score higher: $got")
  }

  // ---- q134 triplet mining ----

  test("q134: hardest positive and hardest negative per anchor; ties break to the smaller id; a peerless label yields null positive") {
    def emb(id: Long, label: Int, v: Double*) = (id, label, v.toSeq)
    val e = Seq(
      emb(0L, 1, 1.0, 0.0, 0.0, 0.0), // anchor A
      emb(1L, 3, 0.0, 0.0, 0.0, 1.0), // anchor B — label 3 is peerless
      emb(100L, 1, 0.9, 0.1, 0.0, 0.0), // A's hardest positive
      emb(101L, 1, 0.0, 1.0, 0.0, 0.0), // same label, orthogonal
      emb(102L, 2, 0.8, 0.2, 0.0, 0.0), // A's hardest negative...
      emb(103L, 2, 0.8, 0.2, 0.0, 0.0), // ...duplicated: id tie -> 102
      emb(104L, 2, 0.0, 0.0, 1.0, 0.0))
      .toDF("vec_id", "label", "embedding")
    val got = functions.SimilarityOps.tripletMiningOver(e)
      .as[(Long, Int, Option[Long], Option[Double], Option[Long], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    assert(got(0L) == ((0L, 1, Some(100L), Some(cos(a, Seq(0.9, 0.1, 0.0, 0.0))),
      Some(102L), Some(cos(a, Seq(0.8, 0.2, 0.0, 0.0))))), s"got ${got(0L)}")
    // anchor B: label 3 has no peer -> null positive; negatives exist
    val b = got(1L)
    assert(b._3.isEmpty && b._4.isEmpty, s"expected null positive: $b")
    assert(b._5.isDefined, s"expected a negative: $b")
  }

  // ---- q135 bigram LM ----

  test("q135: plain-Scala reimplementation matches; common-words-in-rare-order scores lower than a common sequence") {
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the cat sat"),
      (3L, "the cat sat"),
      (4L, "sat the cat"), // same unigrams, RARE order
      (5L, "x"))           // no bigram -> absent
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val corpus = Map(
      1L -> Seq("the", "cat", "sat"), 2L -> Seq("the", "cat", "sat"),
      3L -> Seq("the", "cat", "sat"), 4L -> Seq("sat", "the", "cat"),
      5L -> Seq("x"))
    val bi = corpus.toSeq.flatMap { case (_, t) => t.zip(t.drop(1)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val uni = corpus.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val v = uni.size.toLong
    def score(toks: Seq[String]): Double = {
      val pairs = toks.zip(toks.drop(1))
      val s = pairs.map { case p@(w1, _) =>
        math.log((bi(p) + 1.0) / (uni(w1) + v)) }.sum / pairs.size
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val got = functions.TextOps.bigramLmQualityOver(docs)
      .as[(Long, Double)].collect().toMap
    val expected = corpus.filter(_._2.size >= 2)
      .map { case (id, t) => id -> score(t) }
    assert(got == expected, s"got $got expected $expected")
    assert(got(4L) < got(1L),
      s"rare word ORDER must score lower at equal unigrams: $got")
  }
}
