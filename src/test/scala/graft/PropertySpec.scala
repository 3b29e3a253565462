package graft

import graft.operators.LogFanout
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties (SURVEY.md §5.3): the fan-out partitions its
  * input; dedup is idempotent; sessionization conserves events. */
class PropertySpec extends SparkSpec {

  private def check(prop: Prop, minTests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }
  import spark.implicits._

  private val genCommon: Gen[String] = for {
    mid <- Gen.choose(1, 5).map(i => s"mid_$i")
    uid <- Gen.choose(1, 9)
  } yield s""""common":{"mid":"$mid","uid":"$uid"}"""

  private val genRecord: Gen[String] = for {
    common <- genCommon
    hasErr <- Gen.prob(0.2)
    hasPage <- Gen.prob(0.6)
    hasStart <- Gen.prob(0.3)
    nDisp <- Gen.choose(0, 3)
    ts <- Gen.choose(1645400000000L, 1645500000000L)
  } yield {
    val parts = Seq(Some(common),
      if (hasErr) Some(""""err":{"error_code":1,"msg":"x"}""") else None,
      if (hasPage) Some(s""""page":{"page_id":"p","during_time":5}""") else None,
      if (hasPage && nDisp > 0) Some(
        s""""displays":[${Seq.fill(nDisp)("""{"display_type":"t","item":"1","item_type":"s","pos_id":"1","order":"1"}""").mkString(",")}]""")
      else None,
      if (hasStart) Some(""""start":{"entry":"icon","open_ad_id":"1","loading_time":1,"open_ad_ms":1,"open_ad_skip_ms":0}""") else None,
      Some(s""""ts":$ts""")).flatten
    s"{${parts.mkString(",")}}"
  }

  test("fan-out partitions the input: err + clean-with-page + clean-page-less accounts for every record") {
    check(Prop.forAllNoShrink(Gen.listOfN(30, genRecord)) { records =>
      val raw = records.toDF("value")
      val f = LogFanout.fanout(raw)
      val nErr = f("error").count()
      val parsed = graft.sources.Envelopes.parseLog(raw)
      val clean = parsed.filter(col("j.err").isNull && col("j._corrupt").isNull)
      val nPage = clean.filter(col("j.page").isNotNull).count()
      val nNoPage = clean.filter(col("j.page").isNull).count()
      nErr + nPage + nNoPage == records.length &&
        f("page").count() == nPage &&
        // every display row's parent is a clean page record
        f("display").count() ==
          clean.filter(col("j.page").isNotNull)
            .select(explode(col("j.displays"))).count()
    }, 10)
  }

  test("dedup idempotency over arbitrary event subsets") {
    val base = Tables.t(spark, sf0001, "events")
      .select(col("user_id").cast("string").as("mid"), col("ts"))
    check(Prop.forAllNoShrink(Gen.choose(1L, 1000L)) { seed =>
      val sample = base.sample(0.3, seed)
      val once = streaming.Streams.dauDedup(sample)
      val twice = streaming.Streams.dauDedup(once.drop("dt"))
      once.count() == twice.count()
    }, 5)
  }

  test("stream-stream join over arbitrary arrival interleavings ≡ batch inner join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      // orders 1..6, each with 0-2 details, timestamps within one day
      val base = java.sql.Timestamp.valueOf("2024-01-01 08:00:00").getTime
      def ts(offsetMin: Int) = new java.sql.Timestamp(base + offsetMin * 60000L)
      val infos = (1 to 6).map(i => (i.toLong, ts(rnd.nextInt(600)), i * 10.0))
      val details = (1 to 6).flatMap(i =>
        (0 until rnd.nextInt(3)).map(j => (i.toLong, ts(rnd.nextInt(600)), s"sku_${i}_$j")))
      val info = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val det = MemoryStream[(Long, java.sql.Timestamp, String)]
      val joined = streaming.Streams.orderWideJoin(
        info.toDF().toDF("order_id", "ts", "amount"),
        det.toDF().toDF("order_id", "ts", "sku"))
        .select(col("info_order_id"), col("sku"))
      val q = joined.writeStream.format("memory")
        .queryName(s"prop_join_$trial").outputMode("append").start()
      try {
        // random interleaving: each side's rows split across 3 batches
        val infoBatches = infos.groupBy(_ => rnd.nextInt(3)).toSeq.sortBy(_._1)
        val detBatches = details.groupBy(_ => rnd.nextInt(3)).toSeq.sortBy(_._1)
        (0 until 3).foreach { b =>
          infoBatches.find(_._1 == b).foreach(g => info.addData(g._2))
          detBatches.find(_._1 == b).foreach(g => det.addData(g._2))
          q.processAllAvailable()
        }
        val streamed = spark.table(s"prop_join_$trial")
          .as[(Long, String)].collect().toSet
        val expected = details.map(d => (d._1, d._3)).toSet // every detail has an info
        assert(streamed == expected, s"trial $trial")
      } finally q.stop()
    }
  }

  test("sessionization conserves events per user") {
    val sess = operators.Analytics.sessionize(spark, sf0001)
      .agg(sum(col("n_events"))).as[Long].collect()(0)
    val total = Tables.t(spark, sf0001, "events").count()
    assert(sess == total)
  }

  test("fused fingerprint runtimes ≡ single-purpose runtimes over arbitrary text (pure, no Spark)") {
    // DedupSpec pins the expression wiring (codegen path) on fixed
    // docs; this drives the shared static runtimes over arbitrary
    // token streams — unicode, empty tokens from doubled spaces,
    // leading/trailing separators — where a fusion bug in the
    // edge handling (run starts, sub-width docs) would hide.
    import graft.expressions.TextHashRuntime._
    import org.apache.spark.unsafe.types.UTF8String
    val genTok: Gen[String] = Gen.frequency(
      6 -> Gen.alphaNumStr.map(_.take(5)),
      2 -> Gen.const(""),                       // doubled-space empties
      1 -> Gen.const("日本語テキスト"),
      1 -> Gen.const("émo🦊ji"))
    val genText: Gen[String] =
      Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, genTok)).map(_.mkString(" "))
    check(Prop.forAllNoShrink(genText, Gen.choose(1, 40), Gen.choose(1, 4)) {
      (s, perms, width) =>
        val t = UTF8String.fromString(s)
        val fp = dedupFingerprint(t, perms, width).toLongArray()
        val sig = minhash(t, perms, width).toLongArray().toSeq
        val hs = shingleHashes(t, width).toLongArray().toSeq
        val fpOk = fp(0) == simhash(t) && fp(1) == hs.size.toLong &&
          fp.drop(2).toSeq == sig
        val row = sigSortedShingles(t, perms, width)
        val ssOk = row.getArray(0).toLongArray().toSeq == sig &&
          row.getArray(1).toLongArray().toSeq == hs.sorted
        fpOk && ssOk
    }, minTests = 300)
  }

  test("packShard invariants over arbitrary token sequences (pure, no Spark)") {
    import graft.operators.Analytics.{packShard, PackIn}
    val genDocs: Gen[List[Long]] =
      Gen.listOf(Gen.frequency(
        8 -> Gen.choose(1L, 500L),      // normal docs
        1 -> Gen.choose(2000L, 3000L),  // near/over budget
        1 -> Gen.const(2048L)))         // exactly at budget
    check(Prop.forAllNoShrink(genDocs) { toks =>
      val docs = toks.zipWithIndex.map { case (n, i) => PackIn(0L, i.toLong, n) }
      val bins = packShard(0L, docs.iterator).toList
      val lossless = bins.map(_.n_docs).sum == docs.length &&
        bins.map(_.tok_filled).sum == toks.sum
      val dense = bins.map(_.bin) == bins.indices.map(_.toLong)
      val noSplit = bins.forall(b => b.tok_filled <= 2048L || b.n_docs == 1L)
      val maximal = bins.zip(bins.drop(1)).forall { case (a, b) =>
        a.tok_filled + docs(b.first_doc.toInt).n_tokens > 2048L
      }
      val contiguous = bins.zip(bins.drop(1)).forall { case (a, b) =>
        a.last_doc < b.first_doc
      }
      lossless && dense && noSplit && maximal && contiguous
    }, minTests = 200)
  }

  test("incremental clustering ≡ batch over arbitrary stepped edge graphs") {
    // random multigraphs over a small id space (forcing shared nodes,
    // chains, merges, reflexive edges, duplicate edges) sliced into 1-4
    // arbitrary steps: the maintained label table must equal one batch
    // collapse over the union — the q115 invariant, free of any fixture
    // structure
    val genEdges: Gen[List[(Long, Long, Long)]] = for {
      nSteps <- Gen.choose(1, 4)
      n <- Gen.choose(1, 25)
      edges <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 14L)
        b <- Gen.choose(0L, 14L)
        s <- Gen.choose(0L, nSteps - 1L)
      } yield (a, b, s))
    } yield edges
    check(Prop.forAllNoShrink(genEdges) { edges =>
      val df = edges.toDF("doc_a", "doc_b", "step")
      val inc = functions.DedupOps.incrementalClusters(df)
        .as[(Long, Long)].collect().toSet
      inc == DedupSpec.bfsLabels(edges.map(e => (e._1, e._2))).toSet
    }, minTests = 15) // each trial runs several Spark jobs per step —
                      // 15 random graphs already cover merge/reflexive/
                      // duplicate shapes without doubling the suite
  }
}
