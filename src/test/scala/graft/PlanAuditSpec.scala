package graft

import org.apache.spark.sql.functions._

/** Plan-shape audits for the round-2 rewrites: the claims in the
  * scaladocs (single scan, no fan-out join, pruned probes) are asserted
  * here against the executed plans, not just stated. */
class PlanAuditSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    // AQE appends an "== Initial Plan ==" section; audit the final plan only
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  // walkPlan — the anchor-free way to audit a specific join side
  // (substring windows over the plan text anchor on the wrong subtree
  // the moment a BuildLeft broadcast or SMJ fallback reorders it) — is
  // the shared SparkSpec helper.

  test("q118 cohorts: one events scan, no join, user agg + cell agg exchanges only") {
    val plan = executedPlan(operators.Analytics.retentionCohorts(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"),
      s"the collect_set shape must not join first-day back:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"expected user-agg + cell-agg exchanges only, got $exchanges:\n$plan")
  }

  test("q121 funnel: one events scan, no join, both window passes share one user sort") {
    val plan = executedPlan(operators.Analytics.funnelSteps(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"),
      s"the window cascade must never become the events² self-join:\n$plan")
    // the two cascaded Window passes must reuse ONE (user, ts, id)
    // sort: a second Sort means the specs diverged and the cascade
    // pays the ordering twice
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    val sorts = "\\bSort\\b".r.findAllIn(plan).length
    assert(windows >= 2, s"expected the two cascade passes:\n$plan")
    assert(sorts == 1,
      s"expected one shared window sort, got $sorts:\n$plan")
  }

  test("q120 DSIR: the vocab model joins by BROADCAST — the token stream never sort-merges") {
    val plan = executedPlan(functions.TextOps.dsirWeights(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"model join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge here shuffles the whole token stream:\n$plan")
  }

  test("q119 RRF: both tiers end in TakeOrdered; the fusion join's inputs ARE the top-k frames") {
    val df = operators.Relational.hybridRrf(spark, sf0001)
    df.collect()
    val nodes = walkPlan(df.queryExecution.executedPlan)
    val topk = nodes.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t }
    assert(topk.size >= 3, // two tier top-20s + the fused top-15
      s"expected both tiers' top-k + the fused limit, got ${topk.size}")
    // FULL OUTER can't broadcast, so the fusion is a merge join — fine
    // ONLY because each side is a 20-row TakeOrdered output; a corpus
    // subtree on either side means a tier's top-k stopped fusing
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(joins.size == 1, s"expected exactly the fusion join, got ${joins.size}")
    joins.head.children.foreach { side =>
      assert(walkPlan(side).exists(
        _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
        s"a fusion input is not a top-k frame:\n$side")
    }
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "no cartesian anywhere in the fused plan")
  }

  test("q15 single-pass pivot: exactly one events scan, no join") {
    val plan = executedPlan(operators.Relational.dauDayOverDay(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"pivot form must not join:\n$plan")
  }

  test("q66 phrase search: probe pass is scan → literal filter → 3-key distinct, no join") {
    // the top-3 phrases are driver-enumerated literals (the
    // probeAnnLshIndex pattern), so the probe plan must be ONE
    // documents scan whose isin filter runs BEFORE the posting
    // distinct — the distinct's exchange then carries only the 3
    // matched phrases' postings, never the full inverted list. The
    // old broadcast-join shape shuffled the whole corpus-sized list a
    // second time because the two branches' distinct exchanges never
    // canonicalized equal (reuse 0, measured).
    val df = functions.TextOps.phraseSearch(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected ONE documents scan, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"literal pruning must not join:\n$plan")
    assert(plan.contains("INSET") || plan.contains(" IN ("),
      s"expected the top-3 isin filter in the probe plan:\n$plan")
    // the filter must sit below the distinct's exchange (pre-shuffle
    // pruning): the Exchange subtree itself contains the IN filter
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(exchangeIdx >= 0, s"expected the posting distinct's exchange:\n$plan")
    val below = plan.substring(exchangeIdx)
    assert(below.contains("INSET") || below.contains(" IN ("),
      s"isin filter must run below the distinct exchange:\n$below")
  }

  test("q50 as-of merge form: one window, no join, both scans read once") {
    val plan = executedPlan(operators.Analytics.asofJoin(spark, sf0001))
    assert(!plan.contains("Join"), s"merge form must not join:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected orders + events scans only, got $scans:\n$plan")
    val windows = "Window".r.findAllIn(plan).length
    // one Window node computing both running last() columns
    assert(plan.contains("Window"), s"expected the running-state window:\n$plan")
  }

  test("q05 order-wide: dims broadcast, no dim-side shuffle") {
    val plan = executedPlan(operators.Relational.orderWide(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"dim joins should broadcast:\n$plan")
  }

  test("q02 DAU scan prunes to ts + user_id") {
    val plan = executedPlan(operators.Relational.dauTotal(spark, sf0001))
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
    assert(read.exists(s => s.contains("ts") && s.contains("user_id") &&
        !s.contains("props") && !s.contains("event_type")),
      s"expected a two-column scan, got $read")
  }

  test("q21 fused quality score: no regexp and a single project over the scan") {
    val df = functions.TextOps.qualityScore(spark, sf0001)
    val plan = executedPlan(df)
    assert(plan.contains("text_stats"), s"expected the fused expression:\n$plan")
    assert(!plan.toLowerCase.contains("regexp"),
      s"fused form must not run regexp_replace:\n$plan")
  }

  test("q55 scored match: corpus stats broadcast, no sort before the top-k") {
    val plan = executedPlan(operators.Relational.scoredMatch(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row stats side must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy+limit should fuse into a top-k, not a global sort:\n$plan")
  }

  test("q79 BM25: same shape as q55 — stats broadcast, top-k fused, corpus never shuffled") {
    val plan = executedPlan(operators.Relational.bm25Match(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 1-row stats side must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy+limit should fuse into a top-k, not a global sort:\n$plan")
    // the only exchanges allowed are the stats aggregation's (partial →
    // final over one row) and the broadcast itself — the scoring scan
    // must read documents exactly twice (stats pass + scoring pass)
    // with no shuffle of corpus rows
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no corpus row may shuffle on a hash key:\n$plan")
  }

  test("q80 PII scrub: map-only — no shuffle, no join, one documents scan") {
    val plan = executedPlan(functions.TextOps.piiScrub(spark, sf0001))
    assert(!plan.contains("Exchange"), s"redaction must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"redaction must not join:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one documents scan, got $scans:\n$plan")
  }

  test("q81 chunk dedup: exactly two hash exchanges — chunk-key window, doc_id reassembly") {
    val plan = executedPlan(functions.TextOps.chunkDedup(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"expected the keeper-window + reassembly exchanges only, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"reassembly is an agg, not a join:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one documents scan, got $scans:\n$plan")
  }

  test("q56 winnowing: map-only — no shuffle, no join, one documents scan") {
    val plan = executedPlan(functions.TextOps.winnowFingerprint(spark, sf0001))
    assert(!plan.contains("Exchange"), s"winnowing must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"winnowing must not join:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one documents scan, got $scans:\n$plan")
  }

  test("q61 decontamination: benchmark side broadcast — no corpus-side shuffle before the count") {
    // tree-walked, not substring-windowed: buildSide names the streamed
    // side precisely, so the audit survives BuildLeft and any text
    // layout change
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = functions.DedupOps.decontaminate(spark, sf0001)
    df.collect()
    val all = walkPlan(df.queryExecution.executedPlan)
    val bhj = all.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"the tiny benchmark shingle set must broadcast:\n" +
        df.queryExecution.executedPlan)
    // the corpus (streamed) side runs scan → explode → join with no
    // shuffle. (The bench side's own distinct shuffle and the final
    // per-doc count shuffle are expected and benign.)
    val streamed = walkPlan(
      if (bhj.get.buildSide == BuildLeft) bhj.get.right else bhj.get.left)
    assert(streamed.exists(_.isInstanceOf[FileSourceScanExec]),
      s"the streamed side must be the corpus parquet scan:\n${bhj.get}")
    assert(!streamed.exists(_.isInstanceOf[Exchange]),
      s"corpus side must reach the join unshuffled:\n${bhj.get}")
  }

  test("q54 verify stage: candidate pairs join vectors via broadcast, no cartesian") {
    // q54 is one straight pipeline since the round-5 rewrite (no
    // persist/localCheckpoint), so the executed plan IS the whole query:
    // the verify tier must score through the fused cosine_sim inside
    // codegen and join vectors back by id, never a cartesian
    val plan = executedPlan(functions.SimilarityOps.embeddingDupsBucketed(spark, sf0001))
    assert(plan.contains("cosine_sim"),
      s"verify must use the fused CosineSim, not the HOF composition:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"verify joins must be keyed:\n$plan")
    assert(!plan.contains("zip_with") && !plan.contains("aggregate(lambda"),
      s"no interpreted HOF math may remain in the q54 plan:\n$plan")
    val planes = functions.SimilarityOps.hyperplanes(64, 32)
    val e = Tables.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val banded = e.select(col("vec_id"),
      explode(functions.SimilarityOps.signBands(col("v"), planes, 2)).as("b"))
    val cand = banded.as("a").join(banded.as("b"),
      col("a.b") === col("b.b") && col("a.vec_id") < col("b.vec_id"))
    val candPlan = executedPlan(cand.select(col("a.vec_id"), col("b.vec_id")))
    assert(!candPlan.contains("CartesianProduct"),
      s"band candidates must come from an equi-join:\n$candPlan")
  }

  test("q75 Bloom tier: might_contain prunes the corpus side BEFORE its join exchange") {
    // Audited on the gate's LIVE plan: q75 itself returns a
    // localCheckpoint-ed frame since the round-6 release fix (its
    // executed plan is just the checkpoint scan). And audited by
    // WALKING the SparkPlan tree, not by plan-string substring windows
    // (ADVICE r5): on a SortMergeJoin fallback or a BuildLeft broadcast
    // the string windows anchor on the wrong subtree.
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // traversal: the shared walkPlan helper (descends AQE wrappers)
    def walk(p: SparkPlan): Seq[SparkPlan] = walkPlan(p)
    def hasMightContain(f: FilterExec): Boolean =
      f.condition.exists(_.isInstanceOf[BloomFilterMightContain])
    val docs = Tables.t(spark, sf0001, "documents")
    val gate = new functions.DedupOps.BloomGate(docs.filter(col("doc_id") < 20))
    try {
      val df = gate.contaminated(docs.filter(col("doc_id") >= 20), minShared = 1L)
      df.collect()
      val all = walk(df.queryExecution.executedPlan)
      // the FP-kill join: the join with the Bloom-filtered corpus subtree
      // on one side (the other side reads the gate's cached bench set)
      // anchor on the side whose might_contain filter sits over the
      // corpus PARQUET scan (FileSourceScanExec descendant) — Catalyst
      // propagates the predicate to the bench side too through the
      // join-key constraint, but the bench side reads the gate's CACHED
      // set (InMemoryTableScan), so requiring a file scan below the
      // filter keeps the anchor off it under BuildLeft/SMJ orderings
      val audited = all.collectFirst(Function.unlift { p: SparkPlan => p match {
        case j: BaseJoinExec =>
          Seq(j.left, j.right).find(side => walk(side).exists {
            case f: FilterExec => hasMightContain(f) &&
              walk(f.child).exists(_.isInstanceOf[FileSourceScanExec])
            case _ => false
          }).map(side => (j, side))
        case _ => None
      }})
      assert(audited.nonEmpty,
        s"expected a keyed FP-kill join with a might_contain corpus side:\n" +
          df.queryExecution.executedPlan)
      val (_, corpusSide) = audited.get
      val mcFilter = walk(corpusSide).collectFirst {
        case f: FilterExec if hasMightContain(f) &&
          walk(f.child).exists(_.isInstanceOf[FileSourceScanExec]) => f
      }.get
      // the prune must be map-side: below the filter sits the parquet
      // scan with NO exchange in between — any shuffle on the corpus
      // side may only run ABOVE the filter, so at scale the exchange
      // moves the contaminated sliver + FPs, never the whole corpus
      val below = walk(mcFilter.child)
      assert(below.exists(_.isInstanceOf[FileSourceScanExec]),
        s"might_contain must sit over the corpus parquet scan:\n$mcFilter")
      assert(!below.exists(_.isInstanceOf[Exchange]),
        s"no Exchange may sit between might_contain and the corpus scan:\n$mcFilter")
    } finally gate.release()
  }

  test("q82 vocab build: partial agg before the token shuffle, top-k fused, no global sort") {
    val plan = executedPlan(functions.TextOps.vocabBuild(spark, sf0001))
    // map-side combine: a partial_count must run BELOW the exchange so
    // hot tokens ("the") reach the reduce side pre-collapsed
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"token groupBy must partially aggregate map-side:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must fuse into TakeOrdered, not a global sort:\n$plan")
    // the only Sort allowed is the rank window's 200-row local sort
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no range-partitioned global sort in a top-k plan:\n$plan")
  }

  test("q83 rollup: contaminated sliver broadcasts, corpus never shuffles before the source agg") {
    // walked, not substring-matched: the sliver's OWN dedup exchange
    // lives inside the broadcast subtree and is sliver-sized — only the
    // corpus (streamed) side must reach the flag join shuffle-free
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def walk(p: SparkPlan): Seq[SparkPlan] = walkPlan(p)
    val df = functions.DedupOps.contaminationReport(spark, sf0001)
    df.collect()
    val joins = walk(df.queryExecution.executedPlan)
      .collect { case j: BroadcastHashJoinExec => j }
    val flagJoin = joins.find(_.joinType.sql == "LEFT OUTER")
      .getOrElse(fail(s"no broadcast left-outer flag join:\n${df.queryExecution.executedPlan}"))
    val streamed = flagJoin.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => flagJoin.left
      case _ => flagJoin.right
    }
    assert(!walk(streamed).exists(_.isInstanceOf[Exchange]),
      s"corpus side must reach the flag join shuffle-free:\n$flagJoin")
  }

  test("q85 stop-band: fused ngrams, TakeOrdered top-k, 1-row total broadcast") {
    val plan = executedPlan(functions.TextOps.boilerplateReport(spark, sf0001))
    assert(plan.contains("token_ngrams"), s"must run the fused expression:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must fuse, not globally sort:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no range-partitioned sort in a top-k plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row corpus total must broadcast:\n$plan")
  }

  test("q87 binned range join: equi on the bin key, never a nested-loop or cartesian") {
    val plan = executedPlan(operators.Analytics.rangeJoin(spark, sf0001))
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"range join degenerated to per-pair evaluation:\n$plan")
    assert(plan.contains("Join") && plan.contains("bin"),
      s"expected an equi join keyed on the time bin:\n$plan")
    // the exact-range residual must run inside the join, not as a
    // post-join filter stage over a wider intermediate
    assert("Join.*bin".r.findFirstIn(plan).isDefined, s"no bin key on the join:\n$plan")
  }

  test("q64 star join: every dim side broadcast, region filter pushed to its scan") {
    val plan = executedPlan(operators.Relational.localSupplierVolume(spark, sf0001))
    val bcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bcasts >= 3,
      s"supplier/nation/region must all broadcast, got $bcasts:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"star join degenerated:\n$plan")
    assert(plan.contains("ASIA"),
      s"region filter should appear as a pushed predicate:\n$plan")
  }

  test("q65 index build: exactly the two distinct-agg exchanges, fused ngrams, pruned scan") {
    val plan = executedPlan(functions.TextOps.phraseIndex(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 exchanges (distinct agg), got $exchanges:\n$plan")
    assert(plan.contains("token_ngrams"), s"must run the fused expression:\n$plan")
    assert(!plan.contains("transform("), s"no interpreted HOF on the hot path:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$plan")
  }

  test("q68 greedy packing: one exchange on the shard key, then a sort and the object scan") {
    val plan = executedPlan(operators.Analytics.packGreedy(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges:\n$plan")
    assert(plan.contains("MapGroups"), s"expected the typed group scan:\n$plan")
  }

  test("q71 pipeline: two hash exchanges total (content hash + shard), gates map-side") {
    val plan = executedPlan(operators.Analytics.e2ePipeline(spark, sf0001))
    // dedup keepers (hash) + packing window (shard) + the final tiny
    // per-shard agg may reuse the shard partitioning — allow 2..3 but
    // never a corpus-wide extra
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"pipeline grew extra shuffles ($exchanges):\n$plan")
    assert(plan.contains("text_stats"), s"quality gate must be the fused pass:\n$plan")
  }

  test("q67 decile gate: corpus joins a broadcast threshold; no global corpus sort") {
    val plan = executedPlan(functions.TextOps.decileFilter(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"threshold must broadcast:\n$plan")
    // the only Sort allowed is the one feeding the distinct-value window
    val sorts = "\\bSort \\[".r.findAllIn(plan).length
    assert(sorts <= 1, s"unexpected sorts ($sorts) — global corpus sort crept in:\n$plan")
  }

  test("q127 transitions: one events scan, no join, one user sort; the probability window rides the tiny grid") {
    val plan = executedPlan(operators.Analytics.eventTransitions(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"),
      s"path analysis must never become the events² self-join:\n$plan")
    // lead's user sort + the probability window's src sort — the
    // latter sorts the ≤|types|² grid, never events
    val sorts = "\\bSort \\[".r.findAllIn(plan).length
    assert(sorts <= 2, s"unexpected sorts ($sorts):\n$plan")
  }

  test("q129 SCD2: one events scan, no join, row_number and lead share ONE user sort") {
    val plan = executedPlan(operators.Analytics.scd2History(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"version chain must not join:\n$plan")
    val sorts = "\\bSort \\[".r.findAllIn(plan).length
    assert(sorts == 1,
      s"row_number and lead must share one window sort, got $sorts:\n$plan")
  }

  test("q126 resample: q120's plan + TakeOrdered — no global sort, no new exchange") {
    val p120 = executedPlan(functions.TextOps.dsirWeights(spark, sf0001))
    val p126 = executedPlan(functions.TextOps.dsirResample(spark, sf0001))
    assert(p126.contains("TakeOrderedAndProject"),
      s"the top-m cut must be TakeOrdered, not sort+limit:\n$p126")
    def exchanges(p: String) = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges(p126) == exchanges(p120),
      s"resampling must not add an exchange over q120 " +
        s"(${exchanges(p120)} -> ${exchanges(p126)}):\n$p126")
  }

  test("q132 PMI: unigram model joins by BROADCAST twice; top-k is TakeOrdered; no sort-merge") {
    val plan = executedPlan(functions.TextOps.pmiBigrams(spark, sf0001))
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 2, s"both unigram joins must broadcast, got $bhj:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the bigram frame must never sort-merge with the vocab:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 must be TakeOrdered:\n$plan")
  }

  test("q130 profiler: ONE documents scan — the multi-countDistinct rides a single Expand aggregate") {
    val plan = executedPlan(operators.Analytics.profileDocuments(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one documents scan, got $scans:\n$plan")
    assert(plan.contains("Expand"),
      s"expected the fused multi-distinct Expand plan:\n$plan")
    assert(!plan.contains("Join"), s"profiling must not join:\n$plan")
  }

  test("q136 PIT join: one events scan, NO join (the whole point), struct-max and version share ONE user sort") {
    val plan = executedPlan(operators.Analytics.pitStateJoin(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"),
      s"PIT-as-window must never become the fact⋈history range join:\n$plan")
    val sorts = "\\bSort \\[".r.findAllIn(plan).length
    assert(sorts == 1,
      s"struct-max and version count must share one sort, got $sorts:\n$plan")
  }

  test("q137 winsorize: the clip pass joins the |types|-row bounds by BROADCAST; no sort-merge, no cartesian") {
    val plan = executedPlan(operators.Analytics.winsorize(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      s"bounds must broadcast onto the clip scan:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
      s"the clip pass must not shuffle events against the bounds:\n$plan")
  }

  test("q138 dwell: one events scan, no join, one user sort, grid-sized agg exchange") {
    val plan = executedPlan(operators.Analytics.dwellTime(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans:\n$plan")
    assert(!plan.contains("Join"), s"dwell must not self-join:\n$plan")
    val sorts = "\\bSort \\[".r.findAllIn(plan).length
    assert(sorts == 1, s"expected the one lead sort, got $sorts:\n$plan")
  }

  test("q141 Gram: one embeddings scan into the gram_grid aggregate (buffer IS the grid — no pair explode); the ONLY join is the broadcast (pos→i,j) map") {
    val plan = executedPlan(functions.SimilarityOps.embeddingGram(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one embeddings scan, got $scans:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
      s"the Gram must never self-join the corpus:\n$plan")
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj == 1,
      s"exactly the grid-sized (pos→i,j) broadcast join, got $bhj:\n$plan")
    assert(plan.contains("gram_grid"),
      s"expected the TypedImperativeAggregate engine:\n$plan")
    // the posexplodes left are the grid RESULT unpack and the 1-row
    // posMap literal — the corpus-sized 125M-pair explode must be GONE:
    // nothing may generate between the partial aggregate and the scan
    val partialIdx = plan.indexOf("partial_gram_grid")
    assert(partialIdx >= 0, s"missing the partial aggregate:\n$plan")
    val scanIdx = plan.indexOf("FileScan", partialIdx)
    assert(scanIdx > partialIdx, s"no scan under the partial agg:\n$plan")
    assert(!plan.substring(partialIdx, scanIdx).contains("Generate"),
      s"a pair explode crept back under the aggregate:\n$plan")
  }

  test("q142 co-purchase: one lineitem scan, basket agg + pair agg exchanges, TakeOrdered cut") {
    val plan = executedPlan(operators.Analytics.coPurchase(spark, sf0001))
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one lineitem scan, got $scans:\n$plan")
    assert(!plan.contains("Join"),
      s"co-purchase must pair per basket, never self-join lineitem:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-50 cut must be TakeOrdered, not sort+limit:\n$plan")
  }

  test("q143 user features: hash-aggregated wide row + narrow argmax side agg, NO window, no sort under the Expand") {
    val df = operators.Analytics.userFeatures(spark, sf0001)
    df.collect()
    val nodes = walkPlan(df.queryExecution.executedPlan)
    val scans = nodes.count(_.nodeName.contains("Scan parquet"))
    // r17 split: wide numeric/distinct agg (events scan 1) + the
    // struct-argmax in its own narrow aggregate (events scan 2) + the
    // 1-row ref-day aggregate's read — the struct-typed buffer is not
    // UnsafeRow-mutable, so keeping it in the wide agg forced the WHOLE
    // countDistinct Expand frame through SortAggregate with two
    // full-width sorts (the r16 shape this pin used to bless)
    assert(scans == 3,
      s"expected events ×2 (wide agg + argmax agg) + ref-day scan, got $scans")
    assert(!nodes.exists(_.nodeName.contains("Window")),
      "the feature row must assemble in aggregates, not window passes")
    val bnlj = nodes.filter(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.size <= 1, s"only the ref-day crossJoin may nested-loop")
    // the POINT of the split: the Expand (countDistinct rewrite) frame
    // must aggregate hash-based — no SortAggregate may sit above it
    val expandIdx = nodes.indexWhere(_.nodeName.contains("Expand"))
    assert(expandIdx >= 0, "countDistinct Expand missing")
    assert(!nodes.take(expandIdx).exists(_.nodeName.contains("SortAggregate")),
      "the wide aggregate regressed to SortAggregate over the Expand frame")
  }

  test("q139 negative sampling: no user×catalog blowup — the only nested-loop is the 1-row count broadcast") {
    val df = operators.Analytics.negativeSample(spark, sf0001)
    df.collect()
    val nodes = walkPlan(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")),
      "candidate generation must never cross-join users with the catalog")
    // r18: TWO 1-row part-count broadcasts (the map-side relevance
    // filter needs n_parts on the interaction side too) — each must be
    // the 1-row count, never a users×catalog pairing
    val bnlj = nodes.filter(_.nodeName.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.size <= 2,
      s"only the two 1-row part-count crossJoins may nested-loop, got ${bnlj.size}")
    // and no rank window survives the rewrite (rank = array position)
    assert(!nodes.exists(_.nodeName.contains("Window")),
      "q139's per-user rank window must stay eliminated")
  }

  test("q154 substring spans: count pass is combiner-bound (partial agg before its exchange), no cartesian, pruned scans") {
    val plan = executedPlan(functions.DedupOps.substringSpansOver(
      graft.Tables.t(spark, sf0001, "documents"), 8))
    // the hot-gram defense IS the map-side partial: a boilerplate gram
    // occurring 10⁶ times must collapse per map partition, never arrive
    // as 10⁶ shuffle rows at one reducer
    assert(plan.contains("partial_count"),
      s"the gram count must partial-aggregate before its exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"span detection must never pair documents:\n$plan")
    // the count-side scan needs text only; the position side doc_id+text
    assert("ReadSchema: struct<text:string>".r.findAllIn(plan).nonEmpty,
      s"count pass must prune to the text column:\n$plan")
  }

  test("q157 provenance: the fused span_stats aggregate, never a per-(gram, doc) pre-shuffle") {
    // the round-14 rewrite's load-bearing shape, pinned: per-gram
    // provenance stats come from ONE aggregate keyed h whose state is
    // 32 fixed bytes (SpanStatsAgg) — the per-(gram, doc) composition
    // it replaced (keys defeat map-side combining; its min2 join
    // re-shuffled the corpus-sized frame) measured 105.8 s vs the span
    // scan's 14.1 s at the removed ScaleProbe's 69M-gram fixture
    // audit the STATS pass's own plan (spanProvenanceFromGrams
    // checkpoints it, which hides its job from the final plan string)
    val plan = executedPlan(functions.DedupOps.spanStatsOf(
      functions.DedupOps.gramPositions(
        graft.Tables.t(spark, sf0001, "documents"), 8)))
    assert(plan.contains("span_stats"),
      s"provenance must aggregate through the fused span_stats state:\n$plan")
    // the stats aggregate must combine map-side: a boilerplate gram in
    // 10⁶ docs is one 32-byte partial state per map partition, never
    // 10⁶ shuffle rows at one reducer
    assert(plan.contains("partial_span_stats"),
      s"span_stats must run as a two-phase (partial + final) aggregate:\n$plan")
    // ONE exchange keyed h and nothing keyed (h, doc) — the composition
    // this replaced pre-aggregated per (gram, doc), whose exchange
    // map-side combining cannot collapse
    assert(!plan.contains("hashpartitioning(h#") ||
      "hashpartitioning\\(h#\\d+L, doc_id".r.findAllIn(plan).isEmpty,
      s"no per-(gram, doc) exchange may exist in the stats pass:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"provenance must never pair documents:\n$plan")
    // and the whole provenance result still answers (the composed-form
    // equivalence itself is DedupSpec's span_stats test + the oracle)
    val full = executedPlan(functions.DedupOps.spanProvenanceOver(
      graft.Tables.t(spark, sf0001, "documents"), 8))
    assert(!full.contains("CartesianProduct"))
  }

  test("q162 decontamination: bench gram set broadcasts; the training gram stream never shuffles before the island merge") {
    val plan = executedPlan(functions.DedupOps.substringDecontamOver(
      graft.Tables.t(spark, sf0001, "documents"), 4))
    // the load-bearing scale shape: the dup set comes from the BENCH
    // side alone (eval-registry-sized), so unlike q154 there is no
    // corpus-wide count aggregate and the training grams reach the
    // bench join map-side through a broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"the bench gram set must broadcast into the training stream:\n$plan")
    assert(!plan.contains("partial_count"),
      s"no corpus-wide gram-count aggregate may exist (the dup set is " +
        s"the bench vocabulary, not a corpus count):\n$plan")
    assert(!plan.contains("CartesianProduct"))
    // ZERO gram-hash exchanges in the serving plan: the registry's own
    // distinct runs once at router time on the checkpointed frame; the
    // training grams reach the join through the broadcast, never
    // through an h-keyed shuffle (q154 pays two corpus-wide h
    // exchanges here)
    assert("hashpartitioning\\(h#".r.findAllIn(plan).isEmpty,
      s"the training grams must never exchange on the gram hash:\n$plan")
  }

  test("q159 serving plan: the routed span frame stays LAZY — corpus scan + island merge live in the plan; only the sparse dup set is a checkpoint scan") {
    // the r14 weak, pinned closed: the old form eagerly
    // localCheckpointed the ENTIRE routed result (the served plan was a
    // bare ExistingRDD scan and a corpus-proportional frame hit local
    // disk inside the timed serving path, making q159 hostage to disk
    // contention no CPU canary could adjudicate)
    val (df, route) = functions.DedupOps.substringSpansAutoWithStats(
      Tables.t(spark, sf0001, "documents"), 8)
    assert(route == "bloom") // the fixture's home regime (DedupSpec pins routing)
    val plan = executedPlan(df)
    assert(plan.contains("FileScan parquet"),
      s"scan 2 must read the corpus live in the served plan:\n$plan")
    assert("\\bWindow\\b".r.findAllIn(plan).nonEmpty,
      s"the island merge must run live in the served plan:\n$plan")
    assert("ExistingRDD".r.findAllIn(plan).size == 1,
      s"exactly the sparse dup-hash checkpoint may appear — a second " +
        s"ExistingRDD means a full-result checkpoint crept back:\n$plan")
  }

  test("unpartitioned windows: every site is one of the known BOUNDED frames (r17 verdict pin)") {
    // An unpartitioned window (Window.orderBy with no partition key, or
    // an explicit empty Window.partitionBy()) moves its whole input to
    // ONE task — fine on the provably bounded frames below, fatal on a
    // corpus-sized one. The driver log is full of the bounded sites'
    // WindowExec warnings, which would mask a NEW accidental one; this
    // pin inventories the sites per file so any addition fails loudly
    // and must either partition its window or extend the inventory
    // with a boundedness argument.
    //
    // Known sites (all inputs bounded before the window):
    //  - Relational.scala 2: q08/q119 truth cuts (top-k-bounded frames)
    //  - Analytics.scala 3: q43 day lag (≤ #days rows), the lifecycle
    //    fixture stager's one-time batch cut, q137's per-type cumsum
    //    (≤ |event types| rows)
    //  - TextOps.scala 3: q109's per-source share (≤ #sources), q67's
    //    decile threshold cumsum + total (≤ distinct token counts)
    //  - OrderWideStream.scala 1: the one-time staging batch cut
    val expected = Map(
      "operators/Relational.scala" -> 2,
      "operators/Analytics.scala" -> 3,
      "functions/TextOps.scala" -> 3,
      "streaming/OrderWideStream.scala" -> 1)
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val pat = java.util.regex.Pattern.compile(
      "Window\\s*\\.\\s*(orderBy|partitionBy\\(\\))")
    import scala.jdk.CollectionConverters._
    val found = scala.collection.mutable.Map.empty[String, Int]
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .foreach { p =>
        val n = java.nio.file.Files.readAllLines(p).asScala
          .map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("//"))
          .count(l => pat.matcher(l).find())
        if (n > 0) {
          val rel = root.relativize(p).toString.replace('\\', '/')
          found(rel) = n
        }
      }
    finally files.close()
    assert(found.toMap == expected,
      s"unpartitioned-window inventory drifted: found ${found.toMap}, " +
        s"pinned $expected — a NEW site must prove its input frame is " +
        "bounded (model-/grid-/top-k-sized) and be added here")
  }
}
