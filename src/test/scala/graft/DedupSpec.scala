package graft

import graft.functions.DedupOps
import org.apache.spark.sql.functions._

/** MinHash/LSH recall and SimHash locality on synthetic near-duplicates
  * (the driver fixtures have no engineered near-dups; these specs prove
  * the operators detect them). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
  // near-dup: one word changed out of 72 → shingle jaccard ≈ 0.9
  private val near = base.replaceFirst("lazy", "sleepy")
  // unrelated
  private val other = ("completely different content about spark engines " * 9).trim

  test("q111 canonical: survivorship rollup ≡ driver recompute from q62 labels; mass conserved") {
    val labels = DedupOps.dedupClusters(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)].collect()
    val want = docs.groupBy { case (id, _) => labels.getOrElse(id, id) }
      .map { case (rep, ms) =>
        val canon = ms.minBy { case (id, nc) => (-nc, id) }
        (rep, ms.length.toLong, canon._1, canon._2, ms.map(_._2).sum)
      }.toSet
    val got = DedupOps.dedupCanonical(spark, sf0001)
      .select("cluster_rep", "n_members", "canonical_doc", "kept_chars",
        "total_chars")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"survivorship drifted from label recompute")
    // membership mass conserved: every doc lands in exactly one cluster
    assert(got.toSeq.map(_._2).sum == docs.length.toLong)
  }

  test("minhash/LSH finds the engineered near-dup pair and not the unrelated one") {
    val docs = Seq((0L, base), (1L, near), (2L, other)).toDF("doc_id", "text")
    val sh = DedupOps.shingles3(split(col("text"), " "))
    val withSh = docs.select(col("doc_id"), array_distinct(sh).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = withSh.withColumn("sig", DedupOps.minhashSignature(col("sh"), 32))
    val banded = sig.select(col("doc_id"), col("sh"),
      explode(DedupOps.lshBands(col("sig"), 32, 4)).as("b"))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("minhash signature is deterministic across evaluations") {
    val docs = Seq((0L, base)).toDF("doc_id", "text")
    val sh = array_distinct(DedupOps.shingles3(split(col("text"), " ")))
    val s1 = docs.select(DedupOps.minhashSignature(sh, 32)).collect()(0).getSeq[Long](0)
    val s2 = docs.select(DedupOps.minhashSignature(sh, 32)).collect()(0).getSeq[Long](0)
    assert(s1 == s2 && s1.length == 32)
  }

  test("simhash: near-dups land close in hamming distance, unrelated far") {
    val docs = Seq((0L, base), (1L, near), (2L, other)).toDF("doc_id", "text")
      .withColumn("hashes", transform(split(col("text"), " "), x => xxhash64(x)))
      .select(col("doc_id"), DedupOps.simhash64(col("hashes")).as("sh"))
    val m = docs.as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(0L), m(1L)) <= 12)
    assert(hamming(m(0L), m(2L)) >= 20)
  }

  test("fused MinHashSignature expression ≡ HOF pipeline (bit-identical)") {
    val docs = Seq((0L, base), (1L, near), (2L, other)).toDF("doc_id", "text")
    val hof = docs.select(col("doc_id"),
        DedupOps.minhashSignature(DedupOps.shingles3(split(col("text"), " ")), 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val fused = docs.select(col("doc_id"),
        graft.expressions.TextHashes.minhash_signature(col("text"), 32, 3).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fused == hof)
    // <3 tokens → empty signature (HOF array_min would yield nulls here;
    // the expression's empty array is the well-defined upgrade)
    val short = Seq((3L, "a b")).toDF("doc_id", "text")
      .select(graft.expressions.TextHashes.minhash_signature(col("text"), 32, 3).as("sig"))
      .as[Seq[Long]].collect()(0)
    assert(short.isEmpty)
  }

  test("ShingleHashes ≡ xxhash64 over distinct shingle strings (as sets)") {
    val docs = Seq((0L, base), (1L, near), (2L, other)).toDF("doc_id", "text")
    val viaStrings = docs.select(col("doc_id"),
        transform(array_distinct(DedupOps.shingles3(split(col("text"), " "))),
          x => xxhash64(x)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap.view.mapValues(_.toSet).toMap
    val fused = docs.select(col("doc_id"),
        graft.expressions.TextHashes.shingle_hashes(col("text"), 3).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap.view.mapValues(_.toSet).toMap
    assert(fused == viaStrings)
  }

  test("fused SimHash64 expression ≡ HOF pipeline (bit-identical)") {
    val docs = Seq((0L, base), (1L, near), (2L, other)).toDF("doc_id", "text")
    val hof = docs
      .withColumn("hashes", transform(split(col("text"), " "), x => xxhash64(x)))
      .select(col("doc_id"), DedupOps.simhash64(col("hashes")).as("sh"))
      .as[(Long, Long)].collect().toMap
    val fused = docs
      .select(col("doc_id"), graft.expressions.TextHashes.simhash64(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(fused == hof)
  }

  test("fused DedupFingerprint ≡ the three separate expressions (bit-identical)") {
    // q29's enumeration reads [f, sz, sig...] from ONE pass; a drift
    // against the single-purpose expressions would silently change the
    // candidate set. Includes the edge shapes: empty text, 1-2 tokens
    // (sz 0, no signature, but a real simhash), exact 3 tokens.
    val docs = (Seq((0L, base), (1L, near), (2L, other)) ++
      Seq((3L, ""), (4L, "a"), (5L, "a b"), (6L, "a b c")))
      .toDF("doc_id", "text")
    val sep = docs.select(col("doc_id"),
        graft.expressions.TextHashes.simhash64(col("text")).as("f"),
        size(graft.expressions.TextHashes.shingle_hashes(col("text"), 3))
          .cast("long").as("sz"),
        graft.expressions.TextHashes.minhash_signature(col("text"), 32, 3).as("sig"))
      .as[(Long, Long, Long, Seq[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val fused = docs.select(col("doc_id"),
        graft.expressions.TextHashes.dedup_fingerprint(col("text"), 32, 3).as("a"))
      .select(col("doc_id"), element_at(col("a"), 1).as("f"),
        element_at(col("a"), 2).as("sz"), slice(col("a"), 3, 32).as("sig"))
      .as[(Long, Long, Long, Seq[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(fused == sep)
  }

  test("fused SigSortedShingles ≡ minhash_signature ⊕ sort_array(shingle_hashes)") {
    // the ingest path (indexRows) reads struct{sig, hs} from one pass;
    // drift against the single-purpose expressions would corrupt every
    // persisted index segment written after it
    val docs = (Seq((0L, base), (1L, near), (2L, other)) ++
      Seq((3L, ""), (4L, "a b"), (5L, "a b c")))
      .toDF("doc_id", "text")
    val sep = docs.select(col("doc_id"),
        graft.expressions.TextHashes.minhash_signature(col("text"), 32, 3).as("sig"),
        sort_array(graft.expressions.TextHashes.shingle_hashes(col("text"), 3)).as("hs"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val fused = docs.select(col("doc_id"),
        graft.expressions.TextHashes.sig_sorted_shingles(col("text"), 32, 3).as("sh"))
      .select(col("doc_id"), col("sh.sig"), col("sh.hs"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(fused == sep)
  }

  test("shingleJaccardPairs (hashed keys) ≡ the string-keyed composition, jaccard included") {
    // r18: the pair-gen seam joins/sizes on the fused distinct hash set
    // (ShingleHashes) instead of distinct shingle STRINGS — this pin
    // recomputes the pairs the old way (string keys) on the fixture and
    // requires identical (doc_a, doc_b, jaccard) rows, so a drift in the
    // fused expression's tokenization/dedup turns this red, not just a
    // number different
    val sh = Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"),
        explode(array_distinct(DedupOps.shingles3(split(col("text"), " "))))
          .as("shingle"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val viaStrings = inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        round(col("i") / (col("sa.sz") + col("sb.sz") - col("i")), 4))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    val got = DedupOps.shingleJaccardPairs(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.nonEmpty && got == viaStrings)
  }

  test("minhash/LSH recovers exactly the exact shingle-Jaccard pairs on the fixtures") {
    val lsh = DedupOps.minhashLsh(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = DedupOps.shingleJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixtures should contain engineered near-dups")
    assert(lsh == exact) // 8 bands x 4 rows catches everything at j>=0.5 here
  }

  test("shingles: <3 tokens yields empty, 3 tokens yields one") {
    val df = Seq("a b", "a b c", "a b c d").toDF("text")
      .select(size(DedupOps.shingles3(split(col("text"), " "))).as("n"))
    assert(df.as[Int].collect().toSeq == Seq(0, 1, 2))
  }

  test("dedupClusters: components are transitive closures of the pair set with min-id reps") {
    val pairs = DedupOps.shingleJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val got = DedupOps.dedupClusters(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    // brute-force union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    assert(pairs.nonEmpty && got == expected)
    // every rep is a member of its own cluster (min-id convention)
    assert(got.filter { case (id, rep) => id == rep }.keySet ==
      got.values.toSet)
    // and a chain exists somewhere: at least one component of size > 2
    // would prove transitivity beyond direct pairs on richer fixtures;
    // here assert components cover exactly the docs appearing in pairs
    assert(got.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("label cache version sweep: runs only in the build path, age-gated; stale layouts for the same data tag are deleted; fresh siblings, other tags and in-flight stages survive") {
    // a LabelLayoutVersion bump must not orphan the previous version's
    // parquet under /tmp forever (ADVICE r14) — the BUILD pass sweeps
    // same-tag siblings whose version token differs (or predates
    // versioning), and ONLY those: another tag is another data dir's
    // live cache, a `.stage-` child is a concurrent driver's in-flight
    // build, and (r15 advice) a RECENT-mtime sibling is a concurrent
    // other-version driver's live cache. A serve of a COMPLETE layout
    // never sweeps at all — the every-call sweep made mixed-version
    // drivers mutually delete each other's completed layouts
    // (rebuild ping-pong).
    // collect eagerly: the frame's plan pins the FIRST build's part
    // files, which the cold-start rebuild below replaces
    val labels = DedupOps.dedupClusters(spark, sf0001)
      .as[(Long, Long)].collect().toSet
    assert(labels.nonEmpty)
    val base = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-dedup-labels")
    // sf0001's own tag, recomputed the way the cache keys it — the
    // sweep is per-tag, so the planted stale dirs must share it
    val tag = new java.io.File(sinks.Lifecycle.location(
      spark, sf0001, Seq("documents"), "dedup-labels")).getName
    val current = base.listFiles().map(_.getName)
      .filter(n => n.startsWith(s"$tag-") && !n.contains(".stage-") &&
        new java.io.File(base, s"$n/_SUCCESS").exists())
      .head // the live versioned layout for THIS tag
    val stale = System.currentTimeMillis() -
      sinks.Lifecycle.StaleLayoutSweepAgeMs - 60000L
    def mk(name: String, old: Boolean): java.io.File = {
      val d = new java.io.File(base, name)
      if (d.exists()) org.apache.commons.io.FileUtils.deleteDirectory(d)
      assert(d.mkdirs())
      if (old) assert(d.setLastModified(stale))
      d
    }
    val unversioned = mk(tag, old = true)           // pre-versioning layout
    val oldVersion = mk(s"$tag-v0-old", old = true) // superseded version
    // a concurrent OTHER-version driver's freshly built live cache: the
    // age gate must spare it even on the build path (r15 advice)
    val freshVersion = mk(s"$tag-v0-fresh", old = false)
    val inflight = mk(s"$current.stage-deadbeef", old = true)
    // a concurrent driver running an OLDER binary mid-build: its stage
    // must survive too (deleting it under that driver's running write
    // would fail its query — the r15 review case)
    val oldStage = mk(s"$tag-v0-old.stage-cafe", old = true)
    val otherTag = mk("ffffffffffff-1-1-v0-old", old = true) // other data dir
    // serve of the COMPLETE layout: no sweep at all
    val again = DedupOps.dedupClusters(spark, sf0001)
    assert(again.as[(Long, Long)].collect().toSet == labels)
    assert(unversioned.exists() && oldVersion.exists(),
      "a complete-layout serve must never sweep (mixed-version ping-pong)")
    // cold start (current layout gone) → the build path sweeps
    val cur = new java.io.File(base, current)
    org.apache.commons.io.FileUtils.deleteDirectory(cur)
    // the delete+rebuild reuses the path; drop the stale file listing
    // (production reads a fresh session per driver — not a concern)
    spark.catalog.refreshByPath(cur.getPath)
    val rebuilt = DedupOps.dedupClusters(spark, sf0001)
    assert(rebuilt.as[(Long, Long)].collect().toSet == labels)
    assert(!unversioned.exists(), "pre-versioning layout must be swept")
    assert(!oldVersion.exists(), "superseded version must be swept")
    assert(freshVersion.exists(),
      "a recent-mtime sibling must survive the age gate")
    assert(inflight.exists(), "a concurrent in-flight stage must survive")
    assert(oldStage.exists(), "an older-version in-flight stage must survive")
    assert(otherTag.exists(), "another tag's cache must survive")
    assert(cur.exists())
    freshVersion.delete(); inflight.delete(); oldStage.delete()
    otherTag.delete()
  }

  test("dedupClusters collapses a synthetic chain a-b-c-d to one component in few rounds") {
    // sliding 12-token windows over one token stream, stride 2: adjacent
    // docs share 8 of 12 shingles (J = 8/12 ≥ 0.5), distance-2 docs only
    // 6 of 14 (0.43 < 0.5) — so the graph is a pure CHAIN 0-1-2-3 with
    // no shortcut edges, and only transitive closure can unify it
    val stream = (1 to 18).map(i => s"t$i")
    val docs = (0L to 3L).map(i =>
      (i, stream.slice(2 * i.toInt, 2 * i.toInt + 12).mkString(" "))) :+
      (10L, (1 to 12).map(i => s"z$i").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("cc").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pairSet = DedupOps.shingleJaccardPairs(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairSet == Set((0L, 1L), (1L, 2L), (2L, 3L)),
      s"fixture must form a pure chain, got $pairSet")
    val got = DedupOps.dedupClusters(spark, dir).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L),
      s"chain must collapse to rep 0, got $got")
    assert(!got.contains(10L), "isolated docs don't appear in the pair graph")
  }

  test("star ≡ union-find ≡ BFS on the fixture pair graph") {
    val pairs = DedupOps.shingleJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b")
    val expect = DedupSpec.bfsLabels(pairs.as[(Long, Long)].collect().toSeq)
    assert(DedupOps.collapseClusters(pairs)
      .as[(Long, Long)].collect().toMap == expect)
    val (viaStar, rounds) = DedupOps.collapseClustersStarWithStats(pairs)
    assert(viaStar.as[(Long, Long)].collect().toMap == expect)
    assert(rounds <= 8, s"fixture graph should star-converge fast, took $rounds")
  }

  test("star contraction collapses a 100k-leaf hub and a 60-chain") {
    // (a) a 100k-leaf star: one component of 100,001 docs, collapsed in
    // O(1) rounds
    val mega = spark.range(1, 100001)
      .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val (starLabels, starRounds) =
      DedupOps.collapseClustersStarWithStats(mega)
    assert(starLabels.filter(col("cluster_rep") =!= 0L).count() == 0L)
    assert(starLabels.count() == 100001L)
    assert(starRounds <= 5, s"a star graph is already near-converged, took $starRounds")
    // (b) a path of diameter 60: O(log² n) rounds, not diameter-many
    val chain = spark.range(60)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (chainLabels, chainRounds) =
      DedupOps.collapseClustersStarWithStats(chain)
    assert(chainLabels.as[(Long, Long)].collect().toMap ==
      (0L to 60L).map(_ -> 0L).toMap)
    assert(chainRounds <= 12,
      s"star contraction must beat the diameter on a 60-chain, took $chainRounds")
  }

  test("star ≡ union-find ≡ BFS on self-pair-bearing input") {
    // a doc appearing ONLY as a self-pair is still a member of the pair
    // set: it is labeled (5,5); the star variant must not silently
    // drop it just because the contraction erases self-loops. Mixed
    // case: node 0 has both a self-pair and real edges — the self-pair
    // must not override its component label.
    val base = Seq((5L, 5L), (0L, 1L), (0L, 0L), (1L, 2L), (9L, 9L))
    val pairs = base.toDF("doc_a", "doc_b")
    val expect = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 9L -> 9L)
    assert(DedupSpec.bfsLabels(base) == expect)
    assert(DedupOps.collapseClusters(pairs)
      .as[(Long, Long)].collect().toMap == expect)
    assert(DedupOps.collapseClustersStarWithStats(pairs)._1
      .as[(Long, Long)].collect().toMap == expect)
  }

  test("star round count grows log-, not linearly, in diameter (the O(log²) pin)") {
    // label propagation needs diameter+1 rounds — 10× the diameter
    // means 10× the rounds (60-chain: 61). Star contraction roughly
    // halves the diameter per large/small-star pair, so the same 10×
    // stretch costs ~log₂(10) ≈ 3-4 extra rounds (measured here:
    // 7 → 11).
    def chain(n: Long) = spark.range(n)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val (l60, r60) = DedupOps.collapseClustersStarWithStats(chain(60))
    val (l600, r600) = DedupOps.collapseClustersStarWithStats(chain(600))
    assert(l60.filter(col("cluster_rep") =!= 0L).count() == 0L)
    assert(l600.filter(col("cluster_rep") =!= 0L).count() == 0L)
    assert(l600.count() == 601L)
    // logarithmic budget: +⌈log₂ 10⌉+1 slack rounds; a diameter-LINEAR
    // algorithm would need ~10× the rounds and blow this by 50+
    assert(r600 <= r60 + 5,
      s"10× the diameter must cost ~log₂(10) extra star rounds: $r60 -> $r600")
  }

  test("collapseClusters: the fixture graph takes the union-find route in 4 jobs") {
    // the pairs are collected first so the pin counts the router's own
    // jobs, not the pair generation's
    val base = DedupOps.shingleJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    val pairs = base.toDF("doc_a", "doc_b")
    val expect = DedupSpec.bfsLabels(base)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val local = try {
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
      jobs.set(0)
      val l = DedupOps.collapseClusters(pairs)
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
      l
    } finally spark.sparkContext.removeSparkListener(listener)
    // measured: the routing count plus the collect that feeds the
    // union-find — no distributed round runs
    assert(jobs.get() == 4, s"the union-find route ran ${jobs.get()} jobs")
    assert(DedupSpec.unionFindRoute(local))
    assert(local.as[(Long, Long)].collect().toMap == expect)
    val star = DedupOps.collapseClusters(pairs, localEdgeThreshold = 0L)
    assert(!DedupSpec.unionFindRoute(star), "threshold 0 must force star contraction")
    assert(star.as[(Long, Long)].collect().toMap == expect)
  }

  test("auto router: edge count past the crossover routes to star") {
    // a 32-edge chain: at localEdgeThreshold = 32 the union-find answers
    // (the threshold is inclusive), one below it star contraction does
    val pairs = spark.range(32)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val expect = (0L to 32L).map(_ -> 0L).toMap
    val local = DedupOps.collapseClusters(pairs, localEdgeThreshold = 32L)
    assert(DedupSpec.unionFindRoute(local), "edge count ≤ threshold must take the union-find")
    assert(local.as[(Long, Long)].collect().toMap == expect)
    val star = DedupOps.collapseClusters(pairs, localEdgeThreshold = 31L)
    assert(!DedupSpec.unionFindRoute(star), "edge count > threshold must route to star")
    assert(star.as[(Long, Long)].collect().toMap == expect)
  }

  test("auto router: self-pair singletons survive every route") {
    val base = Seq((5L, 5L), (0L, 1L), (9L, 9L))
    val expect = Map(0L -> 0L, 1L -> 0L, 5L -> 5L, 9L -> 9L)
    assert(DedupSpec.bfsLabels(base) == expect)
    for (threshold <- Seq(1000000L, 0L)) {
      val labels = DedupOps.collapseClusters(base.toDF("doc_a", "doc_b"),
        localEdgeThreshold = threshold)
      assert(DedupSpec.unionFindRoute(labels) == (threshold > 0L))
      assert(labels.as[(Long, Long)].collect().toMap == expect,
        s"threshold $threshold")
    }
  }

  test("SortedIntersectCount ≡ size(array_intersect) on every fixture doc pair sample") {
    // all pairs among 40 fixture docs: the merge count over sorted hash
    // sets must equal array_intersect's hash-set count exactly
    val hs = Tables.t(spark, sf0001, "documents").limit(40)
      .select(col("doc_id"),
        graft.expressions.TextHashes.shingle_hashes(col("text"), 3).as("hs"))
    val both = hs.as("a").join(hs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        graft.expressions.VectorHashes.sorted_intersect_count(
          sort_array(col("a.hs")), sort_array(col("b.hs"))).as("merged"),
        size(array_intersect(col("a.hs"), col("b.hs"))).cast("long").as("hashed"))
      .as[(Long, Long)].collect()
    assert(both.nonEmpty && both.forall { case (m, h) => m == h },
      s"first divergence: ${both.find { case (m, h) => m != h }}")
  }

  test("cappedBandCandidates never emits self-pairs, even on duplicate (id, band) rows") {
    // a duplicate (id, b) row (64-bit band-key collision within one
    // doc, or an undeduped caller) ranks the same id at occ 1 AND
    // occ > cap; the star edge must not become (id, id) — the verify
    // tier cannot kill it (jaccard(A, A) = 1.0)
    val keyed = Seq((5L, 1L), (5L, 1L), (7L, 1L)).toDF("doc_id", "b")
    val pairs = DedupOps.cappedBandCandidates(keyed, maxBucket = 1)
      .as[(Long, Long)].collect().toSet
    assert(pairs.forall { case (a, b) => a != b }, s"self-pair emitted: $pairs")
    assert(pairs.contains((5L, 7L)), s"real pair must survive: $pairs")
  }

  test("cappedBandCandidates: duplicate rows must not consume cap slots (dense_rank, not row_number)") {
    // bucket [(7,b),(7,b),(9,b),(11,b)] at cap 2: row_number ranked the
    // duplicate copy of 7 at occ 2, so the kept set was {7} alone and
    // the distinct full pair (7,9) fell to a star edge; dense_rank
    // keeps {7,9}
    val keyed = Seq((7L, 1L), (7L, 1L), (9L, 1L), (11L, 1L)).toDF("doc_id", "b")
    val pairs = DedupOps.cappedBandCandidates(keyed, maxBucket = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((7L, 9L)),
      s"distinct docs displaced from cap slots by a duplicate row: $pairs")
    assert(pairs.contains((7L, 11L)) || pairs.contains((9L, 11L)),
      s"overflow doc must stay star-connected: $pairs")
  }

  test("simhashBlockPairs guards degenerate nBlocks like its sibling") {
    intercept[IllegalArgumentException] {
      DedupOps.simhashBlockPairs(org.apache.spark.sql.functions.lit(0L), 1)
    }
    intercept[IllegalArgumentException] {
      DedupOps.simhashBlockPairs(org.apache.spark.sql.functions.lit(0L), 65)
    }
  }

  test("cappedBandCandidates bounds a 1k-identical-doc hot bucket and keeps star connectivity") {
    // 1000 identical docs: every band bucket is one hot bucket of
    // occupancy 1000, so uncapped enumeration is 8 × C(1000,2) raw
    // pairs — the occupancy² blowup no size-ratio prefilter can stop
    // (the docs really are dups). The cap bounds each bucket at
    // C(cap,2) full pairs + one star edge per overflow row.
    val n = 1000
    val docs = (0 until n).map(i => (i.toLong, base)).toDF("doc_id", "text")
    val banded = docs.select(col("doc_id"),
        graft.expressions.TextHashes.minhash_signature(col("text"), 32, 3).as("sig"))
      .select(col("doc_id"), explode(DedupOps.lshBands(col("sig"), 32, 4)).as("b"))
    val cap = 16
    val cand = DedupOps.cappedBandCandidates(banded, cap)
    // identical docs → identical bands → all 8 buckets emit the same
    // capped pair set, so after distinct: C(16,2) + (1000-16) star edges
    assert(cand.count() == cap * (cap - 1) / 2 + (n - cap))
    // cluster connectivity survives the cap: union-find over the capped
    // candidates must still connect all 1000 docs into one component
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    cand.as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert((0 until n).map(i => find(i.toLong)).toSet.size == 1,
      "star edges must keep the hot cluster connected")
    // and the audit companion names the 8 hot buckets
    assert(DedupOps.hotBuckets(banded, cap).count() == 8)
  }

  test("a generous hot-bucket cap leaves the fixture result unchanged (recall intact)") {
    val capped = DedupOps.minhashLshWithCap(spark, sf0001, Some(64))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val exact = DedupOps.minhashLsh(spark, sf0001)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty && capped == exact)
  }

  test("q75 releases its Bloom gate: nothing stays cached after the call") {
    spark.catalog.clearCache()
    val out = functions.DedupOps.decontaminateBloom(spark, sf0001)
    assert(out.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "decontaminateBloom leaked cached plans (gate not released)")
  }

  test("Bloom gate rejects a sizing the session confs would silently clamp") {
    // BloomFilterAggregate clamps numItems/numBits to the session confs
    // without a warning: an estItems above them would build a high-FP
    // filter that still RETURNS the right rows (exact join kills FPs)
    // but pays a near-full-corpus join — construction must fail loudly
    // instead
    val docs = graft.Tables.t(spark, sf0001, "documents")
    val e = intercept[IllegalArgumentException] {
      new functions.DedupOps.BloomGate(docs, estItems = 8L * 1000 * 1000)
    }
    assert(e.getMessage.contains("maxNumItems"),
      s"clamped sizing must name the conf to raise, got: ${e.getMessage}")
    assert(spark.sharedState.cacheManager.isEmpty,
      "a rejected gate must not leave cached blocks behind")
  }

  test("q75 Bloom prefilter is semantically transparent: result ≡ q61 exactly") {
    // the Bloom tier may only ADD candidate rows (false positives) before
    // the exact join kills them — the grouped output must be identical,
    // including at a deliberately tiny/overloaded filter sizing where the
    // FP rate is high
    val exact = functions.DedupOps.decontaminate(spark, sf0001)
      .as[(Long, Long)].collect().toSet
    val bloom = functions.DedupOps.decontaminateBloom(spark, sf0001)
      .as[(Long, Long)].collect().toSet
    val bloomTiny = functions.DedupOps
      .decontaminateBloom(spark, sf0001, estItems = 64)
      .as[(Long, Long)].collect().toSet
    assert(bloom == exact)
    assert(bloomTiny == exact,
      "an overloaded (high-FP) Bloom filter must still verify exactly")
  }

  test("incremental clusters equal the batch answer at EVERY lifecycle step, through merges and relabels") {
    import spark.implicits._
    // step 0: chain {10,20,30} (rep 10) and pair {40,50} (rep 40)
    // step 1: 50-60 extends {40,...}; 70-80 is a brand-new cluster
    // step 2: 5-70 — a SMALLER first-seen id joins an old cluster, so
    //         70 and 80 must RELABEL to 5; 20-40 merges the two step-0
    //         clusters (40/50/60 relabel to 10); 10-30 contracts to a
    //         self-loop (late intra-cluster edge, structural no-op)
    val edges = Seq(
      (10L, 20L, 0L), (20L, 30L, 0L), (40L, 50L, 0L),
      (50L, 60L, 1L), (70L, 80L, 1L),
      (5L, 70L, 2L), (20L, 40L, 2L), (10L, 30L, 2L))
      .toDF("doc_a", "doc_b", "step")
    def lab(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_id", "cluster_rep").as[(Long, Long)].collect().toSet
    val want = Set((10L, 10L), (20L, 10L), (30L, 10L), (40L, 10L),
      (50L, 10L), (60L, 10L), (5L, 5L), (70L, 5L), (80L, 5L))
    val inc = lab(DedupOps.incrementalClusters(edges))
    assert(inc == want, s"final labels: $inc")
    assert(inc == lab(DedupOps.collapseClusters(
      edges.select(col("doc_a"), col("doc_b")))),
      "incremental must equal the batch loop on the full edge set")
    // the invariant holds MID-lifecycle too: any step prefix equals the
    // batch answer over the edges seen so far
    for (cut <- Seq(0L, 1L)) {
      val seen = edges.filter(col("step") <= cut)
      assert(lab(DedupOps.incrementalClusters(seen)) ==
        lab(DedupOps.collapseClusters(seen.select(col("doc_a"), col("doc_b")))),
        s"prefix through step $cut diverged from batch")
    }
  }

  test("incremental clusters: reflexive edges yield singletons (like batch) and non-integral steps are not dropped") {
    import spark.implicits._
    // (90,90) is a first-seen node whose ONLY edge is reflexive — the
    // batch loop emits the (90,90) singleton, so the incremental path
    // must too (a self-loop dropped before its node is seen loses it);
    // steps are DOUBLES — a cast-to-long step listing would collapse
    // 0.5 and 1.5 to distinct-less values the raw filter never matches,
    // silently excluding the 1.5-step merge edge
    val edges = Seq(
      (90L, 90L, 0.5), (10L, 20L, 0.5),
      (20L, 30L, 1.5), (10L, 20L, 1.5) // late duplicate of an old edge
    ).toDF("doc_a", "doc_b", "step")
    val got = DedupOps.incrementalClusters(edges)
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toSet
    assert(got == Set((90L, 90L), (10L, 10L), (20L, 10L), (30L, 10L)),
      s"got $got")
    assert(got == DedupOps.collapseClusters(
      edges.select(col("doc_a"), col("doc_b")))
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toSet,
      "must equal the batch loop on the same edges")
    // a null step is refused loudly, not silently skipped
    intercept[IllegalArgumentException] {
      DedupOps.incrementalClusters(
        Seq((1L, 2L)).toDF("doc_a", "doc_b")
          .withColumn("step", lit(null).cast("long")))
    }
  }

  test("shingle_hashes_pos ≡ the xxhash64(concat_ws(slice)) HOF composition, position for position") {
    val docs = graft.Tables.t(spark, sf0001, "documents").limit(50)
      .select(col("doc_id"), col("text"))
    val L = 8
    val both = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        graft.expressions.TextHashes.shingle_hashes_pos(col("text"), L).as("fused"),
        when(size(col("toks")) >= L, expr(
          s"""transform(sequence(1, size(toks) - ${L - 1}),
             |  i -> xxhash64(concat_ws(' ', slice(toks, i, $L))))""".stripMargin))
          .otherwise(typedlit(Array.empty[Long])).as("hof"))
    assert(both.filter(not(col("fused") === col("hof"))).count() == 0)
  }

  test("q154 exact-substring spans: engineered duplicated run is found as ONE maximal span in both docs; merge boundary is exactly L") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 tokens
    def pad(seed: Int, n: Int) =
      (1 to n).map(i => s"u${seed}w$i").mkString(" ")
    val L = 8
    // docs 0 and 1 share the 10-token run at different offsets (starts
    // 6 and 3, 1-based); doc 2 is all-unique
    val docs = Seq(
      (0L, pad(0, 5) + " " + run + " " + pad(1, 7)),
      (1L, pad(2, 2) + " " + run + " " + pad(3, 4)),
      (2L, pad(4, 30))).toDF("doc_id", "text")
    val got = DedupOps.substringSpansOver(docs, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    // a 10-token run has 3 duplicated 8-gram starts; coverage = the run
    assert(got == Set((0L, 6L, 15L, 3L), (1L, 3L, 12L, 3L)), s"got $got")

    // merge boundary: two identical 2·L-token docs duplicate all
    // 2·L−L+1 = 9 starts → consecutive starts merge into ONE
    // full-coverage span per doc (no cross-doc bleed)
    val runB = (1 to 2 * L).map(i => s"b$i").mkString(" ")
    val two = Seq((0L, runB), (1L, runB)).toDF("doc_id", "text")
    val spans2 = DedupOps.substringSpansOver(two, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans2 == Set((0L, 1L, 16L, 9L), (1L, 1L, 16L, 9L)), s"got $spans2")

    // islands split when consecutive duplicated starts sit > L apart:
    // dup gram at start 1 and start L+2 (gap L+1) → two spans
    val g1 = (1 to L).map(i => s"g$i").mkString(" ")
    val g2 = (1 to L).map(i => s"h$i").mkString(" ")
    val splitDocs = Seq(
      (0L, g1 + " x0 " + g2),        // starts: g1@1, g2@L+2
      (1L, g1 + " y0 y1 " + g2)).toDF("doc_id", "text")
    val spans3 = DedupOps.substringSpansOver(splitDocs, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans3 == Set(
      (0L, 1L, 8L, 1L), (0L, 10L, 17L, 1L),
      (1L, 1L, 8L, 1L), (1L, 11L, 18L, 1L)), s"got $spans3")
  }

  test("the shared Bloom builder: zero keys admit nothing, every built key is admitted") {
    val probe = spark.range(0, 2000).select(col("id").as("h"))
    def admitted(keys: org.apache.spark.sql.DataFrame) =
      probe.filter(functions.KeyRoute.mightContain(keys, "h",
        functions.KeyRoute.bloomItems(keys.count()), col("h")))
    // empty key set: a null bit array, not a saturated filter — the
    // Bloom roads then pass nothing to their exact joins
    assert(admitted(probe.filter(lit(false))).count() == 0)
    // no false negatives: every key the filter was built from passes
    val keys = probe.filter(col("h") % 7 === 0)
    val got = admitted(keys).as[Long].collect().toSet
    assert(keys.as[Long].collect().toSet.subsetOf(got))
  }

  test("q159 auto router: the dup-hash count picks bloom below the sizing clamps, plain past them; both roads answer identically") {
    // fixture corpus: 2-3% dup rate, the prefilter's home regime — the
    // dup set fits the clamps with room, so the router must take bloom
    val docs = graft.Tables.t(spark, sf0001, "documents")
    val (spans, route) = DedupOps.substringSpansAutoWithStats(docs, 8)
    assert(route == "bloom", s"low-dup fixture corpus must route bloom, got $route")
    val want = DedupOps.substringSpansOver(docs, 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans.as[(Long, Long, Long, Long)].collect().toSet == want,
      "the routed answer must equal the plain two-pass")

    // boilerplate-heavy corpus: every doc is the same text, so the dup
    // set IS the corpus's gram vocabulary — at production scale that
    // blows past BloomFilterAggregate's sizing clamps (4M items) and
    // the filter would saturate toward admit-everything. The regime is
    // modeled at spec scale by lowering the clamp conf (the router
    // reads it live); the routed answer must still equal the plain form.
    val run = (1 to 40).map(i => s"bp$i").mkString(" ")
    val boiler = Seq.tabulate(30)(i => (i.toLong, run)).toDF("doc_id", "text")
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "512")
      val (spans2, route2) = DedupOps.substringSpansAutoWithStats(boiler, 8)
      assert(route2 == "plain",
        s"a clamp-exceeding dup set must route plain, got $route2")
      val want2 = DedupOps.substringSpansOver(boiler, 8)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(want2.nonEmpty &&
        spans2.as[(Long, Long, Long, Long)].collect().toSet == want2)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q156 substring-index lifecycle: a real fold + a replayed tail serve spans equal to the batch scan") {
    val docs = graft.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val loc = java.nio.file.Files.createTempDirectory("graft-substr").toString
    def cut(b: Long) = docs.filter(pmod(col("doc_id"), lit(4)) === b)
    val w = graft.sinks.SubstrIndexSink.writer(loc) _
    w(cut(0), 0L); w(cut(1), 1L); w(cut(2), 2L)
    graft.sinks.SubstrIndexSink.compact(spark, loc)
    // the compact folded batches 0+1 (batch 2, the newest non-negative
    // id, must stay replayable) in BOTH sub-stores
    assert(graft.sinks.IngestSegments.liveSegments(spark, s"$loc/pos")
      .count(_ < 0) == 1, "pos store must carry exactly one fold segment")
    w(cut(3), 3L)
    w(cut(3), 3L) // streaming replay: overwrite-by-batch-id, not double-count
    val got = graft.sinks.SubstrIndexSink.spans(spark, loc)
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = DedupOps.substringSpansOver(docs, 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty && got == want,
      "fold + replayed tail must be invisible: stream ≡ batch")

    // q160/q161: the removal and provenance views served from the SAME
    // store (fold + replayed tail) must equal their live batch twins —
    // the index's stored positions + counts are sufficient for both,
    // with no corpus re-scan on the span side
    val gotRemove = DedupOps.removalFromSpans(docs,
        graft.sinks.SubstrIndexSink.spans(spark, loc))
      .as[(Long, String, Long)].collect().toSet
    val wantRemove = DedupOps.substringRemoveOver(docs, 8)
      .as[(Long, String, Long)].collect().toSet
    assert(gotRemove == wantRemove,
      "index-served removal must equal the live batch cut")
    val gotProv = graft.sinks.SubstrIndexSink.provenance(spark, loc)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val wantProv = DedupOps.spanProvenanceOver(docs, 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(gotProv.nonEmpty && gotProv == wantProv,
      "index-served provenance must equal the live batch audit view")
  }

  test("q167 retraction: retract/resurrect/double-retract through folds — every view equals the batch scan on the live corpus") {
    val run10 = (1 to 10).map(i => s"r$i").mkString(" ") // docs 0 and 2
    val runB = (1 to 10).map(i => s"b$i").mkString(" ")  // docs 6 and 8
    val rep8 = (1 to 8).map(i => s"s$i").mkString(" ")   // twice inside doc 4
    def uniq(seed: Int, n: Int) = (1 to n).map(j => s"u${seed}x$j").mkString(" ")
    val all = Map(
      0L -> (uniq(0, 4) + " " + run10),
      2L -> (run10 + " " + uniq(2, 5)),
      4L -> (rep8 + " q0 " + rep8),
      6L -> (runB + " " + uniq(6, 3)),
      8L -> (uniq(8, 2) + " " + runB))
    def df(ids: Long*) = ids.map(id => (id, all(id))).toDF("doc_id", "text")
    def docIds(ids: Long*) = ids.map(id => (id, "")).toDF("doc_id", "text")
    val loc = java.nio.file.Files.createTempDirectory("graft-retract").toString
    val w = graft.sinks.SubstrIndexSink.writer(loc) _
    val r = graft.sinks.SubstrIndexSink.retract(loc) _
    def spansNow = graft.sinks.SubstrIndexSink.spans(spark, loc)
      .as[(Long, Long, Long, Long)].collect().toSet
    def batchOver(ids: Long*) = DedupOps.substringSpansOver(df(ids: _*), 8)
      .as[(Long, Long, Long, Long)].collect().toSet

    w(df(0L, 2L), 0L); w(df(4L, 6L), 1L)
    graft.sinks.SubstrIndexSink.compact(spark, loc)
    w(df(8L), 2L)
    // retract doc 2 (run10's only partner — doc 0's span must DIE via
    // the counts store's negative partial), doc 6 (runB partner), and
    // a never-ingested doc 99 (must be a no-op)
    r(docIds(2L, 6L, 99L), 3L)
    assert(spansNow == batchOver(0L, 4L, 8L),
      "post-retraction spans must equal the batch scan on the live corpus")
    // resurrect doc 6 (CDC insert-after-delete): runB is a dup again
    w(df(6L), 4L)
    assert(spansNow == batchOver(0L, 4L, 6L, 8L),
      "a resurrected doc must count again (latest-wins on logical ing)")
    // fold with tombstones: dead rows drop, tombstones carried
    graft.sinks.SubstrIndexSink.compact(spark, loc)
    assert(spansNow == batchOver(0L, 4L, 6L, 8L),
      "the fold must not change the served answer")
    // live-tail retraction: re-kill resurrected 6's partner 8, and
    // DOUBLE-retract dead doc 2 — its counts must not subtract twice
    // (run10's count must stay 1, not go to 0 or negative)
    r(docIds(8L, 2L), 5L)
    r(docIds(8L, 2L), 5L) // streaming replay: byte-identical, no-op
    val finalWant = batchOver(0L, 4L, 6L)
    assert(spansNow == finalWant && finalWant ==
      DedupOps.substringSpansOver(df(4L), 8)
        .as[(Long, Long, Long, Long)].collect().toSet,
      "final state: only doc 4's internal repetition spans survive")
    // the removal and provenance views over the same retracted store
    val live = df(0L, 4L, 6L)
    val gotRemove = DedupOps.removalFromSpans(live,
        graft.sinks.SubstrIndexSink.spans(spark, loc))
      .as[(Long, String, Long)].collect().toSet
    val wantRemove = DedupOps.substringRemoveOver(live, 8)
      .as[(Long, String, Long)].collect().toSet
    assert(gotRemove == wantRemove)
    val gotProv = graft.sinks.SubstrIndexSink.provenance(spark, loc)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val wantProv = DedupOps.spanProvenanceOver(live, 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(gotProv == wantProv,
      "provenance over the retracted store must equal the live batch view")
  }

  test("mixed CDC batch: delete wins — a doc inserted and deleted in ONE batch is never admitted and inflates no gram counts") {
    val run10 = (1 to 10).map(i => s"r$i").mkString(" ")
    val runB = (1 to 10).map(i => s"b$i").mkString(" ")
    val rep8 = (1 to 8).map(i => s"s$i").mkString(" ")
    def uniq(seed: Int, n: Int) = (1 to n).map(j => s"u${seed}x$j").mkString(" ")
    val loc = java.nio.file.Files.createTempDirectory("graft-cdcmix").toString
    val c = graft.sinks.SubstrIndexSink.cdc(loc) _
    c(Seq(
      (0L, "I", uniq(0, 4) + " " + run10),
      (4L, "I", rep8 + " q0 " + rep8)).toDF("doc_id", "op", "text"), 0L)
    // one batch: two inserts, a delete of a prior doc is absent here —
    // doc 12 is inserted AND deleted in THIS batch (CDC insert+delete
    // within one poll): delete wins, so run10 must NOT become a dup
    // witness through 12's never-admitted grams (a counts-only leak
    // would give doc 0 a phantom span)
    c(Seq(
      (6L, "I", runB + " " + uniq(6, 3)),
      (8L, "I", uniq(8, 2) + " " + runB),
      (12L, "I", run10 + " " + uniq(12, 5)),
      (12L, "D", "x")).toDF("doc_id", "op", "text"), 1L)
    val live = Seq(
      (0L, uniq(0, 4) + " " + run10),
      (4L, rep8 + " q0 " + rep8),
      (6L, runB + " " + uniq(6, 3)),
      (8L, uniq(8, 2) + " " + runB)).toDF("doc_id", "text")
    val want = DedupOps.substringSpansOver(live, 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(!want.exists(_._1 == 0L) && want.exists(_._1 == 6L),
      s"fixture construction drifted: $want")
    val got = graft.sinks.SubstrIndexSink.spans(spark, loc)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want, "delete-wins admission drifted from the batch scan")
    // and the doc is re-admittable later (the tombstone is outranked)
    c(Seq((12L, "I", run10 + " " + uniq(12, 5)))
      .toDF("doc_id", "op", "text"), 2L)
    val live2 = live.unionByName(
      Seq((12L, run10 + " " + uniq(12, 5))).toDF("doc_id", "text"))
    val want2 = DedupOps.substringSpansOver(live2, 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(want2.exists(_._1 == 0L), s"fixture construction drifted: $want2")
    val got2 = graft.sinks.SubstrIndexSink.spans(spark, loc)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got2 == want2, "re-admission after an in-batch delete drifted")
  }

  test("q168 registry retraction: a retired benchmark doc stops cutting; a gram shared with a surviving doc keeps cutting") {
    val gramX = "x1 x2 x3 x4"       // only in bench doc 1
    val shared = "s1 s2 s3 s4"      // in bench docs 1 AND 2
    def uniq(seed: Int, n: Int) = (1 to n).map(j => s"u${seed}x$j").mkString(" ")
    val bench1 = (1L, gramX + " " + uniq(1, 3) + " " + shared)
    val bench2 = (2L, shared + " " + uniq(2, 4))
    val train = (30L, gramX + " " + uniq(3, 5) + " " + shared)
    val reg = java.nio.file.Files.createTempDirectory("graft-regret").toString
    val w = graft.sinks.BenchRegistrySink.writer(reg) _
    val r = graft.sinks.BenchRegistrySink.retract(reg) _
    val trainDf = Seq(train).toDF("doc_id", "text")
    def cutNow = DedupOps.removalFromSpans(trainDf,
        DedupOps.decontamSpansFromRegistry(
          graft.sinks.BenchRegistrySink.registry(spark, reg), trainDf, 4)._1)
      .as[(Long, String, Long)].collect().toSet
    def batchCut(bench: (Long, String)*) =
      DedupOps.substringDecontamOver(
        (bench :+ train).toDF("doc_id", "text"), 4)
        .as[(Long, String, Long)].collect().toSet

    w(Seq(bench1).toDF("doc_id", "text"), 0L)
    w(Seq(bench2).toDF("doc_id", "text"), 1L)
    graft.sinks.BenchRegistrySink.compact(spark, reg)
    assert(cutNow == batchCut(bench1, bench2))
    // retire bench doc 1: gramX stops cutting, shared keeps cutting
    // through surviving doc 2 — only per-doc pair rows can tell apart
    r(Seq((1L, "")).toDF("doc_id", "text"), 2L)
    assert(cutNow == batchCut(bench2),
      "a retired benchmark doc must stop cutting; shared grams survive")
    // fold with the tombstone, then resurrect doc 1
    graft.sinks.BenchRegistrySink.compact(spark, reg)
    assert(cutNow == batchCut(bench2), "fold must not change the answer")
    w(Seq(bench1).toDF("doc_id", "text"), 3L)
    assert(cutNow == batchCut(bench1, bench2),
      "a re-admitted benchmark doc must cut again")
  }

  test("q157 provenance: cross-doc partner is the lowest counterpart; internal repetition partners itself") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa" // 10 toks
    val run2 = "p1 p2 p3 p4 p5 p6 p7 p8" // exactly L, repeated WITHIN doc 3
    def pad(seed: Int, n: Int) = (1 to n).map(i => s"w${seed}v$i").mkString(" ")
    val docs = Seq(
      (5L, pad(0, 5) + " " + run + " " + pad(1, 3)),
      (9L, run + " " + pad(2, 4)),
      (3L, run2 + " q0 " + run2)).toDF("doc_id", "text")
    val got = DedupOps.spanProvenanceOver(docs, 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      // doc 5's span starts at 6; its first gram also lives in doc 9 —
      // doc 5 IS min1 with a single occurrence, so partner = min2 = 9
      (5L, 6L, 15L, 9L, 2L),
      // doc 9 is not min1 → partner = min1 = 5
      (9L, 1L, 10L, 5L, 2L),
      // internal repetition: the gram occurs twice in doc 3 (c_min1 = 2)
      // → each of the two split spans partners doc 3 itself
      (3L, 1L, 8L, 3L, 2L),
      (3L, 10L, 17L, 3L, 2L)), s"got $got")
  }

  test("span_stats aggregate: fused (n_occ, min1, c_min1, min2) ≡ the per-(gram,doc) composition, under forced partial-state merges") {
    // a doc's gram rows are deliberately SCATTERED across 16 partitions
    // (repartition on pos) so the same doc reaches multiple partial
    // states and merge must add partial counts for a shared min1 and
    // reconcile min2 candidates — correctness must never depend on
    // document-partition locality
    val run = (1 to 12).map(i => s"r$i").mkString(" ") // shared by docs 7, 2, 5
    val rep = (1 to 8).map(i => s"s$i").mkString(" ")  // twice inside doc 9 only
    val docs = Seq(
      (7L, run + " z1 z2"), (2L, run), (5L, "y0 " + run),
      (9L, rep + " q " + rep),
      (4L, (1 to 30).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val grams = DedupOps.gramPositions(docs, 8).repartition(16, col("pos"))
    val fused = grams.groupBy(col("h"))
      .agg(graft.expressions.SpanStatsAgg.span_stats(col("doc_id")).as("st"))
      .select(col("h"), col("st.n_occ"), col("st.min1"), col("st.c_min1"),
        col("st.min2"))
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet
    val perDoc = grams.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val base = perDoc.groupBy(col("h"))
      .agg(sum(col("c")).as("n_occ"), min(col("doc_id")).as("min1"),
        min_by(col("c"), col("doc_id")).as("c_min1"))
    val second = perDoc.join(base.select(col("h"), col("min1")), "h")
      .filter(col("doc_id") > col("min1"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("min2"))
    val composed = base.join(second, Seq("h"), "left")
      .select(col("h"), col("n_occ"), col("min1"), col("c_min1"), col("min2"))
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet
    assert(fused.nonEmpty && fused == composed)
    // the engineered cases are actually present: an internal-repetition
    // gram (min2 absent, c_min1 = 2) and a three-doc gram (min2 = 5)
    assert(fused.exists { case (_, n, m1, c1, m2) =>
      n == 2 && m1 == 9 && c1 == 2 && m2.isEmpty })
    assert(fused.exists { case (_, n, m1, c1, m2) =>
      n == 3 && m1 == 2 && c1 == 1 && m2.contains(5) })
  }

  test("q162 span decontamination: cuts exactly the bench-covered run from training; training-internal duplication is KEPT (not dedup)") {
    val leak = "l1 l2 l3 l4 l5 l6" // 6 tokens shared with the bench doc
    val dup = "d1 d2 d3 d4"        // 4 tokens duplicated WITHIN training only
    def pad(seed: Int, n: Int) = (1 to n).map(i => s"p${seed}x$i").mkString(" ")
    val docs = Seq(
      // bench (doc_id < 20): carries the leaked run
      (3L, pad(0, 4) + " " + leak + " " + pad(1, 4)),
      // training doc with the leak at 1-based start 3 → covered tokens
      // 3..8 (three 4-gram starts at 3, 4, 5; span_end = 5 + 3 = 8)
      (20L, pad(2, 2) + " " + leak + " " + pad(3, 3)),
      // two training docs sharing `dup` — training-internal, NOT cut
      (21L, dup + " " + pad(4, 5)),
      (22L, pad(5, 5) + " " + dup),
      // untouched training doc
      (23L, pad(6, 12))).toDF("doc_id", "text")
    val got = DedupOps.substringDecontamOver(docs, 4)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    // bench doc never appears in the output (only training is emitted)
    assert(!got.contains(3L) && got.size == 4)
    assert(got(20L) == ((20L, pad(2, 2) + " " + pad(3, 3), 6L)), s"got ${got(20L)}")
    // the training-internal dup survives byte-identical: the dup set is
    // the BENCHMARK vocabulary, not the corpus's
    assert(got(21L) == ((21L, dup + " " + pad(4, 5), 0L)))
    assert(got(22L) == ((22L, pad(5, 5) + " " + dup, 0L)))
    assert(got(23L) == ((23L, pad(6, 12), 0L)))
  }

  test("q162 registry auto router: broadcast in the home regime; an oversized registry takes the Bloom road, a clamp-exceeding one the plain join — all three hash-equal") {
    val docs = graft.Tables.t(spark, sf0001, "documents")
    val train = docs.filter(col("doc_id") >= 20)
    // home regime: an eval registry is model-sized next to the corpus —
    // the session budget admits it and the router must broadcast
    val (s1, r1) = DedupOps.decontamSpansWithStats(docs, train, 4, 20L)
    assert(r1 == "broadcast", s"registry under the budget must broadcast, got $r1")
    val want = s1.as[(Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty)
    // oversized registry, modeled at spec scale by shrinking the
    // session budget the router reads live (the q159 clamp-conf trick):
    // past the budget the Bloom road prunes map-side, exact join kills
    // FPs — the answer must not move
    val bKey = "spark.sql.autoBroadcastJoinThreshold"
    val cKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    def withConf(key: String, v: String)(body: => Unit): Unit = {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, v)
      try body finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
    withConf(bKey, "64") { // budget of two 32-B rows → any real registry exceeds it
      val (s2, r2) = DedupOps.decontamSpansWithStats(docs, train, 4, 20L)
      assert(r2 == "bloom", s"registry past the budget must take the Bloom road, got $r2")
      assert(s2.as[(Long, Long, Long, Long)].collect().toSet == want)
      // and past the Bloom sizing clamps too (a registry rivaling the
      // corpus), the plain shuffle join is the floor
      withConf(cKey, "512") {
        val (s3, r3) = DedupOps.decontamSpansWithStats(docs, train, 4, 20L)
        assert(r3 == "plain", s"a clamp-exceeding registry must route plain, got $r3")
        assert(s3.as[(Long, Long, Long, Long)].collect().toSet == want)
      }
    }
  }

  test("q163 decontam report: removed mass ≡ q162's cut mass, and benchmark docs never enter the card") {
    // the q158↔q155 convention applied to the cross-corpus pair: the
    // report's removed_tokens (span widths) and the cut's n_removed
    // (tokens actually dropped) must count the SAME tokens
    val docs = graft.Tables.t(spark, sf0001, "documents")
    val reported = DedupOps.decontamReportOver(docs, 4)
    val rep = reported.agg(sum(col("removed_tokens")), sum(col("n_docs")))
      .as[(Long, Long)].collect()(0)
    val cut = DedupOps.substringDecontamOver(docs, 4)
      .agg(sum(col("n_removed")), count(lit(1))).as[(Long, Long)].collect()(0)
    assert(rep._1 == cut._1, s"report ${rep._1} vs cut ${cut._1}")
    // every training doc is carded exactly once; bench docs excluded
    assert(rep._2 == cut._2 &&
      rep._2 == docs.filter(col("doc_id") >= 20).count())
  }

  test("q165/q166 stored-report twins: the cards served from the registry/index equal the batch q163/q158 answers") {
    // the stored-serving matrix's last two cells: same rollup builder,
    // span frames from the stores — any divergence is a store bug
    val batchDecontam = DedupOps.decontamReport(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val storedDecontam = DedupOps.decontamReportStream(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(batchDecontam.nonEmpty && storedDecontam == batchDecontam)
    val batchDup = DedupOps.duplicationReport(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    val storedDup = DedupOps.duplicationReportStream(spark, sf0001)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSet
    assert(batchDup.nonEmpty && storedDup == batchDup)
  }

  test("q158 duplication report: covered mass ≡ q155's removed mass, per construction") {
    // the report's dup_tokens and the removal's n_removed count the
    // SAME tokens (islands are disjoint; removal cuts exactly the
    // covered set) — tie the two independently-built views together
    val docs = graft.Tables.t(spark, sf0001, "documents")
    val reported = DedupOps.duplicationReportOver(docs, 8)
      .agg(sum(col("dup_tokens"))).as[Long].collect()(0)
    val removed = DedupOps.substringRemoveOver(docs, 8)
      .agg(sum(col("n_removed"))).as[Long].collect()(0)
    assert(reported > 0 && reported == removed,
      s"report covered $reported tokens but removal cut $removed")
  }

  test("q155 removal: covered tokens are cut from EVERY occurrence; span-less docs pass through byte-identical") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def pad(seed: Int, n: Int) = (1 to n).map(i => s"u${seed}w$i").mkString(" ")
    val docs = Seq(
      (0L, pad(0, 5) + " " + run + " " + pad(1, 7)),
      (1L, pad(2, 2) + " " + run + " " + pad(3, 4)),
      (2L, pad(4, 30))).toDF("doc_id", "text")
    val got = DedupOps.substringRemoveOver(docs, 8)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // the shared 10-token run vanishes from BOTH docs (Lee et al.'s
    // every-occurrence cut); the unique padding survives in order
    assert(got(0L) == (pad(0, 5) + " " + pad(1, 7), 10L))
    assert(got(1L) == (pad(2, 2) + " " + pad(3, 4), 10L))
    assert(got(2L) == (pad(4, 30), 0L))
    // mass conservation: removed ≡ original minus kept, per doc
    val check = DedupOps.substringRemoveOver(docs, 8)
      .join(docs, "doc_id")
      .select((size(split(col("text"), " ")) -
        when(col("clean_text") === "", 0)
          .otherwise(size(split(col("clean_text"), " ")))).cast("long")
        .as("delta"), col("n_removed"))
      .filter(not(col("delta") === col("n_removed"))).count()
    assert(check == 0)
  }

  test("q154 on the fixtures ≡ a driver recompute from first principles; fixture dup-grams exist") {
    // independent of the engine's hash/window machinery: string grams,
    // scala Map counting, hand-rolled island merge — every span must
    // match exactly (the fixtures carry ~1 100 duplicated 8-grams from
    // the engineered near-dup docs; no exact-dup docs exist, so q154's
    // signal here is genuinely span-level, not whole-doc)
    val L = 8
    val docsDf = graft.Tables.t(spark, sf0001, "documents")
    val texts = docsDf.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val grams = texts.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      (0 to w.length - L).map(i => (id, (i + 1).toLong, w.slice(i, i + L).mkString(" ")))
    }
    val counts = grams.groupBy(_._3).map { case (g, xs) => g -> xs.size }
    val want = grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).flatMap { case (id, gs) =>
        val ps = gs.map(_._2).sorted
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = ps.head; var prev = ps.head; var n = 0L
        for (p <- ps) {
          if (p > prev + L) { spans += ((id, start, prev + L - 1, n)); start = p; n = 0L }
          n += 1; prev = p
        }
        spans += ((id, start, prev + L - 1, n))
        spans
      }.toSet
    val got = DedupOps.substringSpansOver(docsDf, L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture lost its duplicated 8-grams")
    assert(got == want, s"spans drifted: ${(got -- want).take(3)} vs ${(want -- got).take(3)}")
  }
}

object DedupSpec {
  /** The union-find route hands its labels back as a driver-side local
    * relation; star contraction's come from an RDD. */
  def unionFindRoute(labels: org.apache.spark.sql.DataFrame): Boolean =
    labels.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Component min-id labels by plain breadth-first search — the
    * reference both collapse engines are checked against, sharing no
    * code with either. */
  def bfsLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !label.contains(start)) {
      // ascending starts: the first unseen node IS its component's min
      label(start) = start
      var frontier = List(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj).distinct.filterNot(label.contains)
        frontier.foreach(n => label(n) = start)
      }
    }
    label.toMap
  }
}
