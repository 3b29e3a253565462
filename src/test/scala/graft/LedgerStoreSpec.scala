package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One scenario over every store declared on [[sinks.LedgerStore]]: the
  * five doc-keyed text/dedup ledgers and the two user-keyed set stores.
  * Each case declares how to build a batch for a set of keys and how to
  * compare the store's serving view with its batch builder over the
  * LIVE keys; the scenario, the replay check and the job budgets are
  * written once. */
class LedgerStoreSpec extends SparkSpec {
  import spark.implicits._

  private type Hook = String => (DataFrame, Long) => Unit

  /** @param key the ledger key column
    * @param input the store's input rows for `keys`
    * @param view the served answer
    * @param batch the batch builder over the input rows of the live keys */
  private case class Case(name: String, key: String, writer: Hook,
      retract: Hook, cdc: Hook, compact: (SparkSession, String) => Unit,
      input: Seq[Long] => DataFrame,
      view: (SparkSession, String) => DataFrame,
      batch: DataFrame => DataFrame)

  private val run10 = (1 to 10).map(i => s"r$i").mkString(" ")
  private val runB = (1 to 10).map(i => s"b$i").mkString(" ")
  private val rep8 = (1 to 8).map(i => s"s$i").mkString(" ")
  private val corpus = Map(
    1L -> ("web", s"u1a u1b $run10"),
    2L -> ("web", s"$run10 u2a"),
    3L -> ("web", s"$rep8 q0 $rep8"),
    4L -> ("books", s"$runB u4a"),
    5L -> ("books", s"u5a $runB"),
    6L -> ("code", s"$run10 $runB"))
  private def docs(keys: Seq[Long]): DataFrame =
    keys.map(k => (k, corpus(k)._1, corpus(k)._2))
      .toDF("doc_id", "source", "text")

  // two active days per user, the second one shared by every user
  private def events(keys: Seq[Long]): DataFrame =
    keys.flatMap(u => Seq(
        (u * 10, u, java.sql.Timestamp.valueOf(s"2024-01-0${u % 5 + 1} 10:00:00")),
        (u * 10 + 1, u, java.sql.Timestamp.valueOf("2024-01-09 10:00:00"))))
      .toDF("event_id", "user_id", "ts")

  private def sessions(keys: Seq[Long]): DataFrame =
    keys.flatMap(u => Seq((u, 1000L * u, 3L, 60L, 1L), (u, 9000L * u, 1L, 0L, 0L)))
      .toDF("user_id", "start_us", "n_events", "dur_us", "converted")

  private val cases = Seq(
    Case("vocab", "doc_id", sinks.VocabSink.writer, sinks.VocabSink.retract,
      sinks.VocabSink.cdc, sinks.VocabSink.compact, docs,
      sinks.VocabSink.read, functions.TextOps.vocabAggregate),
    Case("sourcestats", "doc_id", sinks.SourceStatsSink.writer,
      sinks.SourceStatsSink.retract, sinks.SourceStatsSink.cdc,
      sinks.SourceStatsSink.compact, docs, sinks.SourceStatsSink.read,
      functions.TextOps.sourceStatsAggregate),
    Case("substr", "doc_id", sinks.SubstrIndexSink.writer,
      sinks.SubstrIndexSink.retract, sinks.SubstrIndexSink.cdc,
      sinks.SubstrIndexSink.compact, docs, sinks.SubstrIndexSink.spans,
      functions.DedupOps.substringSpansOver(_, 8)),
    Case("phrase", "doc_id", sinks.PhraseIndexSink.writer,
      sinks.PhraseIndexSink.retract, sinks.PhraseIndexSink.cdc,
      sinks.PhraseIndexSink.compact, docs,
      sinks.PhraseIndexSink.read(_, _), functions.TextOps.phraseAggregate),
    Case("registry", "doc_id", sinks.BenchRegistrySink.writer,
      sinks.BenchRegistrySink.retract, sinks.BenchRegistrySink.cdc,
      sinks.BenchRegistrySink.compact, docs,
      sinks.BenchRegistrySink.registry(_, _).distinct(),
      functions.DedupOps.gramPositions(_, 4).select(col("h")).distinct()),
    Case("retention", "user_id", sinks.RetentionSink.writer,
      sinks.RetentionSink.retract, sinks.RetentionSink.cdc,
      sinks.RetentionSink.compact, events, sinks.RetentionSink.read,
      _.select(col("user_id"), to_date(col("ts")).as("day")).distinct()),
    Case("session", "user_id", sinks.SessionSink.writer,
      sinks.SessionSink.retract, sinks.SessionSink.cdc,
      sinks.SessionSink.compact, sessions, sinks.SessionSink.read,
      _.distinct()))

  private def rows(df: DataFrame): Set[List[Any]] =
    df.collect().map(_.toSeq.toList).toSet

  private def keysOf(c: Case, keys: Seq[Long]): DataFrame = keys.toDF(c.key)

  private def cdcBatch(c: Case, ins: Seq[Long], dels: Seq[Long]): DataFrame =
    c.input(ins).withColumn("op", lit("I"))
      .unionByName(c.input(dels).withColumn("op", lit("D")))

  /** Every file under `dir` as (path with the write's UUID blanked,
    * content digest): a rewrite with identical content compares equal. */
  private def snapshot(dir: String): Map[String, String] = {
    val root = new java.io.File(dir).toPath
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
    val files = java.nio.file.Files.walk(root).iterator()
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map { p =>
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
        uuid.replaceAllIn(root.relativize(p).toString, "U") -> md5
      }.toMap
  }

  /** Tombstone-resolve jobs started while `f` runs: the jobs that
    * materialize the resolve's checkpointed tombstone aggregate (their
    * stage carries the checkpoint's call site in IngestSegments). */
  private def resolveJobs(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.stageInfos.exists(
            _.name.startsWith("localCheckpoint at IngestSegments.scala")))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }

  cases.foreach { c =>
    test(s"${c.name}: mixed CDC is delete-wins, a replayed hook rewrites identical bytes, retract/resurrect/compact/tail-retract equals the batch build") {
      val dir = java.nio.file.Files.createTempDirectory(s"ledger-${c.name}").toString
      def check(live: Seq[Long], what: String) =
        assert(rows(c.view(spark, dir)) == rows(c.batch(c.input(live))),
          s"${c.name}: $what must equal the batch build over keys $live")
      c.cdc(dir)(cdcBatch(c, Seq(1L, 2L, 3L), Nil), 0L)
      // a store that was only ever written (here by a CDC batch without
      // deletes) has no tombstone side table, and serving it runs no
      // tombstone-resolve job
      assert(!new java.io.File(s"$dir/tomb").exists(),
        s"${c.name}: a pure write created the tombstone side table")
      assert(resolveJobs(check(Seq(1L, 2L, 3L), "the first write")) == 0,
        s"${c.name}: a never-retracted store ran a tombstone-resolve job")
      // key 6 is inserted AND deleted in one batch: never admitted;
      // key 1 is retracted beside fresh inserts 4 and 5
      val mixed = cdcBatch(c, Seq(4L, 5L, 6L), Seq(6L, 1L))
      c.cdc(dir)(mixed, 1L)
      check(Seq(2L, 3L, 4L, 5L), "the mixed CDC batch")
      val before = snapshot(dir)
      c.cdc(dir)(mixed, 1L) // streaming replay of the same batch
      assert(snapshot(dir) == before,
        s"${c.name}: a replayed cdc hook must leave byte-identical segments")
      c.retract(dir)(keysOf(c, Seq(2L, 99L)), 2L)
      check(Seq(3L, 4L, 5L), "a retraction (with a never-seen key)")
      c.writer(dir)(c.input(Seq(2L)), 3L)
      check(Seq(2L, 3L, 4L, 5L), "a resurrection")
      c.compact(spark, dir)
      check(Seq(2L, 3L, 4L, 5L), "the fold")
      // the fold dropped every row of keys 1 and 6, so their folded
      // tombstones retired; batch 2's segment (keys 2 and 99; the
      // registry's scope drops 99) is the side table's replayable
      // newest and stays unfolded
      val kept = sinks.IngestSegments.readLive(spark, s"$dir/tomb").get
        .select(col(c.key), col("ingest")).as[(Long, Long)].collect().toSet
      val batch2 = if (c.name == "registry") Set(2L) else Set(2L, 99L)
      assert(kept == batch2.map(_ -> 2L),
        s"${c.name}: the side table after the fold holds $kept")
      c.retract(dir)(keysOf(c, Seq(3L, 1L)), 4L)
      val tail = snapshot(dir)
      c.retract(dir)(keysOf(c, Seq(3L, 1L)), 4L)
      assert(snapshot(dir) == tail,
        s"${c.name}: a replayed retract hook must leave byte-identical segments")
      check(Seq(2L, 4L, 5L), "a live-tail retraction after the fold")
      // a CDC batch without deletes resurrects key 1 and leaves no
      // tombstone segment behind
      c.cdc(dir)(cdcBatch(c, Seq(1L), Nil), 5L)
      assert(!new java.io.File(s"$dir/tomb/ingest=5").exists(),
        s"${c.name}: a batch without deletes wrote a tombstone segment")
      check(Seq(1L, 2L, 4L, 5L), "a CDC re-ingest without deletes")
    }
  }

  /** Spark jobs per hook and store, on the scenario below with AQE off
    * (one action ≈ one job, plus one per broadcast build). The budgets
    * are the counts of the per-store implementations this class
    * replaced; a hook may lose jobs but never gain one. The user stores
    * had no `cdc` hook before, so theirs pin the first measurement. */
  private val jobBudget = Map(
    "vocab" -> (5, 7, 10), "sourcestats" -> (5, 7, 10),
    "substr" -> (5, 7, 10), "phrase" -> (2, 2, 2),
    "registry" -> (2, 2, 2), "retention" -> (1, 1, 2),
    "session" -> (1, 1, 2))

  test("job budget: no hook of any ledger store runs more Spark jobs than its per-store predecessor") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def counted(f: => Unit): Int = {
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
      jobs.set(0)
      f
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
      jobs.get()
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      val measured = cases.map { c =>
        val dir = java.nio.file.Files.createTempDirectory(s"ledgerjobs-${c.name}").toString
        val batches = Seq(c.input(Seq(1L, 2L, 3L)), keysOf(c, Seq(2L)),
          cdcBatch(c, Seq(2L, 6L), Seq(6L, 3L)))
        batches.foreach(_.cache().count())
        val w = counted(c.writer(dir)(batches(0), 0L))
        val r = counted(c.retract(dir)(batches(1), 1L))
        val x = counted(c.cdc(dir)(batches(2), 2L))
        batches.foreach(_.unpersist())
        c.name -> (w, r, x)
      }.toMap
      println(s"[ledger-jobs] $measured")
      measured.foreach { case (name, (w, r, x)) =>
        val (bw, br, bx) = jobBudget(name)
        assert(w <= bw && r <= br && x <= bx,
          s"$name: writer/retract/cdc ran $w/$r/$x jobs, budget $bw/$br/$bx")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("SubstrIndexSink.spans serves no span from a position store with no count segment") {
    def noSpans(dir: String) =
      assert(sinks.SubstrIndexSink.spans(spark, dir).count() == 0L)
    val retractedFirst = java.nio.file.Files.createTempDirectory("substr-ret0").toString
    sinks.SubstrIndexSink.retract(retractedFirst)(Seq(7L).toDF("doc_id"), 0L)
    noSpans(retractedFirst)
    val shortDocs = java.nio.file.Files.createTempDirectory("substr-short").toString
    sinks.SubstrIndexSink.writer(shortDocs)(
      Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text"), 0L)
    noSpans(shortDocs)
  }
}
