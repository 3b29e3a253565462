package graft

import java.nio.file.Files

import graft.sinks.MergeParquetSink

/** Merge-on-read sink contract: a single-key upsert appends a tiny delta
  * and rewrites NOTHING (the file-count/mtime assertions), the read-side
  * merge resolves newest-version-per-key globally (keys may move between
  * dt partitions), tombstones delete, replay is content-idempotent, and
  * compaction folds deltas back into the base. */
class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, String, Long, Double)*) =
    rows.toDF("mid", "dt", "ver", "amount")

  private def filesUnder(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File(dir)
    if (!root.exists) Map.empty
    else walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  private def readAll(path: String) =
    MergeParquetSink.read(spark, path, Seq("mid"), "ver")
      .select("mid", "dt", "ver", "amount")
      .as[(String, String, Long, Double)].collect().toSet

  test("single-key upsert appends O(1) files and rewrites no existing file") {
    val path = Files.createTempDirectory("merge1").toString + "/t"
    val bulk = (1 to 500).map(i => (s"m$i", s"2024-01-0${i % 2 + 1}", 1L, i.toDouble))
    MergeParquetSink.upsert(bulk.toDF("mid", "dt", "ver", "amount"), path, "dt")
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    val baseBefore = filesUnder(s"$path/base")
    assert(baseBefore.nonEmpty)

    MergeParquetSink.upsert(table(("m7", "2024-01-02", 2L, 777.0)), path, "dt")

    assert(filesUnder(s"$path/base") == baseBefore,
      "a keyed upsert must not rewrite any base file")
    val deltaFiles = filesUnder(s"$path/delta")
    assert(deltaFiles.size <= 2,
      s"single-key upsert should append O(1) delta files, wrote ${deltaFiles.size}")
    val got = readAll(path)
    assert(got.contains(("m7", "2024-01-02", 2L, 777.0)))
    assert(!got.exists(r => r._1 == "m7" && r._4 == 7.0))
    assert(got.size == 500)
  }

  test("newest version wins globally: a key may move to a different dt") {
    val path = Files.createTempDirectory("merge2").toString + "/t"
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)), path, "dt")
    MergeParquetSink.upsert(table(("m1", "2024-01-05", 2L, 99.0)), path, "dt")
    assert(readAll(path) == Set(("m1", "2024-01-05", 2L, 99.0)))
  }

  test("replaying an upsert batch leaves the read content unchanged") {
    val path = Files.createTempDirectory("merge3").toString + "/t"
    val b = table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0))
    MergeParquetSink.upsert(b, path, "dt")
    val before = readAll(path)
    MergeParquetSink.upsert(b, path, "dt") // at-least-once replay
    assert(readAll(path) == before)
  }

  test("streaming writer compacts inline once maxDeltas segments accumulate") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("merge5").toString + "/t"
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Long, Double)]
    val q = in.toDF().toDF("mid", "dt", "ver", "amount").writeStream
      .foreachBatch(
        MergeParquetSink.writerWithCompaction(path, "dt", Seq("mid"), "ver", maxDeltas = 2) _)
      .start()
    try {
      (1 to 5).foreach { i =>
        in.addData((s"m$i", "2024-01-01", 1L, i.toDouble))
        q.processAllAvailable()
      }
      val deltas = Option(new java.io.File(s"$path/delta").listFiles())
        .map(_.count(_.getName.startsWith("seq="))).getOrElse(0)
      assert(deltas < 2, s"compaction should keep the delta list short, found $deltas")
      assert(readAll(path).map(_._1) == (1 to 5).map(i => s"m$i").toSet)
    } finally q.stop()
  }

  test("streaming writer executes each batch once: one state store per shuffle partition under an upstream dedup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, date_format}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val path = Files.createTempDirectory("merge_once").toString + "/t"
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = in.toDF().toDF("mid", "ts", "amount")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("mid")
      .select(col("mid"), date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("ts").cast("long").as("ver"), col("amount"))
      .writeStream
      .foreachBatch(MergeParquetSink.writer(path, "dt") _)
      .start()
    try {
      in.addData(("m1", ts("2024-01-01 10:00:00"), 1.0),
        ("m1", ts("2024-01-01 10:01:00"), 2.0), // duplicate, dropped
        ("m2", ts("2024-01-01 10:02:00"), 3.0))
      q.processAllAvailable()
      in.addData(("m3", ts("2024-01-01 11:00:00"), 4.0))
      q.processAllAvailable()
      assert(readAll(path).map(r => (r._1, r._4)) ==
        Set(("m1", 1.0), ("m2", 3.0), ("m3", 4.0)))
      // a second execution of the batch (an emptiness probe on the raw
      // frame) would re-run the dedup and add store instances
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val stores = q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numStateStoreInstances).toSeq)
      assert(stores.nonEmpty && stores.forall(_ == Seq(parts)),
        s"state store instances per batch: $stores")
    } finally q.stop()
  }

  test("compaction under session-level dynamic overwrite: fully-deleted day does not resurrect") {
    val path = Files.createTempDirectory("merge6").toString + "/t"
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    // simulate another writer having switched the session to dynamic
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val b = table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-02", 1L, 20.0))
      MergeParquetSink.upsert(b, path, "dt")
      MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver") // base has both days
      MergeParquetSink.delete(
        Seq(("m1", "2024-01-01", 2L)).toDF("mid", "dt", "ver"), path, "dt", b, "ver")
      // second compaction: snapshot has no 2024-01-01 rows; under dynamic
      // overwrite the old base partition would survive and, with the
      // tombstone delta now cleared, m1 would resurrect
      MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
      assert(readAll(path) == Set(("m2", "2024-01-02", 1L, 20.0)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("time travel: asOfSeq reads the table exactly as each delta left it") {
    val path = Files.createTempDirectory("merge_tt").toString + "/t"
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)), path, "dt") // seq 0
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 2L, 20.0)), path, "dt") // seq 1
    MergeParquetSink.delete( // seq 2
      Seq(("m1", "2024-01-01", 3L)).toDF("mid", "dt", "ver"), path, "dt",
      table(), "ver")
    def asOf(n: Long) =
      MergeParquetSink.read(spark, path, Seq("mid"), "ver", asOfSeq = Some(n))
        .select("mid", "ver", "amount").as[(String, Long, Double)].collect().toSet
    assert(asOf(0) == Set(("m1", 1L, 10.0)))
    assert(asOf(1) == Set(("m1", 2L, 20.0)))
    assert(asOf(2).isEmpty) // the tombstone is visible at its own seq
    assert(readAll(path).isEmpty) // and the present equals the last as-of
    // the as-of bound prunes seq DIRECTORIES before the scan even forms:
    // read() selects the ≤ n dir list explicitly, so later seqs never
    // enter the file index (stronger than a partition filter — no
    // listing, no footer reads)
    val df = MergeParquetSink.read(spark, path, Seq("mid"), "ver", asOfSeq = Some(0))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("seq=0"), s"delta scan must read seq=0:\n$plan")
    assert(!plan.contains("seq=1") && !plan.contains("seq=2"),
      s"as-of 0 must exclude later seq dirs from the scan entirely:\n$plan")
  }

  test("torn delta (no commit marker) is invisible to readers; compact clears it") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("merge_torn").toString + "/t"
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)), path, "dt")
    // crash mid-upsert of the next batch: data files landed, marker
    // (and on object stores, _SUCCESS) did not
    table(("m2", "2024-01-01", 1L, 20.0))
      .withColumn("__deleted", lit(false))
      .write.partitionBy("dt").parquet(s"$path/delta/seq=1")
    for (m <- Seq("_SUCCESS", graft.sinks.Hfs.CommitMarker))
      graft.sinks.Hfs.deleteRecursive(spark, s"$path/delta/seq=1/$m")
    // the half-applied batch must not serve
    assert(readAll(path) == Set(("m1", "2024-01-01", 1L, 10.0)))
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    assert(readAll(path) == Set(("m1", "2024-01-01", 1L, 10.0)))
    // the torn dir is the HIGHEST seq — it could be a live writer's
    // in-flight batch whose commit marker lands mid-compaction, so
    // compact must NOT delete it yet (it stays invisible to readers)
    assert(new java.io.File(s"$path/delta/seq=1").exists,
      "compact must not clear the top torn dir — it may be an in-flight " +
        "batch about to commit")
    // the replay (as the stream would re-run the uncommitted batch)
    // supersedes it: the writer that owned seq=1 is provably dead once a
    // later allocation exists, so the NEXT compact clears the garbage
    MergeParquetSink.upsert(table(("m2", "2024-01-01", 1L, 20.0)), path, "dt")
    assert(readAll(path) ==
      Set(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0)))
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    assert(!new java.io.File(s"$path/delta/seq=1").exists,
      "superseded torn dir must be cleared once a later seq exists")
    assert(readAll(path) ==
      Set(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0)))
  }

  test("delta committing during/after a long compaction is not deleted unfolded") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("merge_race").toString + "/t"
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)), path, "dt")
    // a concurrent upsert's dir exists but is UNCOMMITTED for the whole
    // compaction (the live writer's in-flight batch — always the top
    // seq under the single-live-writer protocol)
    table(("m2", "2024-01-01", 1L, 20.0))
      .withColumn("__deleted", lit(false))
      .write.partitionBy("dt").parquet(s"$path/delta/seq=1")
    for (m <- Seq("_SUCCESS", graft.sinks.Hfs.CommitMarker))
      graft.sinks.Hfs.deleteRecursive(spark, s"$path/delta/seq=1/$m")
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    // the in-flight writer's commit marker lands — compact must not have
    // deleted the data out from under it (the old listSeqs snapshot did)
    graft.sinks.Hfs.markSegmentCommitted(spark, s"$path/delta/seq=1")
    assert(readAll(path) ==
      Set(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0)),
      "a batch committing across the compaction window was lost")
    // and the next compact folds it normally
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    assert(readAll(path) ==
      Set(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0)))
  }

  test("fully-tombstoned table compacts to a READABLE empty table") {
    val path = Files.createTempDirectory("merge7").toString + "/t"
    val b = table(("m1", "2024-01-01", 1L, 10.0))
    MergeParquetSink.upsert(b, path, "dt")
    MergeParquetSink.delete(
      Seq(("m1", "2024-01-01", 2L)).toDF("mid", "dt", "ver"), path, "dt", b, "ver")
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    // the base must keep a schema-bearing footer: read returns empty, not
    // UNABLE_TO_INFER_SCHEMA
    assert(readAll(path).isEmpty)
    // and the table stays writable/readable afterwards
    MergeParquetSink.upsert(table(("m2", "2024-01-02", 3L, 30.0)), path, "dt")
    assert(readAll(path) == Set(("m2", "2024-01-02", 3L, 30.0)))
  }

  test("equal-version duplicate keys in one batch resolve deterministically across reads and compaction") {
    val path = Files.createTempDirectory("merge8").toString + "/t"
    MergeParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m1", "2024-01-01", 1L, 20.0)),
      path, "dt")
    val first = readAll(path)
    assert(first.size == 1)
    (1 to 3).foreach(_ => assert(readAll(path) == first))
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    assert(readAll(path) == first, "compaction changed the tie-break winner")
  }

  test("tombstone deletes a key; compaction clears deltas and keeps content") {
    val path = Files.createTempDirectory("merge4").toString + "/t"
    val b = table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0))
    MergeParquetSink.upsert(b, path, "dt")
    MergeParquetSink.delete(
      Seq(("m2", "2024-01-01", 2L)).toDF("mid", "dt", "ver"), path, "dt", b, "ver")
    assert(readAll(path) == Set(("m1", "2024-01-01", 1L, 10.0)))

    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    assert(!new java.io.File(s"$path/delta").exists ||
      new java.io.File(s"$path/delta").listFiles().isEmpty)
    assert(readAll(path) == Set(("m1", "2024-01-01", 1L, 10.0)))
  }

  test("compaction crash between base delete and rename recovers on the next compact") {
    val path = Files.createTempDirectory("merge5").toString + "/t"
    val rows = Set(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-02", 2L, 20.0))
    MergeParquetSink.upsert(table(rows.toSeq: _*), path, "dt")
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 3L, 30.0)), path, "dt")
    // simulate the crash window: a fully-written staging snapshot exists
    // and the old base is gone (exactly the delete→rename gap)
    import java.nio.file.{Files => JF, Paths}
    MergeParquetSink.read(spark, path, Seq("mid"), "ver")
      .write.mode("overwrite").partitionBy("dt").parquet(s"$path/base__staging")
    graft.sinks.Hfs.deleteRecursive(spark, s"$path/base")
    // next compact must adopt the staging dir, then fold normally
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    assert(readAll(path) ==
      Set(("m1", "2024-01-01", 3L, 30.0), ("m2", "2024-01-02", 2L, 20.0)))
    assert(!JF.exists(Paths.get(s"$path/base__staging")),
      "staging dir must not survive a successful compact")
  }

  test("READ during the compaction crash window adopts the staging snapshot") {
    val path = Files.createTempDirectory("merge6").toString + "/t"
    MergeParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-02", 2L, 20.0)),
      path, "dt")
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    MergeParquetSink.upsert(table(("m3", "2024-01-03", 1L, 30.0)), path, "dt")
    // crash window: base fully staged, old base deleted, rename pending
    MergeParquetSink.read(spark, path, Seq("mid"), "ver")
      .write.mode("overwrite").partitionBy("dt").parquet(s"$path/base__staging")
    graft.sinks.Hfs.deleteRecursive(spark, s"$path/base")
    graft.sinks.Hfs.deleteRecursive(spark, s"$path/delta")
    // a plain read (no compact first) must see every pre-compaction row
    assert(readAll(path) == Set(
      ("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-02", 2L, 20.0),
      ("m3", "2024-01-03", 1L, 30.0)))
  }

  test("seq numbering stays monotonic across compaction; pre-horizon asOfSeq fails loudly") {
    val path = Files.createTempDirectory("merge7").toString + "/t"
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)), path, "dt") // seq 0
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 2L, 20.0)), path, "dt") // seq 1
    MergeParquetSink.compact(spark, path, Seq("mid"), "dt", "ver")
    // post-compaction deltas must NOT restart at 0 — a recorded
    // asOfSeq=1 would otherwise alias an unrelated future batch
    MergeParquetSink.upsert(table(("m1", "2024-01-01", 3L, 30.0)), path, "dt") // seq 2
    assert(MergeParquetSink.seqHorizon(spark, path) == 2L)
    assert(readAll(s"$path") == Set(("m1", "2024-01-01", 3L, 30.0)))
    // asOfSeq = horizon-1 is the compacted state itself — still valid
    assert(MergeParquetSink.read(spark, path, Seq("mid"), "ver", asOfSeq = Some(1L))
      .select("ver").as[Long].collect().toSeq == Seq(2L))
    // anything earlier was folded away: loud failure, not wrong data
    intercept[IllegalArgumentException] {
      MergeParquetSink.read(spark, path, Seq("mid"), "ver", asOfSeq = Some(0L))
    }
  }
}
