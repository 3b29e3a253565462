package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Pins for the crash/concurrency fixes from the round-6 sink review:
  * each test reproduces the exact state a crash or race leaves behind
  * and asserts the recovery the protocol docs promise. These behaviors
  * had no spec before — which is why the defects survived two rounds of
  * review-hardening.
  */
class SinkHardeningSpec extends SparkSpec {
  import spark.implicits._

  private def vocabOf(path: String): Map[String, Long] =
    sinks.VocabSink.read(spark, path)
      .select("token", "freq").as[(String, Long)].collect().toMap

  test("additive compact skips an uncommitted segment; the replayed batch is not lost") {
    val dir = Files.createTempDirectory("seg_uncommitted").toString
    val w = sinks.VocabSink.writer(s"$dir/vocab") _
    w(Seq((1L, "aa aa")).toDF("doc_id", "text"), 0L)
    w(Seq((2L, "bb")).toDF("doc_id", "text"), 1L)
    w(Seq((3L, "cc cc cc")).toDF("doc_id", "text"), 2L)
    // simulate batch 2 having CRASHED mid-write: its data files exist
    // but no commit marker survives (the committer's abort removes only
    // _temporary) — streaming will replay batch 2 on restart
    // the additive sub-store lives at agg/ since the r17 rows-ledger
    // split; the scenario (agg segment uncommitted, rows segment
    // written) is exactly the crash window between cdcCore's two writes
    val seg2 = new java.io.File(s"$dir/vocab/agg/seq=2")
    assert(new java.io.File(seg2, "_GRAFT_COMMITTED").delete())
    new java.io.File(seg2, "_SUCCESS").delete()
    sinks.VocabSink.compact(spark, s"$dir/vocab")
    // the fold must cover batches 0-1 ONLY — folding batch 2's partial
    // rows would leave a committed fold at seq=2 and the replay below
    // would no-op, silently losing the batch
    assert(vocabOf(s"$dir/vocab") == Map("aa" -> 2L, "bb" -> 1L),
      "uncommitted segment must be invisible to the fold and the read")
    w(Seq((3L, "cc cc cc")).toDF("doc_id", "text"), 2L) // the replay
    assert(vocabOf(s"$dir/vocab") ==
      Map("aa" -> 2L, "bb" -> 1L, "cc" -> 3L),
      "the replayed batch must be recorded exactly once")
  }

  test("empty micro-batches leave no segment and cannot wedge the reads") {
    val dir = Files.createTempDirectory("seg_empty").toString
    val docs = Seq((1L, "aa bb")).toDF("doc_id", "text")
    val empty = docs.filter(col("doc_id") < 0)
    // cold start on an empty batch: the gate must no-op, not crash on
    // the segment-less model read
    functions.TextOps.streamingQualityGateWriter(
      s"$dir/vocab", s"$dir/out", minScore = 0.0)(empty, 0L)
    assert(!new java.io.File(s"$dir/vocab").exists() ||
      new java.io.File(s"$dir/vocab").listFiles().isEmpty)
    // a 0-row partial writes nothing — the footerless committed segment
    // it used to leave made every later read throw UNABLE_TO_INFER_SCHEMA
    val w = sinks.VocabSink.writer(s"$dir/vocab") _
    w(empty.select("doc_id", "text"), 1L)
    // neither the segment nor its stage survives the empty publish
    val left = Files.walk(java.nio.file.Paths.get(dir)).iterator()
      .asScala.map(_.getFileName.toString).toSeq
    assert(!left.exists(n => n == "seq=1" || n.startsWith(".stage-")),
      s"an empty partial must leave no segment and no stage: $left")
    w(docs, 2L)
    assert(vocabOf(s"$dir/vocab") == Map("aa" -> 1L, "bb" -> 1L))
    sinks.VocabSink.compact(spark, s"$dir/vocab")
    assert(vocabOf(s"$dir/vocab") == Map("aa" -> 1L, "bb" -> 1L))
  }

  private def childNames(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).fold(Seq.empty[String])(_.toSeq.sorted)

  test("writeCommittedSegment publishes in ONE job: data and marker land together, no stage survives; an empty frame leaves neither dir") {
    val dir = Files.createTempDirectory("seg_publish").toString
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
      jobs.set(0)
      sinks.Hfs.writeCommittedSegment(rows, s"$dir/batch=0")
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
      assert(jobs.get() == 1,
        s"a non-empty publish must run exactly one Spark job, ran ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(childNames(dir) == Seq("batch=0"), "no .stage-* sibling may survive")
    val files = childNames(s"$dir/batch=0")
    assert(files.contains(sinks.Hfs.CommitMarker) &&
      files.exists(_.endsWith(".parquet")),
      s"the segment must hold both its marker and its data: $files")
    sinks.Hfs.writeCommittedSegment(rows.filter(col("id") < 0), s"$dir/batch=1")
    assert(childNames(dir) == Seq("batch=0"),
      "an empty frame must leave neither the segment nor its stage")
    assert(spark.read.parquet(dir).count() == 2L)
  }

  test("a replayed publish clears a crashed attempt's stage and a legacy marker-less segment") {
    val dir = Files.createTempDirectory("seg_replay").toString
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // a crash between the marker write and the publishing rename: the
    // stage holds data and marker, the segment does not exist
    rows.write.parquet(s"$dir/.stage-batch=0")
    sinks.Hfs.markSegmentCommitted(spark, s"$dir/.stage-batch=0")
    // a marker-less segment left by the pre-stage protocol's crash
    Seq((9L, "stale")).toDF("id", "v").write.parquet(s"$dir/batch=1")
    new java.io.File(s"$dir/batch=1/_SUCCESS").delete()
    assert(!sinks.Hfs.segmentCommitted(spark, s"$dir/batch=1"))
    sinks.Hfs.writeCommittedSegment(rows, s"$dir/batch=0")
    sinks.Hfs.writeCommittedSegment(Seq((3L, "c")).toDF("id", "v"), s"$dir/batch=1")
    assert(childNames(dir) == Seq("batch=0", "batch=1"))
    def served = spark.read.parquet(dir).select("id", "v").as[(Long, String)]
      .collect().sorted.toSeq
    assert(served == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "each batch must be served exactly once, without the stale rows")
    // replaying a committed segment is a no-op: every file untouched
    def snapshot = Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(f => (f.toString, Files.size(f), Files.getLastModifiedTime(f)))
      .toSet
    val before = snapshot
    sinks.Hfs.writeCommittedSegment(rows, s"$dir/batch=0")
    assert(snapshot == before)
  }

  test("two committed stagings (concurrent-compact debris) converge on the superset fold") {
    val dir = Files.createTempDirectory("seg_twostage").toString
    val w = sinks.VocabSink.writer(s"$dir/vocab") _
    w(Seq((1L, "aa")).toDF("doc_id", "text"), 0L)
    w(Seq((2L, "bb")).toDF("doc_id", "text"), 1L)
    // fabricate the contract-violation state: a committed subset fold
    // (target 0) beside a committed superset fold (target 1) — the
    // adoption loop must end with the superset alone, not both (which
    // would double-count batch 0)
    val segs = s"$dir/vocab/agg" // the additive sub-store (r17 split)
    sinks.VocabSink.compact(spark, s"$dir/vocab") // folds agg 0-1 at seq=1
    // turn the fold back into a staging pair: copy seq=1 → stagings 0,1
    import java.nio.file.{Files => JF, Paths, StandardCopyOption}
    def copyDir(from: String, to: String): Unit = {
      JF.createDirectories(Paths.get(to))
      JF.list(Paths.get(from)).forEach(p =>
        JF.copy(p, Paths.get(to, p.getFileName.toString),
          StandardCopyOption.COPY_ATTRIBUTES))
    }
    copyDir(s"$segs/seq=1", s"$segs/__compact_staging_0")
    copyDir(s"$segs/seq=1", s"$segs/__compact_staging_1")
    sinks.Hfs.deleteRecursive(spark, s"$segs/seq=1")
    sinks.VocabSink.compact(spark, s"$dir/vocab")
    val liveSegs = new java.io.File(segs).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seq=")).map(_.getName)
    assert(liveSegs.toSeq == Seq("seq=1"),
      s"adoption must converge on the superset fold only, got ${liveSegs.toSeq}")
    assert(vocabOf(s"$dir/vocab") == Map("aa" -> 1L, "bb" -> 1L),
      "no batch may be double-counted after the recovery")
  }

  test("rename refuses an existing destination instead of burying the source inside it") {
    val dir = Files.createTempDirectory("rename_guard").toString
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/a"))
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/b"))
    val e = intercept[java.io.IOException] {
      sinks.Hfs.rename(spark, s"$dir/a", s"$dir/b")
    }
    assert(e.getMessage.contains("destination exists"))
  }

  test("a rename that LOST the exists-then-rename race surfaces as destination-exists and the buried copy is removed") {
    // the cross-process window the exists check cannot close: a
    // concurrent writer creates the destination after the check, the
    // local/HDFS rename then "succeeds" by moving the source INSIDE it
    // (mv-into semantics) — dest/<srcName> is the loser's buried copy,
    // which a parquet read of dest would count as extra rows. Model the
    // post-race state directly and drive the detection pass.
    val dir = Files.createTempDirectory("rename_race").toString
    val dest = s"$dir/labels"
    val buried = s"$dest/labels.stage-uuid"
    Files.createDirectories(java.nio.file.Paths.get(buried))
    Files.writeString(java.nio.file.Paths.get(s"$dest/part-0.parquet"), "winner")
    Files.writeString(java.nio.file.Paths.get(s"$buried/part-0.parquet"), "loser")
    val (f, _) = sinks.Hfs.fs(spark, dest)
    val e = intercept[java.io.IOException] {
      sinks.Hfs.verifyNotBuried(f,
        new org.apache.hadoop.fs.Path(s"$dir/labels.stage-uuid"),
        new org.apache.hadoop.fs.Path(dest))
    }
    assert(e.getMessage.contains("destination already existed"))
    assert(!new java.io.File(buried).exists(),
      "the buried loser copy must be deleted, not served as extra rows")
    assert(new java.io.File(s"$dest/part-0.parquet").exists(),
      "the winner's content must be untouched")
    // and a clean rename (no burial) passes the check silently
    sinks.Hfs.verifyNotBuried(f,
      new org.apache.hadoop.fs.Path(s"$dir/labels.stage-other"),
      new org.apache.hadoop.fs.Path(dest))
  }

  test("StagedLayout: serving a complete layout clears a crash-orphaned buried stage (dest/<name>.stage-*) before handing the path out") {
    // Hfs.rename's burial detection deletes a lost mv-into copy only if
    // that process survives; a crash between the rename and the burial
    // delete leaves the loser's stage as a CHILD of the served path —
    // not dot-hidden, so a parquet read would list it as extra rows
    // forever (r15 advice). Model the post-crash state and serve.
    val dir = Files.createTempDirectory("staged_buried").toString
    val path = s"$dir/layout"
    val buried = s"$path/layout.stage-deadbeef"
    Files.createDirectories(java.nio.file.Paths.get(buried))
    Files.writeString(java.nio.file.Paths.get(s"$path/data"), "winner")
    Files.writeString(java.nio.file.Paths.get(s"$path/_SUCCESS"), "ok")
    Files.writeString(java.nio.file.Paths.get(s"$buried/data"), "loser")
    val served = sinks.StagedLayout.ensure(spark, path)(
      sinks.Hfs.exists(spark, s"$path/_SUCCESS"))(_ =>
      fail("a complete layout must never rebuild"))
    assert(served == path)
    assert(!new java.io.File(buried).exists(),
      "the buried loser stage must be deleted before serving")
    assert(new java.io.File(s"$path/data").exists(),
      "the winner's content must be untouched")
  }

  test("StagedLayout: publishes atomically, clears a torn leftover, serves the winner on a lost race, and discards a failed stage") {
    def complete(p: String) = sinks.Hfs.exists(spark, s"$p/_SUCCESS")
    def build(content: String)(stage: String): Unit = {
      sinks.Hfs.mkdirs(spark, stage)
      sinks.Hfs.writeString(spark, s"$stage/data", content)
      sinks.Hfs.writeString(spark, s"$stage/_SUCCESS", "ok")
    }
    val dir = Files.createTempDirectory("staged_layout").toString
    // fresh publish
    val p1 = s"$dir/layout"
    sinks.StagedLayout.ensure(spark, p1)(complete(p1))(build("v1"))
    assert(sinks.Hfs.readString(spark, s"$p1/data").contains("v1"))
    // complete → short-circuit, the build must not run
    sinks.StagedLayout.ensure(spark, p1)(complete(p1))(_ =>
      fail("a complete layout must never rebuild"))
    // torn leftover (no _SUCCESS) is cleared and rebuilt, not wedged
    val p2 = s"$dir/torn"
    sinks.Hfs.mkdirs(spark, p2)
    sinks.Hfs.writeString(spark, s"$p2/data", "garbage")
    sinks.StagedLayout.ensure(spark, p2)(complete(p2))(build("healed"))
    assert(sinks.Hfs.readString(spark, s"$p2/data").contains("healed"))
    // lost race: a concurrent winner publishes between our build and
    // rename — modeled by a build that installs the winner itself; the
    // loser's rename must resolve to serving the winner's copy
    val p3 = s"$dir/race"
    sinks.StagedLayout.ensure(spark, p3)(complete(p3)) { stage =>
      build("winner")(p3) // the concurrent winner lands first
      build("loser")(stage)
    }
    assert(sinks.Hfs.readString(spark, s"$p3/data").contains("winner"))
    // and no stage/burial debris may survive anywhere
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names == Set("layout", "torn", "race"), s"debris: $names")
    assert(new java.io.File(s"$p3").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet == Set("data", "_SUCCESS"))
    // a build that throws leaves no stage behind and no destination
    val p4 = s"$dir/boom"
    intercept[RuntimeException] {
      sinks.StagedLayout.ensure(spark, p4)(complete(p4))(_ =>
        throw new RuntimeException("build failed"))
    }
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet ==
      Set("layout", "torn", "race"), "failed build must clean its stage")
  }

  test("marker write is crash-safe: an interrupted rewrite leaves the tmp as recovery copy") {
    val dir = Files.createTempDirectory("marker").toString
    val p = s"$dir/__buckets"
    sinks.Hfs.writeString(spark, p, "7")
    assert(sinks.Hfs.readString(spark, p).contains("7"))
    // crash window: new content durable in tmp, old file already deleted,
    // rename not yet executed
    sinks.Hfs.writeString(spark, s"$p.__tmp", "8")
    assert(new java.io.File(p).delete())
    assert(sinks.Hfs.readString(spark, p).contains("8"),
      "the committed tmp must be adopted when the main file is missing")
    // and a normal rewrite from that state heals it
    sinks.Hfs.writeString(spark, p, "9")
    assert(sinks.Hfs.readString(spark, p).contains("9"))
  }

  test("a torn first-ever write is rejected, not adopted as committed content") {
    // crash mid-tmp-write before any main file exists: the tmp holds
    // partial bytes and no terminator — adopting it would wedge e.g.
    // an empty __buckets pin's .toInt forever, and replays would fail
    // identically every time
    val dir = Files.createTempDirectory("torn").toString
    val p = s"$dir/__buckets"
    Files.writeString(java.nio.file.Paths.get(s"$p.__tmp"), "")       // torn: empty
    assert(sinks.Hfs.readString(spark, p).isEmpty,
      "an empty torn tmp with no main file must read as never-written")
    Files.writeString(java.nio.file.Paths.get(s"$p.__tmp"), "12")     // torn: partial
    assert(sinks.Hfs.readString(spark, p).isEmpty,
      "a partial torn tmp with no main file must read as never-written")
    // a real write from that state overwrites the torn tmp and commits
    sinks.Hfs.writeString(spark, p, "42")
    assert(sinks.Hfs.readString(spark, p).contains("42"))
    // content that itself ends with the terminator still round-trips
    val tricky = "x\n#GRAFT_EOF#"
    sinks.Hfs.writeString(spark, p, tricky)
    assert(sinks.Hfs.readString(spark, p).contains(tricky))
  }

  test("deleteWhere removes an emptied partition whose dt Hive-escapes in the path") {
    val dir = Files.createTempDirectory("kps_escape").toString + "/t"
    // a dt with a space writes an escaped partition dir (dt=a%20b)
    val rows = Seq((1L, "a b", 1L, 10.0), (2L, "plain", 1L, 20.0))
      .toDF("k", "dt", "v", "x")
    sinks.KeyedParquetSink.upsert(rows, dir, Seq("k", "dt"), "dt", "v")
    val n = sinks.KeyedParquetSink.deleteWhere(spark, dir, "dt",
      col("dt") === "a b")
    assert(n == 1L)
    val back = spark.read.parquet(dir).select("dt").as[String].collect().toSeq
    assert(back == Seq("plain"),
      s"the escaped-dir partition must not resurrect its rows, got $back")
  }
}
