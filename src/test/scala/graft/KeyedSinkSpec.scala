package graft

import java.nio.file.Files

import graft.sinks.KeyedParquetSink

/** The idempotent-keyed-sink contract: replay is a no-op, newer versions
  * win, rows land in their own dt partitions. */
class KeyedSinkSpec extends SparkSpec {
  import spark.implicits._

  private def table(rows: (String, String, Long, Double)*) =
    rows.toDF("mid", "dt", "ver", "amount")

  test("replaying the same batch leaves the table unchanged") {
    val path = Files.createTempDirectory("sink1").toString + "/t"
    val b = table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0))
    KeyedParquetSink.upsert(b, path, Seq("mid", "dt"), "dt", "ver")
    KeyedParquetSink.upsert(b, path, Seq("mid", "dt"), "dt", "ver")
    val got = spark.read.parquet(path).select("mid", "amount")
      .as[(String, Double)].collect().sorted.toSeq
    assert(got == Seq(("m1", 10.0), ("m2", 20.0)))
  }

  test("newer version of a key replaces the older row") {
    val path = Files.createTempDirectory("sink2").toString + "/t"
    KeyedParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    KeyedParquetSink.upsert(table(("m1", "2024-01-01", 2L, 99.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    val got = spark.read.parquet(path).select("mid", "amount")
      .as[(String, Double)].collect().toSeq
    assert(got == Seq(("m1", 99.0)))
  }

  test("updateWhere applies a conditional set only to matching rows/partitions") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("sink4").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0),
        ("m3", "2024-01-02", 1L, 30.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    val n = KeyedParquetSink.updateWhere(spark, path, "dt",
      col("amount") >= 20.0, Map("amount" -> (col("amount") * 2)))
    assert(n == 2)
    val got = spark.read.parquet(path).select("mid", "amount")
      .as[(String, Double)].collect().sorted.toSeq
    assert(got == Seq(("m1", 10.0), ("m2", 40.0), ("m3", 60.0)))
    // no matches → no rewrite, returns 0
    assert(KeyedParquetSink.updateWhere(spark, path, "dt",
      col("amount") > 1e9, Map("amount" -> lit(0.0))) == 0L)
  }

  test("duplicate keys within one batch: highest version wins") {
    val path = Files.createTempDirectory("sink6").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m1", "2024-01-01", 3L, 30.0),
        ("m1", "2024-01-01", 2L, 20.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    val got = spark.read.parquet(path).select("mid", "amount")
      .as[(String, Double)].collect().toSeq
    assert(got == Seq(("m1", 30.0)))
  }

  test("deleteWhere removes matching rows, keeps the rest") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("sink5").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0),
        ("m3", "2024-01-02", 1L, 30.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(KeyedParquetSink.deleteWhere(spark, path, "dt", col("mid") === "m2") == 1L)
    val got = spark.read.parquet(path).select("mid").as[String].collect().sorted.toSeq
    assert(got == Seq("m1", "m3"))
  }

  test("deleteWhere retains rows whose predicate evaluates to NULL, uncounted") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("sink7").toString + "/t"
    val b = Seq(("m1", "2024-01-01", 1L, Some(10.0)),
      ("m2", "2024-01-01", 1L, None),
      ("m3", "2024-01-01", 1L, Some(30.0)))
      .toDF("mid", "dt", "ver", "amount")
    KeyedParquetSink.upsert(b, path, Seq("mid", "dt"), "dt", "ver")
    // amount > 20 is NULL for m2 — it must survive and not be counted
    assert(KeyedParquetSink.deleteWhere(spark, path, "dt", col("amount") > 20.0) == 1L)
    val got = spark.read.parquet(path).select("mid").as[String].collect().sorted.toSeq
    assert(got == Seq("m1", "m2"))
  }

  test("updateWhere: a set column feeding the predicate reads the ORIGINAL value") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("sink8").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 150.0), ("m2", "2024-01-01", 1L, 50.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    // cond reads amount; set zeroes amount AND bumps ver. The old
    // withColumn fold applied amount first, so ver's when(cond) saw the
    // zeroed amount and never fired — ver must be 9 on the matched row.
    val n = KeyedParquetSink.updateWhere(spark, path, "dt",
      col("amount") > 100.0,
      Map("amount" -> lit(0.0), "ver" -> lit(9L)))
    assert(n == 1)
    val got = spark.read.parquet(path).select("mid", "ver", "amount")
      .as[(String, Long, Double)].collect().sorted.toSeq
    assert(got == Seq(("m1", 9L, 0.0), ("m2", 1L, 50.0)))
  }

  test("deleteWhere fully emptying a dt partition removes it — no resurrection") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("sink9").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-01", 1L, 20.0),
        ("m3", "2024-01-02", 1L, 30.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    // every row of dt=2024-01-01 matches: dynamic overwrite alone would
    // skip the emptied partition and its files would survive
    assert(KeyedParquetSink.deleteWhere(spark, path, "dt",
      col("dt") === "2024-01-01") == 2L)
    val got = spark.read.parquet(path).select("mid").as[String].collect().toSeq
    assert(got == Seq("m3"))
    assert(!new java.io.File(s"$path/dt=2024-01-01").exists(),
      "emptied partition dir must be removed")
  }

  test("replay with equal-version duplicate keys in one batch is deterministic") {
    val path = Files.createTempDirectory("sink10").toString + "/t"
    val dup = table(("m1", "2024-01-01", 1L, 10.0), ("m1", "2024-01-01", 1L, 20.0))
    KeyedParquetSink.upsert(dup, path, Seq("mid", "dt"), "dt", "ver")
    val first = spark.read.parquet(path)
      .select("mid", "amount").as[(String, Double)].collect().toSeq
    KeyedParquetSink.upsert(dup, path, Seq("mid", "dt"), "dt", "ver") // replay
    val second = spark.read.parquet(path)
      .select("mid", "amount").as[(String, Double)].collect().toSeq
    assert(first == second, "replay changed the table under an equal-version tie")
    assert(first.size == 1)
  }

  test("rows land in per-row dt partitions; untouched partitions survive") {
    val path = Files.createTempDirectory("sink3").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 1.0), ("m2", "2024-01-02", 1L, 2.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    // second batch touches only 2024-01-02
    KeyedParquetSink.upsert(table(("m3", "2024-01-02", 1L, 3.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(new java.io.File(s"$path/dt=2024-01-01").exists())
    assert(new java.io.File(s"$path/dt=2024-01-02").exists())
    val got = spark.read.parquet(path).select("mid").as[String].collect().sorted.toSeq
    assert(got == Seq("m1", "m2", "m3"))
  }

  test("updateWhere refuses to set the partition column (cross-partition moves destroy data)") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("sink_up").toString + "/t"
    KeyedParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    intercept[IllegalArgumentException] {
      KeyedParquetSink.updateWhere(spark, path, "dt",
        col("mid") === "m1", Map("dt" -> lit("2024-01-02")))
    }
  }

  test("deleteWhere that empties the WHOLE table leaves it readable as empty") {
    import org.apache.spark.sql.functions._
    val path = Files.createTempDirectory("sink_de").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-02", 1L, 20.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(KeyedParquetSink.deleteWhere(spark, path, "dt", lit(true)) == 2L)
    // a footerless dir here wedged every later read/delete/update
    assert(spark.read.parquet(path).count() == 0L)
    assert(KeyedParquetSink.deleteWhere(spark, path, "dt", lit(true)) == 0L)
    // and the table accepts new data afterwards
    KeyedParquetSink.upsert(table(("m3", "2024-01-03", 1L, 30.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(spark.read.parquet(path).select("mid").as[String].collect().toSeq
      == Seq("m3"))
  }

  test("upsert into a foreign unpartitioned parquet dir fails loudly, not by wiping it") {
    // a directory this sink does NOT own: real data files at the root,
    // no dt= subdirs — superficially shaped like the deleteWhere
    // empty-marker the wipe-heal clears, except it has rows
    val path = Files.createTempDirectory("sink_foreign").toString + "/t"
    table(("keep1", "2024-01-01", 1L, 1.0), ("keep2", "2024-01-02", 1L, 2.0))
      .write.parquet(path)
    intercept[IllegalArgumentException] {
      KeyedParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)),
        path, Seq("mid", "dt"), "dt", "ver")
    }
    // the foreign data must be intact — the old heal deleted it silently
    assert(spark.read.parquet(path).count() == 2L,
      "refusal must leave the foreign directory untouched")
  }

  test("a first-ever empty upsert creates no directory") {
    val path = Files.createTempDirectory("sink_empty_first").toString + "/t"
    KeyedParquetSink.upsert(table(), path, Seq("mid", "dt"), "dt", "ver")
    // a dir holding only _SUCCESS has no footer to infer a schema from
    assert(!new java.io.File(path).exists(),
      "an empty batch onto a fresh path must write nothing")
    KeyedParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(spark.read.parquet(path).count() == 1L)
  }

  test("an empty upsert onto a table leaves every file unchanged") {
    val path = Files.createTempDirectory("sink_empty_noop").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-02", 1L, 20.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    def snapshot = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(f => (f.toString, Files.size(f), Files.getLastModifiedTime(f)))
        .toSet
    }
    val before = snapshot
    KeyedParquetSink.upsert(table(), path, Seq("mid", "dt"), "dt", "ver")
    assert(snapshot == before,
      "an empty batch must not rewrite (or touch) any partition")
  }

  test("a crashed first write (only _temporary debris) heals on the next upsert") {
    val path = Files.createTempDirectory("sink_torn_first").toString + "/t"
    // the committer died before any footer reached the table dir: what
    // is left is a task attempt's partial file under _temporary
    val attempt = java.nio.file.Paths.get(path,
      "_temporary", "0", "_temporary", "attempt_0", "dt=2024-01-01")
    Files.createDirectories(attempt)
    Files.write(attempt.resolve("part-00000.parquet"), Array[Byte](80, 65, 82))
    KeyedParquetSink.upsert(table(("m1", "2024-01-01", 1L, 10.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(!new java.io.File(s"$path/_temporary").exists(),
      "the heal must clear the crashed attempt's debris")
    KeyedParquetSink.upsert(table(("m2", "2024-01-01", 1L, 20.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(spark.read.parquet(path).select("mid").as[String].collect()
      .sorted.toSeq == Seq("m1", "m2"))
  }

  test("a null dt is one partition to upsert, deleteWhere and updateWhere") {
    import org.apache.spark.sql.functions._
    // `null = null` never matches, so a dt join or IN alone drops the
    // Hive default partition's rows from the rewrite scope
    val path = Files.createTempDirectory("sink_null_dt").toString + "/t"
    def rows = spark.read.parquet(path).select("mid", "amount")
      .as[(String, Double)].collect().sorted.toSeq
    KeyedParquetSink.upsert(
      table(("m1", null, 1L, 10.0), ("m2", null, 1L, 20.0),
        ("m3", null, 1L, 30.0), ("m4", "2024-01-01", 1L, 40.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    // a newer m1 must not delete its null-dt neighbours
    KeyedParquetSink.upsert(table(("m1", null, 2L, 11.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    assert(rows == Seq(("m1", 11.0), ("m2", 20.0), ("m3", 30.0), ("m4", 40.0)))
    // deleting one null-dt row counts it and keeps the rest of the
    // partition
    assert(KeyedParquetSink.deleteWhere(spark, path, "dt",
      col("mid") === "m2") == 1L)
    assert(rows == Seq(("m1", 11.0), ("m3", 30.0), ("m4", 40.0)))
    assert(KeyedParquetSink.updateWhere(spark, path, "dt",
      col("mid") === "m3", Map("amount" -> lit(33.0))) == 1L)
    assert(rows == Seq(("m1", 11.0), ("m3", 33.0), ("m4", 40.0)))
  }

  test("job budget: a non-empty upsert onto a table runs 4 Spark jobs") {
    // the row count and the touched dt set ride the checkpoint job, and
    // the table is read with the batch's schema: no emptiness probe, no
    // dt-set job, no schema-inference job
    val path = Files.createTempDirectory("sink_jobs").toString + "/t"
    KeyedParquetSink.upsert(
      table(("m1", "2024-01-01", 1L, 10.0), ("m2", "2024-01-02", 1L, 20.0)),
      path, Seq("mid", "dt"), "dt", "ver")
    val b = table(("m1", "2024-01-01", 2L, 11.0), ("m3", "2024-01-01", 1L, 30.0))
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
      KeyedParquetSink.upsert(b, path, Seq("mid", "dt"), "dt", "ver")
      org.apache.spark.graft.ListenerBusHook.drain(spark.sparkContext)
      assert(jobs.get() == 4, s"a non-empty upsert ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(path).select("mid", "amount")
      .as[(String, Double)].collect().sorted.toSeq ==
      Seq(("m1", 11.0), ("m2", 20.0), ("m3", 30.0)))
  }
}
