package graft

import graft.sinks.{Hfs, Lifecycle}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The shared build-once protocol behind every stored ingest lifecycle
  * ([[graft.sinks.Lifecycle]]), pinned on synthetic builds: a torn
  * state is rebuilt, a rewritten source gets a fresh tag dir, a failed
  * build leaves nothing behind, and concurrent callers share one build.
  * Each test uses its own `kind`, so no two tests share a dir. */
class LifecycleSpec extends SparkSpec {

  /** A fresh sf dir holding one source table `src.parquet` (a plain
    * file — the tag reads only its length and mtime) and a unique
    * lifecycle kind; the kind's dir is removed afterwards. */
  private def withSource(body: (String, String) => Unit): Unit = {
    val d = Files.createTempDirectory("lcspec-sf").toString
    Files.writeString(Paths.get(s"$d/src.parquet"), "generation 1")
    val kind = s"lcspec-${java.util.UUID.randomUUID}"
    try body(d, kind)
    finally {
      Hfs.deleteRecursive(spark, s"${sys.props("java.io.tmpdir")}/graft-$kind")
      Hfs.deleteRecursive(spark, d)
    }
  }

  private def ensure(d: String, kind: String, payload: String,
      builds: AtomicInteger): String =
    Lifecycle.ensure(spark, d, Seq("src"), kind) { stage =>
      builds.incrementAndGet()
      Hfs.writeString(spark, s"$stage/store/data", payload)
    }

  test("a torn build (no __done, junk planted in the store) is rebuilt, not served") {
    withSource { (d, kind) =>
      val builds = new AtomicInteger
      val loc = ensure(d, kind, "built", builds)
      assert(loc == Lifecycle.location(spark, d, Seq("src"), kind))
      assert(Hfs.readString(spark, s"$loc/__done").nonEmpty)
      // served as-is while complete: no second build
      assert(ensure(d, kind, "rebuilt", builds) == loc && builds.get == 1)
      Hfs.deleteRecursive(spark, s"$loc/__done")
      Hfs.writeString(spark, s"$loc/store/__JUNK", "torn")
      assert(ensure(d, kind, "rebuilt", builds) == loc)
      assert(builds.get == 2, "a torn state must be rebuilt")
      assert(Hfs.readString(spark, s"$loc/store/data").contains("rebuilt"))
      assert(!Hfs.exists(spark, s"$loc/store/__JUNK"),
        "torn-state junk survived the rebuild")
      assert(Hfs.readString(spark, s"$loc/__done").nonEmpty)
    }
  }

  test("rewriting the source table (new len/mtime) yields a fresh tag dir and never serves the old generation") {
    withSource { (d, kind) =>
      val builds = new AtomicInteger
      val old = ensure(d, kind, "generation 1", builds)
      val src = Paths.get(s"$d/src.parquet")
      Files.writeString(src, "generation 2, longer")
      src.toFile.setLastModified(src.toFile.lastModified() + 10000L)
      val fresh = ensure(d, kind, "generation 2", builds)
      assert(fresh != old, "a regenerated source must get its own tag dir")
      assert(builds.get == 2)
      assert(Hfs.readString(spark, s"$fresh/store/data")
        .contains("generation 2"))
      // and the old generation's dir is untouched, never read again
      assert(Hfs.readString(spark, s"$old/store/data")
        .contains("generation 1"))
      assert(ensure(d, kind, "generation 3", builds) == fresh &&
        builds.get == 2)
    }
  }

  test("a build that throws leaves neither a published dir nor a .stage-* leftover") {
    withSource { (d, kind) =>
      val loc = Lifecycle.location(spark, d, Seq("src"), kind)
      val e = intercept[RuntimeException] {
        Lifecycle.ensure(spark, d, Seq("src"), kind) { stage =>
          Hfs.writeString(spark, s"$stage/store/data", "half")
          throw new RuntimeException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(!Hfs.exists(spark, loc), "a failed build must not publish")
      val parent = s"${sys.props("java.io.tmpdir")}/graft-$kind"
      val left = Option(new java.io.File(parent).list()).toSeq.flatten
      assert(!left.exists(_.contains(".stage-")), s"stage leftover: $left")
      // and the next call builds cleanly
      val builds = new AtomicInteger
      assert(ensure(d, kind, "ok", builds) == loc && builds.get == 1)
    }
  }

  test("two threads ensuring the same kind run build once and both get the completed path") {
    withSource { (d, kind) =>
      val builds = new AtomicInteger
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val call = new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            Lifecycle.ensure(spark, d, Seq("src"), kind) { stage =>
              builds.incrementAndGet()
              Thread.sleep(500) // hold the build open while the other waits
              Hfs.writeString(spark, s"$stage/store/data", "once")
            }
          }
        }
        val calls = Seq(pool.submit(call), pool.submit(call))
        start.countDown()
        val paths = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        val loc = Lifecycle.location(spark, d, Seq("src"), kind)
        assert(paths == Seq(loc, loc))
        assert(builds.get == 1, s"build ran ${builds.get} times")
        assert(Hfs.readString(spark, s"$loc/__done").nonEmpty)
        assert(Hfs.readString(spark, s"$loc/store/data").contains("once"))
      } finally pool.shutdownNow(): Unit
    }
  }
}
