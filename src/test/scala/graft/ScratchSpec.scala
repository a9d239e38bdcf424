package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Scratch]] semantics — the properties every one-time artifact
  * rests on: the latch (nesting at any depth, failure retry, waiter
  * retry, reentrant fail-fast, one build under concurrency), the
  * catalog-table step's one invalidation, and the temp-and-rename
  * commit. The nested-build pin guards the latch's shape: a build that
  * held a map lock while it ran (`computeIfAbsent`) would fail a
  * derived artifact built from a base one whenever the two locations
  * shared a hash bin. */
class ScratchSpec extends AnyFunSuite {

  private def tmp(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft-scratch").toFile
    d
  }

  test("nested once-builds at depth 64 succeed (the Recursive update class)") {
    val dir = tmp()
    try {
      val hits = new java.util.concurrent.atomic.AtomicInteger(0)
      // 64 distinct paths guarantee bin collisions at every realistic
      // table capacity — under the computeIfAbsent latch this nesting
      // threw as soon as any two nested paths shared a bin.
      def nest(i: Int): Unit =
        if (i < 64) Scratch.once(s"${dir.getPath}/p$i") {
          hits.incrementAndGet(); nest(i + 1)
        }
      nest(0)
      assert(hits.get() === 64)
      // all latched: a second pass builds nothing
      nest(0)
      assert(hits.get() === 64)
    } finally Tables.deleteRecursively(dir)
  }

  test("a failed build installs no latch: the next caller rebuilds") {
    val dir = tmp()
    try {
      val p = s"${dir.getPath}/failing"
      val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
      intercept[RuntimeException] {
        Scratch.once(p) { attempts.incrementAndGet(); sys.error("boom") }
      }
      Scratch.once(p) { attempts.incrementAndGet(): Unit }
      assert(attempts.get() === 2)
      // and now it IS latched
      Scratch.once(p) { attempts.incrementAndGet(): Unit }
      assert(attempts.get() === 2)
    } finally Tables.deleteRecursively(dir)
  }

  test("a waiter blocked on a FAILING build retries it instead of " +
      "inheriting the winner's exception (r13 ADVICE)") {
    val dir = tmp()
    try {
      val p = s"${dir.getPath}/retry"
      val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
      val winnerIn = new java.util.concurrent.CountDownLatch(1)
      val winner = new Thread(() => {
        try Scratch.once(p) {
          attempts.incrementAndGet()
          winnerIn.countDown()
          Thread.sleep(100)
          sys.error("winner boom")
        } catch { case _: Throwable => () }
      })
      winner.start()
      winnerIn.await() // the waiter joins while the doomed build runs
      Scratch.once(p) { attempts.incrementAndGet(): Unit } // must NOT throw
      winner.join(10000)
      assert(attempts.get() === 2)
    } finally Tables.deleteRecursively(dir)
  }

  test("a reentrant build on the SAME path fails fast, not deadlocks") {
    val dir = tmp()
    try {
      val p = s"${dir.getPath}/reent"
      val e = intercept[IllegalStateException] {
        Scratch.once(p) { Scratch.once(p) { () } }
      }
      assert(e.getMessage.contains("reentrant"))
      // the failed outer build installed no latch: a clean retry works
      val built = new java.util.concurrent.atomic.AtomicInteger(0)
      Scratch.once(p) { built.incrementAndGet(): Unit }
      assert(built.get() === 1)
    } finally Tables.deleteRecursively(dir)
  }

  test("concurrent same-path callers block on one build") {
    val dir = tmp()
    try {
      val p = s"${dir.getPath}/conc"
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val started = new java.util.concurrent.CountDownLatch(1)
      val threads = (1 to 8).map { _ =>
        new Thread(() => {
          started.await()
          Scratch.once(p) { Thread.sleep(50); builds.incrementAndGet(): Unit }
        })
      }
      threads.foreach(_.start())
      started.countDown()
      threads.foreach(_.join(10000))
      assert(builds.get() === 1)
    } finally Tables.deleteRecursively(dir)
  }

  test("the bucketed step rebuilds a table dropped from the catalog, and only then") {
    val spark = SharedSpark.spark
    val d = "scratch-spec-bucketed"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def table() = Scratch.bucketed(spark, "graft_scratch_spec", "ids", d) {
      builds.incrementAndGet()
      spark.range(0, 10, 1, 2).toDF().write.bucketBy(2, "id").sortBy("id")
    }
    def ids() = table().collect().map(_.getLong(0)).sorted.toSeq
    assert(ids() === (0L until 10L))
    assert(ids() === (0L until 10L))
    assert(builds.get() === 1)
    spark.sql(s"DROP TABLE graft_scratch_spec.ids_${Scratch.key(d)}")
    assert(ids() === (0L until 10L))
    assert(builds.get() === 2)
    assert(ids() === (0L until 10L))
    assert(builds.get() === 2)
  }

  test("a temp-and-rename build that throws leaves nothing at the path; a retry commits") {
    val dir = tmp()
    try {
      val p = s"${dir.getPath}/committed"
      intercept[RuntimeException] {
        Scratch.committed(p) { t =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(t, "part-0"), "half")
          sys.error("boom")
        }
      }
      assert(!new java.io.File(p).exists())
      assert(dir.list().isEmpty, "the failed build's temp dir is removed")
      val out = Scratch.committed(p) { t =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(t, "part-0"), "whole"): Unit
      }
      assert(out === p)
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(p, "part-0")) === "whole")
      assert(dir.list().toSeq === Seq("committed"))
    } finally Tables.deleteRecursively(dir)
  }
}
