package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Failure-injection pins for the exactly-once replay claims: every
  * fold in `Streaming.folds`, stream_markov, stream_seq and
  * stream_dedup_incremental each document batchId-keyed idempotent
  * replay — these specs PROVE it by killing the foreachBatch at the
  * documented mid-write seam (first artifact of the batch written,
  * batch uncommitted), restarting the query on the SAME root and
  * checkpoint, and asserting the final state is row-identical to a
  * clean run of the registered query. */
class ReplaySpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def fresh(name: String): String = {
    val dir = new java.io.File(s"${Tables.scratchRoot}/replay/$name")
    if (dir.exists()) Tables.deleteRecursively(dir)
    dir.mkdirs()
    dir.getAbsolutePath
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def injected(t: Throwable): Boolean =
    t != null && (Option(t.getMessage).exists(_.contains("injected fault"))
      || injected(t.getCause))

  /** What a fold's state write is called in its test's name. */
  private val stateWord = Map("mv" -> "v", "theta" -> "sketch",
    "skyline" -> "frontier", "hourly" -> "grid", "cells" -> "cell")

  /** Bounded-state laws beyond resume == clean, per fold tag. */
  private val laws: Map[String, DataFrame => Unit] = Map(
    // the sketch never exceeds k rows
    "theta" -> (v => assert(v.count() <= 64L)),
    // the leaderboard never exceeds k rows
    "topk" -> (v => assert(v.count() <= 25L)),
    // the histogram is the batch histogram exactly (mergeability), and
    // its size is the value DOMAIN, never row count
    "hist" -> { v =>
      val batch = ops.Relational.quantityHist(spark, sf)
      assert(rows(v.orderBy("l_returnflag", "q")) ===
        rows(batch.orderBy("l_returnflag", "q")))
      assert(v.count() === batch.count())
      assert(v.count() <= 150L)
    },
    // the folded grid IS the batch hourly grid (addition merges commute
    // across any split), and its size is grid-bounded, never row-scaled
    "hourly" -> { v =>
      val batch = ops.Relational.hourlyGrid(spark, sf)
      assert(rows(v.orderBy("event_type", "hr")) ===
        rows(batch.orderBy("event_type", "hr")))
      assert(v.count() === batch.count())
      assert(v.count() <= 5L * 744)
    },
    // the folded cells ARE the batch contingency table, and state is
    // domain-bounded (3 flags × 2 statuses)
    "cells" -> { v =>
      val batch = ops.Relational.contingencyOf(spark, sf)
      assert(rows(v.orderBy("l_returnflag", "l_linestatus")) ===
        rows(batch.orderBy("l_returnflag", "l_linestatus")))
      assert(v.count() <= 6L)
    })

  // One crash-replay test per fold: every key over it must resume, off
  // one injected crash, to its clean registered output.
  for (f <- ops.Streaming.folds) {
    val keys = ops.Streaming.foldKeys.filter(_._2 == f)
    val name = s"${keys.map(_._1).mkString("/")} replay: crash after " +
      s"${stateWord.getOrElse(f.tag, f.tag)}-write before commit" +
      (if (keys.size == 1) "; resume is invisible" else "")
    test(name) {
      val clean = keys.map { case (k, _, _) => rows(SparkEntry.queries(k)(spark, sf)) }
      val root = fresh(f.tag)
      ops.Streaming.Faults.arm(s"${f.tag}:2")
      val ex = intercept[Exception] {
        ops.Streaming.runFold(spark, sf, f, root, files = 4)
      }
      assert(injected(ex), ex.toString)
      // the crash left v2 on disk (written) but the batch uncommitted
      assert(new java.io.File(s"$root/v2").exists())
      assert(!new java.io.File(s"$root/v3").exists())
      val last = ops.Streaming.runFold(spark, sf, f, root, files = 4)
      assert(last === 3L, s"resume should finish the 4-file drain, got $last")
      val v = spark.read.parquet(s"$root/v$last")
      val resumed = keys.map { case (_, _, fin) => rows(fin(spark, sf, v)) }
      assert(resumed === clean)
      laws.get(f.tag).foreach(_(v))
    }
  }

  test("stream_markov replay: crash between event-dir write and MV write") {
    val clean = rows(SparkEntry.queries("stream_markov")(spark, sf))
    val root = fresh("markov")
    ops.Streaming.Faults.arm("stream_markov:2")
    val ex = intercept[Exception] {
      ops.Streaming.runStreamMarkov(spark, sf, root, files = 4)
    }
    assert(injected(ex), ex.toString)
    assert(new java.io.File(s"$root/ev/batch=2").exists())
    assert(!new java.io.File(s"$root/mv_v2").exists())
    val last = ops.Streaming.runStreamMarkov(spark, sf, root, files = 4)
    assert(last === 3L, s"resume should finish the 4-file drain, got $last")
    // rebuild the registered output shape from the resumed per-user MV
    val perUser = spark.read.parquet(s"$root/mv_v$last")
    val trans = perUser.groupBy("prev_type", "next_type")
      .agg(sum(col("n")).as("n"))
    val tot = trans.groupBy("prev_type").agg(sum(col("n")).as("n_prev"))
    val resumed = rows(trans.join(tot, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"), col("n_prev"),
        (col("n").cast("double") / col("n_prev").cast("double")).as("p"))
      .orderBy("prev_type", "next_type"))
    assert(resumed === clean)
    // Σ-rows law: every event stored exactly once across batch dirs
    val stored = spark.read.parquet(s"$root/ev").count()
    assert(stored === Tables.events(spark, sf).count())
  }

  test("stream_seq replay: crash between event-dir write and MV write") {
    val clean = rows(SparkEntry.queries("stream_seq")(spark, sf))
    val root = fresh("seq")
    ops.Streaming.Faults.arm("stream_seq:2")
    val ex = intercept[Exception] {
      ops.Streaming.runStreamSeq(spark, sf, root)
    }
    assert(injected(ex), ex.toString)
    // the event dir of batch 2 is written, its MV version is not
    assert(new java.io.File(s"$root/ev/batch=2").exists())
    assert(!new java.io.File(s"$root/mv_v2").exists())
    val last = ops.Streaming.runStreamSeq(spark, sf, root)
    assert(last === 3L)
    val resumed = rows(spark.read.parquet(s"$root/mv_v$last")
      .orderBy("user_id"))
    assert(resumed === clean)
    // the Σ-rows exactly-once law survives the replay: the replayed
    // batch OVERWROTE its own ev dir, so every source event is stored
    // exactly once across the batch dirs
    val stored = spark.read.parquet(s"$root/ev").count()
    val corpus = Tables.events(spark, sf).count()
    assert(stored === corpus,
      s"event state holds $stored rows for a $corpus-row corpus")
  }

  test("stream_dedup_incremental replay: crash between decisions and index append") {
    val clean = rows(SparkEntry.queries("stream_dedup_incremental")(spark, sf))
    val root = fresh("sdi")
    val (idx, res) = (s"$root/idx", s"$root/res")
    ops.Streaming.Faults.arm("sdi:2")
    val ex = intercept[Exception] {
      ops.Streaming.runStreamDedupIncremental(spark, sf, root, files = 4)
    }
    assert(injected(ex), ex.toString)
    // decisions for batch 2 written, its index append missing: the
    // replay must re-probe the PRE-batch index epoch (b0, b1 only)
    assert(new java.io.File(s"$res/b2").exists())
    assert(!new java.io.File(s"$idx/b2").exists())
    val last = ops.Streaming.runStreamDedupIncremental(spark, sf, root, files = 4)
    assert(last === 3L, s"resume should finish the 4-file drain, got $last")
    val resumed = rows(spark.read
      .option("recursiveFileLookup", "true").parquet(res)
      .orderBy("doc_id"))
    assert(resumed === clean)
    // index epochs complete after resume: one append per batch
    (0 to 3).foreach(b =>
      assert(new java.io.File(s"$idx/b$b").exists(), s"missing idx b$b"))
  }

  test("staged sources drain in part order, the same on every staging") {
    val df = spark.range(0, 400).selectExpr("id", "id % 7 AS k")
    val batches = Seq("a", "b").map { n =>
      val src = new java.io.File(ops.Streaming.staged(s"staged_order_$n", sf, 4)(df))
      // the file source takes files in modification-time order
      val parts = src.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.lastModified)
      assert(parts.map(_.getName.take(10)).toSeq ===
        parts.indices.map(i => f"part-$i%05d"), "mtime order is not part order")
      assert(parts.map(_.lastModified).distinct.length === parts.length)
      parts.toSeq.map(p => rows(spark.read.parquet(p.getPath)).sorted)
    }
    assert(batches(0) === batches(1))
  }
}
