package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded crash-replay fuzz over the exactly-once streaming keys.
  * ReplaySpec pins ONE scenario per key (crash at batch 2 of a 4-file
  * drain), which leaves the other crash points, file counts and double
  * crashes unchecked; this main randomizes the whole space —
  * key family × staged-file count (2–5) × fault batch (any, including
  * batch 0 and the final batch) × an optional SECOND crash on the
  * resumed run (at the same batch — a replay of the replay — or any
  * later one). Every scenario must satisfy the exactly-once contract:
  * the post-resume state is ROW-IDENTICAL to a clean run of the same
  * staging, the batchId sequence completes (last = files − 1, every
  * version epoch present), and for the changed-keys-only families the
  * append-only law holds (Σ event rows across batch dirs = corpus —
  * nothing written twice even across two crashes).
  *
  * Scenarios run serially in one session against the SAME runners the
  * registered keys use (`Streaming.runFold` over every row of
  * `Streaming.folds`, and the seq, markov and sdi runners); faults are
  * armed through the same
  * [[graft.ops.Streaming.Faults]] seam ReplaySpec uses — after the
  * batch's first artifact write, before its commit.
  *
  *   runMain graft.ReplayFuzz <sfDir> <seed> <nScenarios>
  *
  * Prints one summary JSON line on stdout; per-scenario lines on
  * stderr; exits nonzero on any violation. tools/ runs this against
  * target/bench_classes once per round (FUZZ.md records the seed). */
object ReplayFuzz {

  private def injected(t: Throwable): Boolean =
    t != null && (Option(t.getMessage).exists(_.contains("injected fault"))
      || injected(t.getCause))

  private def wipe(dir: String): String = {
    val f = new java.io.File(dir)
    if (f.exists()) Tables.deleteRecursively(f)
    f.mkdirs()
    dir
  }

  /** One exactly-once key family: its Faults tag, the runner over a
    * root dir, and the reader of the state the runner's last batch
    * left under that root. */
  private case class Fam(
      tag: String,
      run: (SparkSession, String, String, Int) => Long,
      rows: (SparkSession, String, Long) => Seq[String],
      evLaw: Boolean = false)

  private def sortedRows(s: SparkSession, path: String): Seq[String] = {
    val df = s.read.option("recursiveFileLookup", "true").parquet(path)
    df.orderBy(df.columns.map(col).toSeq: _*)
      .collect().map(_.toString).toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val seed = if (args.length > 1) args(1).toLong else 15L
    val n = if (args.length > 2) args(2).toInt else 200
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", GraftSession.DefaultCpus)
    val spark = GraftSession.build(cpus)
    val S = ops.Streaming

    val fams = S.folds.map(f => Fam(f.tag,
        (s, d, b, files) => S.runFold(s, d, f, b, files),
        (s, b, last) => sortedRows(s, s"$b/v$last"))) ++ Seq(
      Fam("stream_markov", S.runStreamMarkov,
        (s, b, last) => sortedRows(s, s"$b/mv_v$last"), evLaw = true),
      Fam("stream_seq", S.runStreamSeq,
        (s, b, last) => sortedRows(s, s"$b/mv_v$last"), evLaw = true),
      Fam("sdi", S.runStreamDedupIncremental,
        (s, b, _) => sortedRows(s, s"$b/res")))

    val root = s"${Tables.scratchRoot}/replayfuzz"
    val rnd = new scala.util.Random(seed)
    val clean = scala.collection.mutable.Map.empty[(String, Int), Seq[String]]
    val corpusRows = Tables.events(spark, sfDir).count()
    var passed = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    for (i <- 1 to n) {
      val fam = fams(rnd.nextInt(fams.size))
      val files = 2 + rnd.nextInt(4) // 2..5
      val fb = rnd.nextInt(files)
      val twice = rnd.nextInt(4) == 0
      val fb2 = if (twice) fb + rnd.nextInt(files - fb) else -1
      val label = s"#$i ${fam.tag} files=$files crash@$fb" +
        (if (twice) s" then @$fb2" else "")
      try {
        val cleanRows = clean.getOrElseUpdate((fam.tag, files), {
          val b = wipe(s"$root/clean_${fam.tag}_f$files")
          val last = fam.run(spark, sfDir, b, files)
          require(last == files - 1,
            s"clean run drained to $last, expected ${files - 1}")
          fam.rows(spark, b, last)
        })
        val b = wipe(s"$root/s$i")
        S.Faults.arm(s"${fam.tag}:$fb")
        val crashed =
          try { fam.run(spark, sfDir, b, files); false }
          catch { case e: Throwable if injected(e) => true }
        require(crashed, s"fault at batch $fb never fired")
        if (twice) {
          S.Faults.arm(s"${fam.tag}:$fb2")
          val crashed2 =
            try { fam.run(spark, sfDir, b, files); false }
            catch { case e: Throwable if injected(e) => true }
          require(crashed2, s"second fault at batch $fb2 never fired " +
            "(resume skipped a batch it must replay)")
        }
        val last = fam.run(spark, sfDir, b, files)
        require(last == files - 1,
          s"resume drained to $last, expected ${files - 1}")
        val got = fam.rows(spark, b, last)
        require(got == cleanRows,
          s"post-resume state differs from clean run " +
            s"(${got.length} vs ${cleanRows.length} rows)")
        if (fam.evLaw) {
          val stored = spark.read.parquet(s"$b/ev").count()
          require(stored == corpusRows,
            s"append-only law broken: $stored event rows for a " +
              s"$corpusRows-row corpus")
        }
        passed += 1
        System.err.println(s"[replayfuzz] PASS $label")
      } catch {
        case e: Throwable =>
          // A scenario whose injected fault never fired leaves the seam
          // armed; disarm so it cannot contaminate later scenarios.
          S.Faults.disarm()
          failures += s"$label: ${e.getMessage}"
          System.err.println(s"[replayfuzz] FAIL $label: ${e.getMessage}")
      }
    }
    println(s"""{"metric":"replay_fuzz","scenarios":$n,"passed":$passed,""" +
      s""""failed":${failures.length},"seed":$seed,"sf":"$sfDir"}""")
    failures.foreach(f => System.err.println(s"[replayfuzz] FAILURE: $f"))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
