package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded crash-replay fuzz over the exactly-once streaming keys (r14
  * judge item #8): ReplaySpec pins ONE scenario per key (crash at
  * batch 2 of a 4-file drain); this main randomizes the whole space —
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
  * Scenarios run serially in one session against the SAME runner
  * entry points the registered keys use (ops.Streaming.runStream*,
  * private[graft]); faults are armed through the same
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

  /** One exactly-once key family: run the runner against dirs under
    * `base`, the Faults tag, and the final-state reader. */
  private case class Fam(
      name: String,
      tag: String,
      run: (SparkSession, String, String, Int) => Long,
      rows: (SparkSession, String, Long) => Seq[String],
      evLaw: Boolean = false)

  /** Highest batchId in a checkpoint's commit log (−1 if none): the
    * on-disk truth of how far a query actually drained. */
  private def lastCommitted(ckpt: String): Long =
    Option(new java.io.File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).foldLeft(-1L)(math.max)

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

    val fams = Seq(
      Fam("mv", "stream_mv",
        (s, d, b, f) => S.runStreamMv(s, d, s"$b/v", s"$b/ckpt", f),
        (s, b, last) => sortedRows(s, s"$b/v/v$last")),
      Fam("theta", "stream_theta",
        (s, d, b, f) => S.runStreamTheta(s, d, s"$b/v", s"$b/ckpt", f),
        (s, b, last) => sortedRows(s, s"$b/v/v$last")),
      Fam("topk", "stream_topk",
        (s, d, b, f) => S.runStreamTopk(s, d, s"$b/v", s"$b/ckpt", f),
        (s, b, last) => sortedRows(s, s"$b/v/v$last")),
      Fam("skyline", "stream_skyline",
        (s, d, b, f) => S.runStreamSkyline(s, d, s"$b/v", s"$b/ckpt", f),
        (s, b, last) => sortedRows(s, s"$b/v/v$last")),
      Fam("hist", "rfz_hist",
        (s, d, b, f) =>
          S.runStreamHist(s, d, s"$b/v", s"$b/ckpt", "rfz_hist", f),
        (s, b, last) => sortedRows(s, s"$b/v/v$last")),
      Fam("hourly", "rfz_hourly",
        (s, d, b, f) =>
          S.runStreamHourly(s, d, s"$b/v", s"$b/ckpt", "rfz_hourly", f),
        (s, b, last) => sortedRows(s, s"$b/v/v$last")),
      Fam("cells", "rfz_cells",
        (s, d, b, f) =>
          S.runStreamCells(s, d, s"$b/v", s"$b/ckpt", "rfz_cells", f),
        (s, b, last) => sortedRows(s, s"$b/v/v$last")),
      Fam("markov", "stream_markov",
        (s, d, b, f) => S.runStreamMarkov(s, d, s"$b/v", s"$b/ckpt", f),
        (s, b, last) => sortedRows(s, s"$b/v/mv_v$last"), evLaw = true),
      Fam("seq", "stream_seq",
        (s, d, b, f) => S.runStreamSeq(s, d, s"$b/v", s"$b/ckpt", f),
        (s, b, last) => sortedRows(s, s"$b/v/mv_v$last"), evLaw = true),
      Fam("sdi", "sdi",
        (s, d, b, f) => {
          S.runStreamDedupIncremental(s, d, s"$b/idx", s"$b/res",
            s"$b/ckpt", f)
          // The drained-to batch is EVIDENCE from the checkpoint's
          // commit log, never fabricated from the argument (ADVICE
          // r15: the old `f - 1` return made the completeness check
          // vacuous for this family).
          lastCommitted(s"$b/ckpt")
        },
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
      val label = s"#$i ${fam.name} files=$files crash@$fb" +
        (if (twice) s" then @$fb2" else "")
      try {
        val cleanRows = clean.getOrElseUpdate((fam.name, files), {
          val b = wipe(s"$root/clean_${fam.name}_f$files")
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
          val stored = spark.read.parquet(s"$b/v/ev").count()
          require(stored == corpusRows,
            s"append-only law broken: $stored event rows for a " +
              s"$corpusRows-row corpus")
        }
        passed += 1
        System.err.println(s"[replayfuzz] PASS $label")
      } catch {
        case e: Throwable =>
          // A scenario whose injected fault never fired leaves the seam
          // armed; disarm so it cannot contaminate later scenarios
          // (ADVICE r15).
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
