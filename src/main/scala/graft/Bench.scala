package graft

import org.apache.spark.sql.GraftSqlBridge

/** Benchmark main (driver contract): one JSON line with per-query and
  * total seconds over SparkEntry.queries at SPARK_GRAFT_SF_DIR. */
object Bench {
  @volatile private var calSink: Long = 0L
  /** Effective sweeper count of the last memory calibration (visible
    * in the JSON so a heap-capped calibration is never mistaken for a
    * full-fan-out one). */
  @volatile private var calibMemEffCount: Int = 0

  /** Fixed single-thread CPU calibration: per-key
    * attribution shows identical plans cost 2–7× in per-task CPU
    * across boxes (same job/task counts, different wall), so raw bench
    * wall times are NOT comparable between machines. This measures one
    * fixed unit of register-only work — 2²⁶ xorshift64 steps, no
    * allocation, no page faults, no syscalls — and the min of 3 runs
    * (first pays JIT) is emitted as `calib_ms` in the contract line:
    * divide two boxes' wall times by their calib_ms ratio before
    * comparing rounds across machines. */
  private def calibrateMs(): Long = {
    def once(): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < (1 << 26)) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        x += 0x2545F4914F6CDD1DL
        i += 1
      }
      calSink = x // defeat dead-code elimination
      (System.nanoTime() - t0) / 1000000
    }
    (1 to 3).map(_ => once()).min
  }

  /** Memory-bandwidth calibration under full thread fan-out (for the
    * dedup_ngram bimodality attribution): [[calibrateMs]] is
    * register-only and measured the SLOW box as FASTER (gate 144 ms vs
    * builder 167 ms) while the same box did 4–5× the task CPU on the
    * inverted-index keys — which are memory-bound (byte hashing,
    * primitive hash-set probes over shuffled postings). Core speed and
    * loaded memory bandwidth are independent axes; this measures the
    * second: N threads (N = the spark local parallelism) each sweep a
    * private 32 MiB long array with a strided xor-sum — cache-defeating
    * 256 MiB of resident traffic per pass, the same pressure N busy
    * executor threads put on the memory controller. min of 3 passes
    * (first pays page init). A box pair with equal calib_ms but 3×
    * calib_mem_ms has named the dedup_ngram divergence. */
  private def calibrateMemMs(threads: Int): Long = {
    val n = (32 << 20) / 8 // 32 MiB of longs per thread
    // Bound calibration memory independently of SPARK_GRAFT_CPUS:
    // threads × 32 MiB live across all 3 passes is 1 GiB at
    // the 32-thread cap — fine under the bench's fixed 12g heap, an
    // OOM / full-GC hazard on a smaller -Xmx. Cap the sweepers at
    // heapMb/128 (≤ ¼ of the heap in arrays); the probe measures
    // loaded-bandwidth contention, which saturates at any thread count
    // ≥ the memory channels, so the capped measurement names the same
    // axis (and on the 12g bench heap the cap never binds: 96 > 32).
    val heapMb = (Runtime.getRuntime.maxMemory() >> 20).toInt
    val eff = math.max(1, math.min(threads, heapMb / 128))
    // Record the effective sweeper count in the bench JSON: when the
    // heap cap binds, calib_mem_ms is measured at less
    // than session parallelism and the two-axis normalization against
    // the full-fan-out reference would silently skew — the record
    // makes a capped calibration visible.
    calibMemEffCount = eff
    val arrays = Array.fill(eff)(new Array[Long](n))
    // touch every page before timing
    arrays.foreach { a => var i = 0; while (i < n) { a(i) = i; i += 4096 } }
    def pass(): Long = {
      val t0 = System.nanoTime()
      val ts = arrays.map { a =>
        val t = new Thread(() => {
          var acc = 0L
          var s = 0
          while (s < 4) { // 4 strides ≈ sequential+strided mix
            var i = s
            val step = 1 + s * 16
            while (i < n) { acc ^= a(i); i += step }
            s += 1
          }
          calSink += acc
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1000000
    }
    (1 to 3).map(_ => pass()).min
  }

  /** r9 driver-box calibration constant (BENCH_r09 ran on a box that
    * measures 149 ms on [[calibrateMs]]'s fixed work unit). The
    * contract line carries BOTH the raw total and
    * `normalized_total = total × (CalibRefMs / calib_ms)` — the wall
    * time this suite WOULD take on the r9 reference box — so
    * cross-round comparisons divide out box speed instead of
    * re-attributing it by hand each round (the r8/r9 "identical
    * jobs/tasks, 2-8× task CPU" analysis, now one number). */
  private val CalibRefMs = 149.0

  /** Gate-box memory-bandwidth reference ([[calibrateMemMs]] read
    * 21 ms on the BENCH_r14 box of record). Its variance analysis
    * showed core speed and loaded bandwidth are INDEPENDENT axes
    * (equal calib_ms, 3–5× calib_mem_ms across windows), so the
    * headline normalization is two-axis:
    * memory-bound keys (the plan-probe set — the inverted-index dedup
    * family + pagerank, the keys the bimodality analysis attributed
    * to bandwidth contention) normalize by the calib_mem ratio,
    * everything else by the core ratio. `normalized_total_2ax` in the
    * contract line is the result; the single-axis `normalized_total`
    * stays for cross-round continuity. */
  private val CalibMemRefMs = 21.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", GraftSession.DefaultCpus)
    val spark = GraftSession.build(cpus)
    // Untimed warmup: JVM/codegen/parquet-reader spin-up should not be
    // attributed to whichever query happens to run first. Profiling
    // shows first use of each execution-machinery family
    // costs 2-6 s of pure classloading — window exec, the
    // dynamic-partition commit protocol, the binaryFile source, the
    // streaming engine — billed to arbitrary queries (ingest_e2e read
    // 24 s in BENCH_r03 vs 0.8 s warm). Touch each family once here.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val warmDir = s"${Tables.scratchRoot}/bench-warm"
    val wdf = spark.range(100)
      .selectExpr("id", "id % 3 AS k", "cast(id AS string) AS s")
    wdf.selectExpr("k", "row_number() OVER (PARTITION BY k ORDER BY id) rn")
      .count()
    wdf.join(
      org.apache.spark.sql.functions.broadcast(wdf.select("k").distinct()),
      "k").count()
    val wobs = org.apache.spark.sql.Observation("bench_warm")
    wdf.observe(wobs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("k").parquet(warmDir)
    wobs.get: Unit
    spark.read.parquet(warmDir).count()
    spark.read.format("binaryFile").load(warmDir).count()
    wdf.selectExpr("explode(split(s, '')) AS c").groupBy("c").count().count()
    val wq = spark.readStream
      .schema(spark.read.parquet(warmDir).schema).parquet(warmDir)
      .writeStream.format("noop")
      .option("checkpointLocation", s"$warmDir-ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    wq.awaitTermination()
    // Fixture fingerprint: a testdata regeneration silently breaks
    // per-query comparability unless a BENCH file records WHAT data it
    // measured. Per-table row counts
    // plus total on-disk bytes let the next round attribute a per-query
    // delta to data vs code mechanically. Counting also pre-warms the
    // page cache uniformly (part of the warmup story above).
    def dirBytes(f: java.io.File): Long =
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids == null) 0L else kids.map(dirBytes).sum
      } else f.length()
    val fixture = {
      val tabs = Option(new java.io.File(sfDir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val rows = tabs.map { f =>
        val n =
          try spark.read.parquet(f.getPath).count()
          catch { case _: Throwable => -1L }
        "\"" + f.getName.stripSuffix(".parquet") + "\":" + n
      }.mkString("{", ",", "}")
      s"""{"bytes":${tabs.map(dirBytes).sum},"rows":$rows}"""
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.startsWith) }
    // Min of N trials (default 2): this guest kernel initializes struct
    // pages lazily on first touch (~50-230us/page behind a global lock),
    // so whichever query happens to grow the JVM heap or the page cache
    // absorbs a multi-second kernel stall that has nothing to do with
    // its plan — observed as the SAME query varying 1s <-> 74s across
    // runs. The first trial pays the page-init bill; the min reports
    // the engine's actual cost on warm pages. Trials run back-to-back
    // per query so trial 2 reuses trial 1's pages before another query
    // disturbs them.
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt.max(1)
    val calibMs = calibrateMs()
    val calibMemMs =
      calibrateMemMs(math.min(32, math.max(1, cpus.toInt)))
    System.err.println(s"[bench] cpu calibration: $calibMs ms, " +
      s"mem calibration: $calibMemMs ms " +
      s"(sink=${java.lang.Long.toHexString(calSink)})")
    // Plan fingerprints go into the detail rows of the inverted-index
    // probe keys: dedup_ngram once ran 2.5 s on one box and 16.4 s on
    // another with the same code and fixture, and two boxes with matching
    // fingerprints ran the same plan over the same rows, so a residual
    // wall delta is the environment's.
    val planProbe = Set("dedup_ngram", "dedup_containment",
      "dedup_minhash_recall", "dedup_semantic", "graph_pagerank")
    val metrics = Metrics.attach(spark)
    // Per-trial memory-bandwidth spot probe: two CONSECUTIVE
    // same-box full runs showed graph_pagerank at 5.3× the task CPU
    // with zero GC and an identical plan, and the run-level
    // calib_mem_ms read 42 vs 24 ms — the box's effective memory
    // bandwidth VARIES OVER TIME (shared-host contention), which a
    // single start-of-run calibration cannot localize. One thread
    // sweeps a persistent 32 MiB array right after each trial
    // (~3–10 ms, outside the timed window): the resulting per-trial
    // series shows whether the box was slow WHEN a given key ran —
    // the per-key analog of calib_mem_ms, and the direct test of the
    // environment hypothesis for the dedup_ngram bimodality.
    val memProbeArr = new Array[Long]((32 << 20) / 8)
    java.util.Arrays.fill(memProbeArr, 1L)
    def memProbeMs(): Long = {
      val n = memProbeArr.length
      var acc = 0L
      val t0 = System.nanoTime()
      var s = 0
      while (s < 4) {
        var i = s
        val step = 1 + s * 16
        while (i < n) { acc ^= memProbeArr(i); i += step }
        s += 1
      }
      calSink += acc
      ((System.nanoTime() - t0) + 500000) / 1000000
    }
    val detail = scala.collection.mutable.ArrayBuffer.empty[String]
    // Keys that ran at least one streaming query (observed, not
    // name-matched): their subtotal is ~80% trigger/commit machinery
    // (graft.Metrics' listener decomposition), so the contract line reports
    // it alongside the total — the streaming-floor-excluded remainder
    // is the contention-comparable batch number.
    val streamKeys = scala.collection.mutable.Set.empty[String]
    val results = selected.map { case (name, fn) =>
      val times = (1 to trials).map { trial =>
        val r = metrics.measure(fn(spark, sfDir))
        r.failure.foreach(e =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"))
        if (r.stream.nonEmpty) streamKeys += name: Unit
        detail += s"""{"q":"$name","trial":$trial,${r.json(planProbe(name))},""" +
          s""""mem_probe_ms":${memProbeMs()}}"""
        // Unload the state-store providers the key's streaming queries
        // left behind: the provider pool otherwise grows across the
        // suite's streaming keys (stream_tws ran 13.5 s in-suite against
        // 1.87 s standalone), taxing later keys' memory.
        GraftSqlBridge.unloadStateStores()
        if (r.ok) r.wallS else -r.wallS
      }
      // A crashed query must not masquerade as a fast one:
      // its time is emitted negative and its name listed under "failed".
      // min over successful trials; all-failed keeps the negative mark.
      val best = times.filter(_ >= 0) match {
        case ok if ok.nonEmpty => ok.min
        case _ => times.min
      }
      System.err.println(
        f"[bench] $name $best%.2f s (${times.map(t => f"$t%.2f").mkString("/")})")
      // A full GC and a short settle between keys, outside the timed
      // windows, drain the previous key's garbage, so each key's trials
      // run against a heap it shaped, not its suite neighbour's.
      System.gc(); Thread.sleep(50)
      (name, best)
    }
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map { case (_, v) => math.abs(v) }.sum

    // Production (audit-off) timings for the sketch keys: the headline
    // keys bench the audit-on gate plan by design (oracle text
    // unchanged); `audit = false` is the 100 TB production shape —
    // sketch-only, zero corpus re-scans, PlanSpec-pinned. Emit it as
    // extra detail rows so both numbers are visible per round without
    // a manual run. Headline map untouched.
    val auditOff: Seq[(String, Tables.Q)] = Seq(
      "agg_theta" -> ((s, d) => ops.Pipeline.aggThetaPlan(s, d, audit = false)),
      "stream_theta" -> ((s, d) => ops.Streaming.streamThetaPlan(s, d, audit = false)),
      "agg_approx" -> ((s, d) => ops.Relational.aggApproxPlan(s, d, audit = false)),
      "agg_approx_quantile" ->
        ((s, d) => ops.Relational.aggApproxQuantilePlan(s, d, audit = false)),
      "agg_hll_merge" -> ((s, d) => ops.Lake.aggHllMergePlan(s, d, audit = false)))
    for ((name, plan) <- auditOff
         if args.isEmpty || args.exists(name.startsWith)) {
      (1 to trials).foreach { trial =>
        val r = metrics.measure(plan(spark, sfDir))
        detail += s"""{"q":"$name#audit_off","trial":$trial,""" +
          s"""${r.json(withPlan = false)},"ok":${r.ok}}"""
        System.err.println(f"[bench] $name#audit_off ${r.wallS}%.2f s")
      }
    }

    // Standalone re-measure: the slowest keys run
    // again in a FRESH JVM (same flags, classpath, env; a suite of
    // one), so the in-suite vs standalone divergence that was once
    // attributed by hand (stream_tws: 13.5 s in a 301-query JVM
    // vs 1.87 s alone) is MEASURED in every BENCH file. Headline map
    // untouched — these are detail rows. SPARK_GRAFT_STANDALONE=N
    // overrides; default 5 on a full run, 0 on a filtered run (a
    // filtered run IS the standalone mode, and the guard stops
    // child recursion).
    import scala.jdk.CollectionConverters._
    val nStandalone = sys.env.get("SPARK_GRAFT_STANDALONE").map(_.toInt)
      .getOrElse(if (args.isEmpty) 5 else 0)
    if (nStandalone > 0) {
      val slowest = results.filter(_._2 >= 0).sortBy(-_._2)
        .take(nStandalone)
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala
        .filter(a => a.startsWith("-X") || a.startsWith("-D")).toSeq
      for ((key, insuite) <- slowest) {
        val cmd = Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", System.getProperty("java.class.path"),
            "graft.Bench", key)
        // The child writes its full-detail file to a
        // per-key path; its per-trial attribution rows (task_ms /
        // task_gc_ms / driver_ms / scratch_ms / …) are folded into THIS
        // run's detail under the #standalone name, so an in-suite vs
        // standalone inversion (pipeline_corpus_stream once read 17.0 s
        // alone vs 5.2 s in-suite) is attributable from one BENCH file.
        val childFull = s"target/bench_standalone_$key.json"
        // A stale per-key file from a PRIOR run must never be folded in
        // as this run's attribution rows: delete first,
        // and skip the fold entirely when the child failed.
        try java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(childFull)): Unit
        catch { case _: Throwable => () }
        val standalone =
          try {
            val pb = new ProcessBuilder(cmd: _*)
            pb.environment().put("SPARK_GRAFT_STANDALONE", "0")
            pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
            pb.environment().put("SPARK_GRAFT_FULL_OUT", childFull)
            // Child [bench] progress flows through; its contract line
            // (stdout) is parsed here, not printed.
            pb.redirectError(ProcessBuilder.Redirect.INHERIT)
            val p = pb.start()
            val stdout = new String(p.getInputStream.readAllBytes, "UTF-8")
            p.waitFor(): Unit
            // The child's contract line carries the key's min-of-2.
            val re = ("\"" + java.util.regex.Pattern.quote(key) +
              "\":(-?[0-9.]+)").r
            re.findFirstMatchIn(stdout).map(_.group(1).toDouble)
              .getOrElse(-1.0)
          } catch { case _: Throwable => -1.0 }
        detail += s"""{"q":"$key#standalone","wall_s":$standalone,""" +
          s""""insuite_s":${(insuite * 1000).round / 1000.0}}"""
        // fold the child's per-trial attribution rows in (best-effort:
        // a crashed child just contributes no rows)
        if (standalone >= 0) try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(childFull)), "UTF-8")
          // Depth-1 brace matcher: detail rows can carry ONE level of
          // nested objects ("stream":{...}), and a [^}]* would cut the
          // row at the first inner brace, folding invalid JSON.
          val rowRe = ("\\{\"q\":\"" + java.util.regex.Pattern.quote(key) +
            "\",\"trial\":(?:[^{}]|\\{[^{}]*\\})*\\}").r
          rowRe.findAllIn(txt).foreach { r =>
            detail += r.replaceFirst(
              "\"q\":\"" + java.util.regex.Pattern.quote(key) + "\"",
              java.util.regex.Matcher.quoteReplacement(
                "\"q\":\"" + key + "#standalone\""))
          }
        } catch { case _: Throwable => () }
        System.err.println(
          f"[bench] $key#standalone $standalone%.2f s (insuite $insuite%.2f)")
      }
    }

    // The driver keeps only the LAST ~2000 chars of the run output; sbt
    // appends its own "[success] Total time ..." trailer (~85 chars)
    // after our line. A full-precision map over 80+ queries is ~2900
    // chars, so the line's head scrolls out of the tail window and the
    // driver's JSON parse fails (this is exactly what happened to
    // BENCH_r01/r02: "parsed": null). Emit compact values and degrade
    // precision / drop the fastest entries until the line fits; full
    // precision goes to a local file for analysis.
    // Locale.ROOT everywhere: a comma-decimal default locale would make
    // %f emit "1,5", crashing .toDouble / breaking the JSON contract.
    def num(fmt: String, v: Double): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    // mean over an empty filtered run would be NaN — invalid JSON.
    val mean = if (results.isEmpty) 0.0 else total / results.size
    // Two-axis normalization: memory-bound keys by
    // the bandwidth ratio, the rest by the core ratio — see
    // [[CalibMemRefMs]]. planProbe IS the memory-bound set (that is
    // why those keys carry plan fingerprints in the first place).
    val total2ax = results.map { case (k, v) =>
      val w = math.abs(v)
      if (planProbe.contains(k)) w * CalibMemRefMs / math.max(1L, calibMemMs)
      else w * CalibRefMs / math.max(1L, calibMs)
    }.sum
    val streamSub = results
      .collect { case (k, v) if streamKeys.contains(k) => math.abs(v) }.sum
    def render(prec: Int, keep: Int): String = {
      val shown = results.sortBy { case (_, v) => -math.abs(v) }.take(keep)
        .sortBy(_._1)
      val qs = shown.map { case (k, v) =>
        "\"" + k + "\":" + num(s"%.${prec}f", v).toDouble
      }.mkString("{", ",", "}")
      val omitted =
        if (keep >= results.size) "" else s""","omitted":${results.size - keep}"""
      // n + mean make rounds with different query counts comparable
      // (the suite grew 75 → 99 queries across rounds; the TOTAL alone
      // penalizes added coverage).
      s"""{"metric":"total","value":${num("%.2f", total)},"unit":"sec","n":${results.size},"mean_sec":${num("%.3f", mean)},"trials":$trials,"action":"noop","calib_ms":$calibMs,"calib_mem_ms":$calibMemMs,"calib_mem_eff":$calibMemEffCount,"calib_ref_ms":${CalibRefMs.toInt},"calib_mem_ref_ms":${CalibMemRefMs.toInt},"normalized_total":${num("%.2f", total * CalibRefMs / calibMs)},"normalized_total_2ax":${num("%.2f", total2ax)},"stream_sub":${num("%.2f", streamSub)},"fixture":$fixture,"queries":$qs$omitted,"failed":$failed,"sf":"$sfDir"}"""
    }
    val budget = 1800
    val line = Iterator(render(2, results.size), render(1, results.size)) ++
      Iterator.iterate(results.size - 5)(_ - 5).takeWhile(_ > 0)
        .map(render(1, _))
    println(line.find(_.length <= budget).getOrElse(render(1, 20)))

    val full = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // cwd-independent: running outside the repo root must not crash the
    // run after the suite completed.
    // SPARK_GRAFT_FULL_OUT: where this process writes its full-detail
    // file — the parent points each #standalone child at a per-key path
    // so the child's attribution rows survive to be folded in above.
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_FULL_OUT",
      "target/bench_full.json")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(fullOut),
      (s"""{"metric":"total","value":$total,"unit":"sec","action":"noop","calib_ms":$calibMs,"calib_mem_ms":$calibMemMs,"calib_mem_eff":$calibMemEffCount,"cpus":"$cpus","procs":${Runtime.getRuntime.availableProcessors()},"calib_ref_ms":${CalibRefMs.toInt},"calib_mem_ref_ms":${CalibMemRefMs.toInt},"normalized_total":${total * CalibRefMs / calibMs},"normalized_total_2ax":$total2ax,"stream_sub":$streamSub,"fixture":$fixture,"queries":$full,"failed":$failed,"sf":"$sfDir",""" +
        s""""detail":[${detail.mkString(",")}]}""").getBytes("UTF-8"))
    spark.stop()
  }
}
