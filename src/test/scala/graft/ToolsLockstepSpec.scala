package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling preflight (tools/scaling.py) mirrors the registered df
  * caps so its candidate-mass probe guards exactly the plans that will
  * run — a cap hardcoded twice is a cap silently wrong once. This spec
  * fails the suite if the Python RISK_KEYS caps drift from the Scala
  * constants they mirror, if session setup grows a second owner next to
  * GraftSession and GraftExtensions, if a foreachBatch loop appears
  * outside Streaming.drain, if an algebraic fold is run outside
  * Streaming.runFold, if a round checkpoint is written outside
  * Graph.fixpoint, if a listener is registered outside graft.Metrics,
  * if a one-time artifact is keyed or a catalog table saved outside
  * graft.Scratch, if an archive is exploded outside Ingest.members, if
  * main code sets session conf outside GraftSession.scoped, reads a
  * graft conf key or plans a frame eagerly, if an ops key re-writes an
  * integer grid, a Lloyd update or a squared-L2 fold the Pipeline vector
  * toolkit owns, or if a comment under src/main narrates a past review
  * round.
  */
class ToolsLockstepSpec extends AnyFunSuite {
  private lazy val py: String = {
    val p = java.nio.file.Paths.get("tools/scaling.py")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private def pyCap(key: String): Long = {
    val re = ("\"" + key + "\": \\(\"\\w+\", (\\d+)\\)").r
    re.findFirstMatchIn(py) match {
      case Some(m) => m.group(1).toLong
      case None => fail(s"RISK_KEYS entry for $key not found in tools/scaling.py")
    }
  }

  test("scaling.py RISK_KEYS df caps match the Scala constants they probe") {
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("tools/scaling.py")), "run from the repo root")
    assert(pyCap("dedup_containment") === ops.Llm.containmentDfCap)
    assert(pyCap("dedup_ngram") === ops.Llm.ngramDfCap)
    assert(pyCap("dedup_fuzzy") === ops.Llm.fuzzyBucketCap)
    // recall's exact-truth probe is deliberately uncapped (that key is
    // the one that OOM'd the r9 sf10 leg) — pin that it stays None.
    assert(py.contains("\"dedup_minhash_recall\": (\"shingle\", None)"))
  }

  /** (file, line number, line) for every Scala line under `dir`. */
  private def scalaLines(dir: String): Seq[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (p.toString, i + 1, l) }
    } finally files.close()
  }

  /** "file:line: text" for every Scala line under `dir` containing
    * `pattern`, in files `except` does not exclude. */
  private def hits(dir: String, pattern: String,
      except: String => Boolean = _ => false): Seq[String] =
    scalaLines(dir).collect {
      case (f, n, l) if l.contains(pattern) && !except(f) => s"$f:$n: ${l.trim}"
    }

  test("session setup has one owner: builder, function registry, conf overrides") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft")), "run from the repo root")
    val builders = hits("src", "SparkSession" + ".builder",
      _.endsWith("/graft/GraftSession.scala"))
    assert(builders.isEmpty, "build sessions with GraftSession.build:\n" +
      builders.mkString("\n"))
    val tempFns = hits("src/main", "createOrReplaceTempFunction")
    assert(tempFns.isEmpty, "add native functions to GraftExtensions.functions:\n" +
      tempFns.mkString("\n"))
    // GraftSession sets conf on the sessions it builds and scopes;
    // Tables.events sets the session-wide nanosAsLong read flag; fs/
    // sets Hadoop conf
    val confWrites = Seq("conf.set(", "conf.unset(").flatMap(hits("src/main", _, f =>
      f.endsWith("/graft/GraftSession.scala") || f.contains("/graft/fs/")))
    assert(confWrites.size === 1 && confWrites.head.contains("/graft/Tables.scala:") &&
      confWrites.head.contains("nanosAsLong"),
      "give a frame its own conf with GraftSession.scoped:\n" + confWrites.mkString("\n"))
  }

  test("a frame's conf has one owner: GraftSession.scoped") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft")), "run from the repo root")
    // no window sets and restores conf on a shared session
    val windows = hits("src", "with" + "Conf")
    assert(windows.isEmpty, "build on a GraftSession.scoped session:\n" +
      windows.mkString("\n"))
    val clones = hits("src", "clone" + "Session", _.endsWith("/GraftSqlBridge.scala"))
    assert(clones.isEmpty, "clone sessions with GraftSession.scoped:\n" +
      clones.mkString("\n"))
  }

  /** The top-level member of `object Streaming` enclosing each line of
    * ops/Streaming.scala that calls `fn` (its own `def` excluded). */
  private def streamingCallers(fn: String): Seq[String] = {
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val|lazy val) (\w+).*""".r
    scalaLines("src/main/scala/graft/ops/Streaming.scala")
      .foldLeft(("", Seq.empty[String])) { case ((cur, acc), (_, _, l)) =>
        val owner = l match { case member(name) => name; case _ => cur }
        val call = l.contains(fn) && !l.contains(s"def $fn") &&
          !l.trim.startsWith("*") && !l.trim.startsWith("//")
        (owner, if (call) acc :+ owner else acc)
      }._2
  }

  test("algebraic folds have one runner: Streaming.runFold") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft/ops")), "run from the repo root")
    // a new fold is a row of Streaming.folds, not another runner
    assert(streamingCallers("foldSession(") === Seq("runFold"),
      "add a row to Streaming.folds instead of a fold runner")
    assert(streamingCallers("foldStep(").sorted === Seq("runFold", "streamResume"),
      "add a row to Streaming.folds instead of a fold runner")
  }

  test("micro-batch loops have one owner: Streaming.drain") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft/ops")), "run from the repo root")
    // the one call is drain's own; every other loop must go through it
    val loops = hits("src/main/scala/graft/ops", ".foreachBatch")
    assert(loops.size === 1, "run micro-batch steps through Streaming.drain:\n" +
      loops.mkString("\n"))
  }

  test("iterative loops have one owner: Graph.fixpoint") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft/ops")), "run from the repo root")
    // ckpt's definition and fixpoint's one call; every round loop
    // must be a step function handed to fixpoint
    val uses = hits("src/main/scala/graft/ops", "ckpt(")
    assert(uses.size === 2 && uses.count(_.contains("def ckpt(")) === 1,
      "checkpoint rounds through Graph.fixpoint:\n" + uses.mkString("\n"))
  }

  test("listeners have one owner: graft.Metrics") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft")), "run from the repo root")
    val regs = Seq("addSparkListener(", "listenerManager.register(", "streams.addListener(")
      .flatMap(hits("src/main", _, _.endsWith("/graft/Metrics.scala")))
    // the one exception: Streaming.streamSession copies the parent's
    // stream listeners into its clone, which Spark does not do
    assert(regs.size === 1 && regs.head.contains("/graft/ops/Streaming.scala:") &&
      regs.head.contains("s.streams.listListeners().foreach(l => c.streams.addListener(l))"),
      "measure through graft.Metrics; register no listener elsewhere:\n" +
      regs.mkString("\n"))
  }

  test("one-time artifacts have one owner: graft.Scratch") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft")), "run from the repo root")
    // artifact paths come from Scratch.path and catalog tables from
    // Scratch.replaceTable / Scratch.bucketed
    val uses = Seq("Scratch.key(", "saveAsTable(")
      .flatMap(hits("src/main", _, _.endsWith("/graft/Scratch.scala")))
    assert(uses.isEmpty, "name and build one-time artifacts through graft.Scratch:\n" +
      uses.mkString("\n"))
  }

  test("archive explode has one owner: Ingest.members") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft/ops")), "run from the repo root")
    for (fn <- Seq("zip_entries(", "tar_entries(")) {
      val uses = hits("src/main/scala/graft/ops", fn)
      assert(uses.size === 1, s"explode archives through Ingest.members:\n" +
        uses.mkString("\n"))
    }
  }

  test("no graft behaviour depends on session conf or a dropped plan") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft/ops")), "run from the repo root")
    // rules are always on (Spark's excludedRules switches them off),
    // the MV rewrite is a function of its caller, and the audit is an
    // argument: there is no conf key of graft's own to read
    val keys = hits("src/main", "spark." + "graft.")
    assert(keys.isEmpty, "pass an argument instead of reading a graft conf key:\n" +
      keys.mkString("\n"))
    // a forced plan is dropped: every later action on the frame
    // optimizes again, under the conf of the session the frame is on
    val eager = hits("src/main/scala/graft/ops", "queryExecution.executedPlan")
    assert(eager.isEmpty, "build the frame on a GraftSession.scoped session; a forced plan is dropped:\n" +
      eager.mkString("\n"))
  }

  test("vector primitives have one owner: the Pipeline vector toolkit") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft/ops")), "run from the repo root")
    // the shifted grid, the rounded grid and the Lloyd mean update are
    // each written once (Pipeline.shiftedGrid, roundedGrid, lloyd)
    for (lit <- Seq("1000000.0d", "1e6 + lit(0.5)", "div count(1)")) {
      val uses = hits("src/main/scala/graft/ops", lit)
      assert(uses.size === 1, s"use the Pipeline vector toolkit for `$lit`:\n" +
        uses.mkString("\n"))
    }
    // squared L2 is the sqdist_i64 kernel (Pipeline.sqDist), never a fold
    val folds = Seq("(a - b) * (a - b)", "(x - y) * (x - y)")
      .flatMap(hits("src/main/scala/graft/ops", _))
    assert(folds.isEmpty, "compute squared L2 with Pipeline.sqDist:\n" +
      folds.mkString("\n"))
  }

  test("comments under src/main give reasons, not review-round history") {
    assume(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("src/main/scala/graft")), "run from the repo root")
    val history =
      "round[- ][0-9]+|r[0-9]+ (ADVICE|judge)|ADVICE r[0-9]+|r[0-9]+ \\(ADVICE\\)|judge item".r
    // a round number is history in a comment; in oracle SQL (`FROM r16`)
    // it is a CTE name
    val roundRef = "\\br1[0-9]\\b".r
    def comment(l: String): String = {
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) t
      else "(?<!:)//.*".r.findFirstIn(l).getOrElse("")
    }
    val found = scalaLines("src/main").collect {
      case (f, n, l) if history.findFirstIn(l).isDefined ||
          roundRef.findFirstIn(comment(l)).isDefined => s"$f:$n: ${l.trim}"
    }
    assert(found.isEmpty, "say what holds now, not which round asked for it:\n" +
      found.mkString("\n"))
  }
}
