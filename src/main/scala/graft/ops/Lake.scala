package graft.ops

import graft.GraftSession.scoped
import graft.Scratch
import graft.plans.MvRewrite
import graft.Tables._
import org.apache.spark.sql.functions._

/** Lake-format surface beyond parquet: text-format
  * interchange scans (CSV/JSON — the reference's sources are opaque
  * files on remote servers, but a complete engine must ingest the
  * standard interchange formats too), dynamic-partition-pruned scans
  * (the optimizer-driven data-skipping path that makes a partitioned
  * 100 TB fact table queryable), SCD2 history-preserving dimension
  * merge, and mergeable-sketch aggregation.
  *
  * All sinks write under the per-process [[graft.Tables.scratchRoot]]
  * and re-read what they wrote; oracles verify against the SOURCE
  * tables, so every roundtrip query doubles as a lossless-ness proof
  * of the format path.
  */
object Lake {

  /** Manifest-pruned scan — the Iceberg/Delta PLANNING path: a
    * key-clustered layout job writes files with tight per-file key
    * spans; a MANIFEST of per-file (min, max) is built from parquet
    * footers (metadata-only pass, zero data bytes); the query consults
    * the manifest and hands the reader ONLY the overlapping files.
    * This is file-level skipping one level above row-group stats: the
    * planner never even opens the pruned files' footers. The manifest
    * is planner-side here exactly as in Iceberg (manifests are KB-scale
    * metadata; at 100 TB the manifest itself becomes a table scanned
    * distributedly, but selection stays a metadata operation). The
    * residual filter re-applies after the read, so sampling variation
    * in the range layout never affects results — only how much gets
    * skipped. LakeSpec pins that files ARE skipped. */
  private[graft] val manifestLoHi = (1000L, 3000L)
  private[graft] def manifestLayoutPath(d: String): String =
    Scratch.path("manifest_layout", d)
  private[graft] def manifestSelect(s: org.apache.spark.sql.SparkSession,
      d: String): (Int, Seq[String]) = {
    // The clustered layout is a one-time maintenance artifact (you
    // z-order/cluster once, query many times) — checkpointed per
    // (process, input dir) through the same Scratch registry the
    // minhash family uses, so repeated queries measure the MANIFEST
    // path (footer stats + pruned read), not the layout rewrite.
    val out = manifestLayoutPath(d)
    Scratch.table(s, out) {
      t(s, d, "lineitem")
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
    }
    val conf = s.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    import scala.jdk.CollectionConverters._
    val manifest = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf))
        try {
          val stats = rd.getFooter.getBlocks.asScala.map(_.getColumns.asScala
            .find(_.getPath.toDotString == "l_orderkey").get.getStatistics)
          val mins = stats.map(_.genericGetMin
            .asInstanceOf[java.lang.Long].longValue())
          val maxs = stats.map(_.genericGetMax
            .asInstanceOf[java.lang.Long].longValue())
          (st.getPath.toString, mins.min, maxs.max)
        } finally rd.close()
      }
    val (lo, hi) = manifestLoHi
    (manifest.size,
      manifest.filter { case (_, mn, mx) => mx >= lo && mn <= hi }.map(_._1))
  }
  private def scanManifestPrune: Q = (s, d) => {
    val (_, files) = manifestSelect(s, d)
    val (lo, hi) = manifestLoHi
    s.read.parquet(files: _*)
      .where(col("l_orderkey").between(lo, hi))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy("l_returnflag")
  }

  /** CSV roundtrip scan: write documents as headered CSV, read back
    * with an EXPLICIT schema (schema inference is a full extra pass
    * over the data — at 100 TB you always declare), aggregate. The
    * read stays line-splittable (no multiLine), which is the 100 TB
    * default: a CSV file with embedded newlines cannot be split, so
    * the writer quotes-and-escapes but the corpus contract (enforced
    * by the text_normalize family) keeps newlines out of `text` —
    * and empty strings, which Spark CSV reads back as null (LakeSpec
    * asserts both contract halves).
    * Content equality vs the parquet source is the oracle, proving
    * the format roundtrip lossless including `sum(length(text))`. */
  private def scanCsv: Q = (s, d) => {
    val out = s"$scratchRoot/formats/documents_csv"
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
      .write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(out)
    s.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .option("header", "true").option("escape", "\"")
      .csv(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .orderBy("lang")
  }

  /** JSON-lines roundtrip scan: same shape as [[scanCsv]] over
    * newline-delimited JSON (the ubiquitous web-corpus interchange
    * format). Explicit schema again — inferring over JSON is even
    * costlier than CSV (every record fully tokenized twice). Lines
    * stay independently splittable at any scale. */
  private def scanJson: Q = (s, d) => {
    val out = s"$scratchRoot/formats/documents_json"
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
      .write.mode("overwrite").json(out)
    s.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .json(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .orderBy("source")
  }

  /** Dynamic partition pruning: the fact table is laid out by order
    * year; the dim side (a tiny calendar table) is filtered at runtime
    * and its surviving keys are pushed into the fact SCAN as a
    * partition filter — Spark plans a DPP subquery reusing the
    * broadcast, so only the 2 "current" year directories are read out
    * of 7. This is the optimizer-driven sibling of
    * scan_partition_pruned (static pruning): at 100 TB the fact side
    * is thousands of partitions and the query only ever touches the
    * ones the dim filter selects. PlanSpec asserts the
    * dynamicpruning expression reaches the scan. */
  private def scanDpp: Q = (s, d) => {
    t(s, d, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year")
      .parquet(dppFactDir)
    // The dim must be a REAL table (not a local relation): a filter
    // over a LocalRelation constant-folds away before the
    // PartitionPruning rule looks for a selective predicate, and no
    // DPP subquery is inserted. On file-backed dims — the only kind
    // that exists at lake scale — the filter survives to plan time.
    s.createDataFrame(Seq(
      (1995, "archive"), (1996, "archive"), (1997, "archive"),
      (1998, "archive"), (1999, "archive"), (2000, "current"),
      (2001, "current"))).toDF("cal_year", "era")
      .write.mode("overwrite").parquet(dppDimDir)
    dppJoinPlan(s)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n"),
        dsum2(col("o_totalprice")).as("total_price"))
      .orderBy("o_year")
  }

  private[graft] def dppFactDir: String = s"$scratchRoot/dpp/orders_by_year"
  private[graft] def dppDimDir: String = s"$scratchRoot/dpp/calendar"

  /** The pruned join itself (split out so LakeSpec can inspect it). */
  private[graft] def dppJoinPlan(s: org.apache.spark.sql.SparkSession) = {
    val cal = s.read.parquet(dppDimDir)
    s.read.parquet(dppFactDir)
      .join(broadcast(cal.where(col("era") === "current")),
        col("o_year") === col("cal_year"))
  }

  /** Parquet AGGREGATE pushdown — MIN/MAX/COUNT answered from row-group
    * FOOTER STATISTICS: the scan reads metadata pages only, zero data
    * pages, so a whole-table min/max/count over 100 TB touches
    * O(row-groups) bytes instead of O(table). Needs the DSv2 parquet
    * path (useV1SourceList cleared) + the pushdown flag, both Spark
    * confs with no plan-local form, so the frame is built on a
    * [[graft.GraftSession.scoped]] session that sets them: every action
    * on it optimizes under them and keeps the pushdown. Falls back
    * transparently when a column/agg isn't footer-answerable (doubles
    * with NaNs, filters, non-partition group-bys), so the result is
    * conf-independent — the oracle is the plain aggregate; LakeSpec
    * pins PushedAggregation in the scan, RewriteActionSpec in the
    * plans the key's actions run. */
  private[graft] def aggPushdownFrame(
      s: org.apache.spark.sql.SparkSession, d: String) =
    t(scoped(s, "spark.sql.parquet.aggregatePushdown" -> "true",
        "spark.sql.sources.useV1SourceList" -> ""), d, "lineitem").selectExpr(
      "count(*) AS n",
      "min(l_orderkey) AS min_key", "max(l_orderkey) AS max_key",
      "min(l_linenumber) AS min_ln", "max(l_linenumber) AS max_ln")

  private def scanAggPushdown: Q = aggPushdownFrame

  /** WRITE-AUDIT-PUBLISH with atomic manifest commits — the lakehouse
    * table-format transaction pattern (Iceberg/Delta commit protocol)
    * built from primitives: data files stage under an UNREFERENCED
    * path, an audit runs against the staged files themselves (never
    * the logical plan — what was actually written is what gets
    * checked), and only a passing audit publishes, by writing an
    * immutable manifest (the previous file list + the new files) and
    * atomically moving a HEAD pointer onto it. Readers resolve
    * HEAD → manifest → file list, so they see every commit entirely
    * or not at all; a failed audit leaves orphaned staged files and an
    * untouched HEAD (write isolation — the cleanup is a GC sweep, not
    * a rollback). Manifests are immutable and append-only, which is
    * also what makes [[scanSnapshot]] time travel free. The protocol
    * here is three commits: two good batches publish v1 and v2; a
    * third with NULL keys fails the audit and must change nothing.
    * At 100 TB the manifest write is O(files), the data move is zero
    * (files never relocate), and concurrent writers serialize on the
    * single HEAD swap exactly as in Iceberg's optimistic protocol. */
  private[graft] def wapBase(d: String): String =
    Scratch.path("wap", d)

  /** Run the full 3-commit WAP protocol from scratch into `base`;
    * idempotent (fixed content per input dir), so every execution
    * re-measures the protocol like sink_scd2. Each key runs it in a
    * directory of its own, so one key's rebuild never deletes the
    * tables another key reads. Returns `base`. */
  private[graft] def wapRun(s: org.apache.spark.sql.SparkSession,
      d: String, base: String): String = {
    val bf = new java.io.File(base)
    if (bf.exists()) graft.Tables.deleteRecursively(bf)
    new java.io.File(s"$base/manifests").mkdirs()
    val o = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def tryCommit(batch: org.apache.spark.sql.DataFrame, v: Int): Boolean = {
      val dataDir = s"$base/files/v$v"
      batch.write.mode("overwrite").parquet(dataDir)
      // Audit the STAGED files: non-empty, and no null keys.
      val a = s.read.parquet(dataDir)
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("bad"))
        .collect()(0)
      if (a.getLong(0) == 0L || a.getLong(1) > 0L) return false
      val prev: Seq[String] =
        if (v == 1) Seq.empty
        else scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(s"$base/manifests/v${v - 1}.txt")))
          .asScala.toSeq
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/manifests/v$v.txt"),
        scala.jdk.CollectionConverters.SeqHasAsJava(prev :+ dataDir).asJava)
      val tmp = java.nio.file.Paths.get(s"$base/HEAD.tmp")
      java.nio.file.Files.writeString(tmp, v.toString)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$base/HEAD"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      true
    }
    // The first two commits must publish — a silent audit failure here
    // would surface later as an obscure missing-manifest read.
    require(tryCommit(o.where(pmod(col("o_orderkey"), lit(10)) === 0), 1),
      "WAP commit 1 must publish")
    require(tryCommit(o.where(pmod(col("o_orderkey"), lit(10)) === 1), 2),
      "WAP commit 2 must publish")
    // Poisoned batch: keys nulled — audit must reject, HEAD must stay 2.
    require(!tryCommit(o.where(pmod(col("o_orderkey"), lit(10)) === 2)
      .withColumn("o_orderkey", lit(null).cast("long")), 3),
      "WAP commit 3 must fail its audit")
    base
  }

  /** Resolve a published version's file list (HEAD if v is None). */
  private[graft] def wapResolve(base: String, v: Option[Int]): Seq[String] = {
    val head = v.getOrElse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/HEAD")).trim.toInt)
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$base/manifests/v$head.txt")))
      .asScala.toSeq
  }

  private def sinkWap: Q = (s, d) => {
    val base = wapRun(s, d, wapBase(d))
    s.read.parquet(wapResolve(base, None): _*)
      .orderBy("o_orderkey")
  }

  /** Time travel over the WAP manifests: manifests are immutable, so
    * reading AS OF v1 is just resolving the v1 file list — no data
    * copies, no log replay. The protocol run is a once-per-process
    * precondition here, in its own directory (sink_wap is the key that
    * measures the commit path itself, rebuilding on every call). */
  private def scanSnapshot: Q = (s, d) => {
    val base = Scratch.path("wap_snapshot", d)
    Scratch.once(base)(wapRun(s, d, base): Unit)
    s.read.parquet(wapResolve(base, Some(1)): _*)
      .orderBy("o_orderkey")
  }

  /** VACUUM — the GC sweep that completes the WAP protocol: staged
    * data dirs not referenced by the CURRENT manifest chain are
    * orphans (failed audits, abandoned writers) and get deleted;
    * referenced files are untouchable. Runs the full protocol first so
    * every execution sweeps the identical state (the poisoned commit's
    * files/v3 is always the one orphan) — deterministic output at any
    * SF and across bench trials. At 100 TB this is a metadata-only
    * pass: list dirs ⋈ manifest file list, delete the difference;
    * nothing data-sized is read. Emitted paths are RELATIVE to the
    * table root (scratch roots are per-process). */
  private def sinkVacuum: Q = (s, d) => {
    val base = wapRun(s, d, Scratch.path("wap_vacuum", d))
    val referenced = wapResolve(base, None).toSet
    val filesRoot = new java.io.File(s"$base/files")
    val rows = filesRoot.listFiles().filter(_.isDirectory).sortBy(_.getName)
      .map { dir =>
        val ref = referenced.contains(dir.getPath)
        if (!ref) graft.Tables.deleteRecursively(dir)
        (s"files/${dir.getName}", ref, !ref)
      }.toSeq
    s.createDataFrame(rows).toDF("dir", "referenced", "deleted")
      .orderBy("dir")
  }

  /** SCD2 (type-2 slowly-changing dimension) merge — history-preserving
    * upsert: incoming changes CLOSE the current version (valid_to set)
    * and APPEND a new open version, so every historical fact join can
    * still resolve the dimension as-of its own time (the as-of join
    * operators are the read side of exactly this layout). One
    * broadcastable semi/anti pair + union + write; at 100 TB the dim
    * is partitioned on key ranges and only partitions containing
    * changed keys rewrite. Audit: per market segment, total version
    * rows, open rows, v1 rows, and the open-version balance sum. */
  private def sinkScd2: Q = (s, d) => {
    val base = s"$scratchRoot/scd2"
    val cust = t(s, d, "customer")
    cust.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        lit(0L).as("version"), lit(0L).as("valid_from"),
        lit(null).cast("long").as("valid_to"))
      .write.mode("overwrite").parquet(s"$base/snap0")
    // Change set: every 7th customer gets a new balance.
    val changes = cust.where(pmod(col("c_custkey"), lit(7)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal") + 100.0d).as("c_acctbal"))
    val cur = s.read.parquet(s"$base/snap0")
    val changedKeys = changes.select(col("c_custkey").as("k"))
    val merged = cur
      // close the current version of changed keys...
      .join(broadcast(changedKeys), col("c_custkey") === col("k"), "left")
      .withColumn("valid_to",
        when(col("k").isNotNull && col("valid_to").isNull, lit(1L))
          .otherwise(col("valid_to")))
      .drop("k")
      // ...and append the new open version.
      .unionByName(changes.select(col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal"), lit(1L).as("version"), lit(1L).as("valid_from"),
        lit(null).cast("long").as("valid_to")))
    merged.write.mode("overwrite").parquet(s"$base/snap1")
    s.read.parquet(s"$base/snap1")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"),
        sum(col("version")).as("n_v1"),
        dsum2(when(col("valid_to").isNull, col("c_acctbal"))).as("open_bal"))
      .orderBy("c_mktsegment")
  }

  /** Dynamic partition overwrite — INSERT OVERWRITE that replaces ONLY
    * the partitions the restatement touches: the initial load writes
    * every year; a late correction rewrites year=1995 alone, and the
    * other year partitions' files are left physically untouched (static
    * overwrite mode would truncate the whole table first — the classic
    * footgun). This is the idempotent backfill primitive at lake scale:
    * re-running a day's restatement replaces that day, never the table.
    * Audit: per-year totals — 1995 carries the +1 restatement, other
    * years prove their survival. */
  private def sinkOverwriteDynamic: Q = (s, d) => {
    val base = Scratch.path("dynover/orders", d)
    val o = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("yr"))
    // The initial multi-year load is the PRECONDITION (the table that
    // exists before any restatement) — build once per (process, input);
    // the measured operator is the dynamic overwrite below, which is
    // idempotent (same restated content every execution).
    Scratch.once(base) {
      o.write.mode("overwrite").partitionBy("yr").parquet(base)
    }
    val restated = o.where(col("yr") === 1995)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
    restated.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("yr").parquet(base)
    s.read.parquet(base)
      .groupBy("yr")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .select(col("yr").cast("long").as("yr"), col("n"), col("total"))
      .orderBy("yr")
  }

  /** Column profiling — the data-quality pass every ingest runs before
    * anything else (null fractions, cardinalities, value ranges per
    * column): ONE scan computes all per-column statistics as a single
    * wide aggregate row (Catalyst prunes to exactly the profiled
    * columns), then `stack` unpivots it to the (column, stats) long
    * form — no per-column re-scan, no driver loop. Distinct counts are
    * EXACT here to keep the oracle a hash match; at 100 TB you'd swap
    * them for approx_count_distinct/HLL (agg_approx / agg_hll_merge
    * are the demonstrated path) and keep everything else identical.
    * Min/max are rendered to strings engine-identically (integers and
    * plain ASCII only — no float formatting hazard); the text column
    * is profiled by LENGTH, payloads never aggregate. */
  private def scanProfile: Q = (s, d) => {
    val d0 = t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).cast("long").as("text_len"))
    val cols = Seq("doc_id", "lang", "source", "n_chars", "text_len")
    val aggCols = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    val wide = d0.agg(aggCols.head, aggCols.tail: _*)
    val stackExpr = cols.map { c =>
      s"'$c', nn_$c, nd_$c, mn_$c, mx_$c"
    }.mkString(s"stack(${cols.length}, ", ", ", ")")
    wide.select(col("n_rows"),
        expr(s"$stackExpr as (col_name, n_nonnull, n_distinct, min_s, max_s)"))
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        (col("n_rows") - col("n_nonnull")).as("n_null"),
        col("n_distinct"), col("min_s"), col("max_s"))
      .orderBy("col_name")
  }

  /** Incremental materialized-view maintenance (IVM) — the reason a
    * 100 TB warehouse never recomputes its standing aggregates: the MV
    * stores ALGEBRAIC partial state (count + exact decimal sum per
    * group), and a CDC delta batch folds in as
    * MV' = MV ⊕ agg(delta) — work is O(|delta| + |groups touched|),
    * independent of base-table size. True IVM consumes RETRACTIONS:
    * an UPDATE arrives as (old row, sign −1) + (new row, sign +1), so
    * sum(sign) / sum(sign·value) handle insert, delete, and update
    * uniformly, and a count whose rows merely changed stays exact.
    * The delta here is the same year-1995 +1.00 restatement
    * sink_overwrite_dynamic applies physically — this is its LOGICAL
    * twin. Oracle: full recompute over the restated table — equality
    * proves delta-maintenance ≡ recompute. Rounding happens once, on
    * the merged DECIMAL (dsum2 discipline). */
  private def mvIncremental: Q = (s, d) => {
    val o = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("yr"))
    // The standing MV (yesterday's snapshot) is the PRECONDITION —
    // built once per (process, input); the measured operator is the
    // delta aggregation + merge below.
    val mv0 = Scratch.table(s, Scratch.path("mv/orders_by_yr", d)) {
      o.groupBy("yr")
        .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("tot"))
    }
    val oldRows = o.where(col("yr") === 1995).withColumn("sign", lit(-1L))
    val newRows = o.where(col("yr") === 1995)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0d)
      .withColumn("sign", lit(1L))
    val deltaAgg = oldRows.unionByName(newRows)
      .groupBy("yr")
      .agg(sum(col("sign")).as("dn"),
        sum(col("sign") * dec(col("o_totalprice"))).as("dtot"))
    mergeMv(mv0, deltaAgg).orderBy("yr")
  }

  /** INCREMENTAL JOIN-VIEW MAINTENANCE — the bilinear delta rule
    * Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, the join-view counterpart of
    * [[mvIncremental]]'s aggregate deltas (aggregates fold deltas by
    * sign; join views EXPAND them — two different IVM algebras, both
    * needed by a real MV layer): the standing MV is yesterday's
    * orders⋈customers (the %-held-out slices are "today's" inserts).
    * Each delta leg touches a delta-sized input on at least one side —
    * the delta sides BROADCAST against the base instead of re-running
    * A′⋈B′ whole, so refresh cost is O(Δ·matching), not O(|A⋈B|).
    * Final MV provably equals the full recompute; the oracle IS the
    * full join. */
  private def mvIncrementalJoin: Q = (s, d) => {
    val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
      (dec(col("o_totalprice")) * 100).cast("long").as("cents"))
    val c = t(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val o0 = o.where(col("o_orderkey") % 10 =!= 7)
    val dO = o.where(col("o_orderkey") % 10 === 7)
    val c0 = c.where(col("c_custkey") % 10 =!= 3)
    val dC = c.where(col("c_custkey") % 10 === 3)
    def j(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      a.join(b, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"),
          col("c_mktsegment"), col("cents"))
    val mv0 = Scratch.table(s, Scratch.path("mv/join", d))(j(o0, c0))
    val delta = j(broadcast(dO), c0)
      .unionByName(j(o0, broadcast(dC)))
      .unionByName(j(broadcast(dO), broadcast(dC)))
    mv0.unionByName(delta).orderBy("o_orderkey", "c_custkey")
  }

  /** TRANSPARENT MV REWRITE ([[graft.plans.MvRewrite]]) — the consumer
    * half of the MV pair ([[mvIncremental]] is the refresh half): the
    * pricing-summary aggregate over lineitem is materialized once; a
    * freshly constructed identical query — which knows nothing about
    * the MV — goes through `MvRewrite.rewrite` with the view, which
    * swaps the whole aggregate subtree for a scan of the MV parquet
    * (PlanSpec pins: MV path scanned, lineitem NOT scanned, vs both
    * inverted without the rewrite). Decimal sums are rounded to DOUBLE
    * inside the DEFINITION (the shared-text discipline) so the parquet
    * round-trip is type-identical and the materialized output matches
    * the consumer's position-wise. */
  private def mvRewrite: Q = (s, d) => {
    def define = t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(dec(col("l_quantity"))), 2).cast("double").as("sum_qty"),
        round(sum(dec(col("l_extendedprice"))), 2).cast("double")
          .as("sum_price"),
        count(lit(1)).as("n"))
    val mv = Scratch.table(s, Scratch.path("mv/pricing", d))(define)
    MvRewrite.rewrite(define.orderBy("l_returnflag", "l_linestatus"),
      define -> mv)
  }

  /** AGGREGATE-ROLLUP SUBSUMPTION ([[graft.plans.MvRewrite]] tier 2)
    * — the MV-lattice step beyond exact plan identity: the MV
    * materializes the (returnflag × linestatus) grid of EXACT
    * integer-cent aggregates; the consumer — which knows nothing about
    * the MV — groups by returnflag ALONE, and `MvRewrite.rewrite`
    * re-aggregates the MV's grid instead of lineitem (sum→sum of
    * partial sums, count→sum of partial counts, max→max of partial
    * maxes). Exactness is why the definition aggregates CENTS: integer
    * sums re-associate freely, so the rolled-up result is provably
    * bit-identical to the direct plan and the rewrite stays invisible
    * — the oracle is simply the consumer's own SQL over lineitem
    * (float sums are excluded from the lattice for
    * precisely this reason). The /100 presentation division happens
    * in the consumer's projection, which the optimizer folds into the
    * Aggregate; the rollup carries it over the re-aggregated grid.
    * PlanSpec pins MV-scanned / lineitem-NOT-scanned for a subset
    * consumer, and both inverted without the rewrite. At
    * 100 TB this is every dashboard rollup sharing one grid-sized
    * file instead of each re-scanning the fact table. */
  private def mvRewriteRollup: Q = (s, d) => {
    def cents(c: org.apache.spark.sql.Column) =
      (dec(c) * 100).cast("long")
    def define = t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(cents(col("l_quantity"))).as("qty_c"),
        max(cents(col("l_extendedprice"))).as("max_price_c"),
        count(lit(1)).as("n"))
    val mv = Scratch.table(s, Scratch.path("mv/rollup", d))(define)
    val q = t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum(cents(col("l_quantity"))).as("qty_c"),
        max(cents(col("l_extendedprice"))).as("max_price_c"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        (col("qty_c").cast("double") / lit(100.0d)).as("sum_qty"),
        (col("max_price_c").cast("double") / lit(100.0d))
          .as("max_price"),
        col("n"))
      .orderBy("l_returnflag")
    MvRewrite.rewrite(q, define -> mv)
  }

  /** FULL outer merge of an MV snapshot (yr, n, tot) with a signed
    * delta aggregate (yr, dn, dtot): a delta group absent from the MV
    * is an INSERT (new group appears), an MV group absent from the
    * delta is untouched, and a group whose merged count reaches 0 was
    * fully deleted and must DROP — that's what makes sum(sign) handle
    * insert/update/delete uniformly. (The mv_incremental fixture delta
    * only restates 1995, so a left join would pass the gate by
    * accident of the fixture — LakeSpec pins the insert and
    * full-delete paths on synthetic frames.) */
  private[graft] def mergeMv(mv0: org.apache.spark.sql.DataFrame,
      deltaAgg: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    mv0.join(deltaAgg, Seq("yr"), "full_outer")
      .select(col("yr").cast("long").as("yr"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        round(coalesce(col("tot"), lit(0)) + coalesce(col("dtot"), lit(0)), 2)
          .cast("double").as("total"))
      .where(col("n") =!= 0L)

  /** arg-max/arg-min aggregates (`max_by`/`min_by`) + `mode` — "which
    * row holds the extreme" without a self-join or window: one hash
    * aggregate, partials carry a single (value, arg) pair per group so
    * the shuffle is O(groups) regardless of input size. (The data is
    * tie-free on the extremes at both verification SFs — checked —
    * so the result is deterministic; on tied data max_by/arg_max are
    * engine-arbitrary and would need a struct-ordering tie-break.) */
  private def aggArgmax: Q = (s, d) =>
    t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        max_by(col("o_orderkey"), col("o_totalprice")).as("top_order"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("bottom_order"),
        max(col("o_totalprice")).as("max_price"),
        mode(col("o_orderstatus")).as("common_status"))
      .orderBy("o_orderpriority")

  /** Mergeable-sketch distinct counting (Datasketches HLL): shard-level
    * sketches are built close to the data (here 8 hash shards standing
    * in for 8000 executors' partial aggregates), then UNIONED — only
    * fixed-size sketch buffers cross the shuffle, never values. This is
    * the algebraic property that makes 100 TB distinct counts cheap and
    * lets sketches be persisted per-partition and re-merged across
    * days/tables without rescanning (agg_approx is the one-shot form).
    * So that the oracle checks a row: with
    * `audit = true` (the registry key, the gate plan) the output is the
    * EXACT distinct per group plus a corridor boolean
    * (|approx − exact|/exact ≤ 5%), so the driver hash-verifies the
    * exact witness against DuckDB's independent count(DISTINCT) AND
    * the merged sketch's corridor membership. `audit = false` is the
    * production plan — sketch shards unioned, NO exact distinct
    * anywhere (that column is the one you drop at 100 TB). LakeSpec
    * keeps the numeric rel_err ≤ 5% audit on the audit-off estimates
    * and the sharded==direct merge-equality law. */
  private def aggHllMerge: Q = (s, d) => aggHllMergePlan(s, d, audit = true)

  private[graft] def aggHllMergePlan(
      s: org.apache.spark.sql.SparkSession, d: String,
      audit: Boolean): org.apache.spark.sql.DataFrame = {
    val shards = t(s, d, "orders")
      .groupBy(col("o_orderpriority"),
        pmod(col("o_custkey"), lit(8)).as("shard"))
      .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("sk"))
    val approx = shards.groupBy("o_orderpriority")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
        .as("approx_customers"))
    if (!audit) approx.orderBy("o_orderpriority")
    else {
      // Audit channel: exact distinct per group (the thing the sketch
      // replaces at scale), joined back so each row carries its
      // corridor membership. Null-safe join key: a null group would
      // silently vanish under plain equality (TPC-H o_orderpriority
      // happens to be non-null, but the audit must not depend on that).
      val exact = t(s, d, "orders").groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("exact_customers"))
      approx
        .join(exact, approx("o_orderpriority") <=> exact("o_orderpriority"))
        .select(approx("o_orderpriority"), col("exact_customers"),
          (abs(col("approx_customers") - col("exact_customers")) <=
            col("exact_customers") * 0.05d).as("within_tol"))
        .orderBy("o_orderpriority")
    }
  }

  /** Physically-tuned parquet write: ZSTD column compression (the
    * modern lake default — snappy-level speed at gzip-level ratio) and
    * a small row-group target so per-group min/max stats stay selective
    * (one giant row group per file makes stats-based skipping useless —
    * the group's span covers everything). Content neutrality is the
    * oracle; LakeSpec reads the parquet FOOTERS and asserts the codec
    * and the multi-row-group layout actually materialized. */
  private def sinkParquetTuned: Q = (s, d) => {
    t(s, d, "lineitem")
      .sort("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(tunedDir)
    s.read.parquet(tunedDir)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(col("l_orderkey") * lit(1000003L) +
          col("l_linenumber").cast("long") * lit(101L) +
          col("l_partkey")).as("row_digest"))
      .orderBy("l_linestatus")
  }

  private[graft] def tunedDir: String = s"$scratchRoot/tuned/lineitem"

  /** Parquet BLOOM-FILTER write — the point-lookup complement to
    * [[sinkParquetTuned]]'s min/max stats: stats skip row groups by
    * RANGE, but a random-valued high-cardinality key (customer id,
    * content digest) spans every group's min/max, so only a per-group
    * bloom can prove absence. Blooms are written for o_custkey only
    * (expected-NDV-sized); an equality probe for an absent key then
    * skips every row group footer-side. Content neutrality is the
    * oracle; LakeSpec opens the FOOTERS and asserts the bloom offset
    * exists for o_custkey and NOT for the un-indexed columns, and that
    * the bloom proves a planted-absent key out. Dictionary encoding is
    * disabled for the indexed column: parquet suppresses a bloom when
    * the chunk is fully dictionary-encoded (the dictionary already
    * proves membership exactly), and a test-scale key set always fits
    * the dictionary — at 100 TB real cardinality blows past the
    * dictionary page and this is the difference between a point lookup
    * reading one bloom page per group and reading every data page of a
    * 100 GB partition. */
  private def sinkParquetBloom: Q = (s, d) => {
    t(s, d, "orders")
      .sort("o_orderkey")
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_custkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_custkey", "2000")
      .option("parquet.enable.dictionary#o_custkey", "false")
      .option("parquet.block.size", (1 << 20).toString)
      .parquet(bloomDir)
    s.read.parquet(bloomDir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  private[graft] def bloomDir: String = s"$scratchRoot/tuned/orders_bloom"

  /** Raw-log text ingest — the reference's own observability files are
    * exactly this shape (log/monitor.log): render events as log LINES,
    * write via the text source, read back and re-parse with
    * regexp_extract, then aggregate. The parse stage is a codegen'd
    * map fused into the scan; lines are independently splittable. The
    * oracle computes the same aggregate from the structured source, so
    * equality proves render→parse lossless. Timestamps ride as epoch
    * µs integers (never formatted datetimes — engine-dependent), and
    * the double `value` is deliberately NOT round-tripped: float
    * formatting is engine-dependent, the one thing a log line cannot
    * carry losslessly. */
  private def scanLogs: Q = (s, d) => {
    val out = s"$scratchRoot/logs/events_txt"
    graft.Tables.events(s, d)
      .select(concat_ws(" ",
        col("ts_us"), upper(col("event_type")),
        concat(lit("user="), col("user_id")),
        concat(lit("id="), col("event_id"))).as("value"))
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .select(
        regexp_extract(col("value"), "^(\\d+) ", 1).cast("long").as("ts_us"),
        regexp_extract(col("value"), "^\\d+ (\\S+) ", 1).as("level"),
        regexp_extract(col("value"), "user=(\\d+)", 1).cast("long").as("user_id"),
        regexp_extract(col("value"), "id=(\\d+)", 1).cast("long").as("event_id"))
      .groupBy("level")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("ts_us")).as("first_us"),
        max(col("ts_us")).as("last_us"),
        sum(col("event_id")).as("id_sum"))
      .orderBy("level")
  }

  /** UNPIVOT/melt — the inverse of agg_pivot: a wide per-source metric
    * row becomes (source, metric, value) long form, the shape every
    * metrics store and plotting layer ingests. Spark's native
    * `unpivot` is a zero-shuffle 1→N row explode; the only shuffle is
    * the upstream aggregate. */
  private def aggUnpivot: Q = (s, d) => {
    val wide = t(s, d, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
    wide.unpivot(
        Array(col("source")),
        Array(col("n_docs"), col("total_chars"), col("total_tokens")),
        "metric", "value")
      .orderBy("source", "metric")
  }

  /** CDC snapshot diff — "what changed between table versions": full
    * outer join of two snapshots on the key, classify insert / update /
    * delete (unchanged rows drop out — at 100 TB the changelog is tiny
    * next to the snapshots and is what incremental consumers read).
    * One equi-join shuffle on the key; with both snapshots bucketed on
    * the key it would be shuffle-free. */
  private def scanCdc: Q = (s, d) => {
    val base = s"$scratchRoot/cdc"
    val docs = t(s, d, "documents")
    docs.where(pmod(col("doc_id"), lit(5)).isin(1, 2, 3))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$base/v0")
    // v1: %5==1 deleted, %5==0 inserted, %5==2 modified, %5==3 kept.
    docs.where(pmod(col("doc_id"), lit(5)).isin(0, 2, 3))
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(5)) === 2, col("n_chars") + 7L)
          .otherwise(col("n_chars")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$base/v1")
    val v0 = s.read.parquet(s"$base/v0")
      .select(col("doc_id"), col("n_chars").as("old_chars"))
    val v1 = s.read.parquet(s"$base/v1")
      .select(col("doc_id"), col("n_chars").as("new_chars"))
    v0.join(v1, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("old_chars").isNull, "insert")
          .when(col("new_chars").isNull, "delete")
          .when(col("old_chars") =!= col("new_chars"), "update"))
      .where(col("change").isNotNull)
      .select("doc_id", "change", "old_chars", "new_chars")
      .orderBy("doc_id")
  }

  /** ORC roundtrip scan — the third columnar format next to parquet
    * (Spark's ORC reader is vectorized and stats-pruned like parquet's,
    * so a lake standardized on ORC loses nothing). Same losslessness-
    * by-oracle mechanism as scan_csv/scan_json: the aggregate over the
    * read-back must equal the aggregate over the parquet source. */
  private def scanOrc: Q = (s, d) => {
    val out = s"$scratchRoot/formats/documents_orc"
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .orderBy("lang", "source")
  }

  /** XML roundtrip scan — Spark 4's built-in XML data source (the
    * spark-xml connector folded into spark-sql), the enterprise-feed
    * interchange format the CSV/JSON pair doesn't cover. Write with an
    * explicit rowTag, read back with a DECLARED schema (XML inference
    * is the costliest of the three text formats — every element fully
    * parsed — so at 100 TB you always declare). Each row element is
    * independently parseable, so the reader splits files on element
    * boundaries like CSV lines. Aggregate equality vs the parquet
    * source proves the markup round trip lossless — including `text`
    * through XML entity escaping (`&amp;` etc.), which is where a
    * hand-rolled XML path usually loses bytes. */
  private def scanXml: Q = (s, d) => {
    val out = s"$scratchRoot/formats/documents_xml"
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
      .write.mode("overwrite")
      .format("xml").option("rootTag", "docs").option("rowTag", "doc")
      .save(out)
    s.read.format("xml")
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .option("rowTag", "doc")
      .load(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("doc_id")).as("id_digest"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .orderBy("lang")
  }

  /** Corrupt-file SKIP on the columnar path (`ignoreCorruptFiles`) —
    * ingest_quarantine's sibling for binary formats: at 100 TB a
    * torn/fsync-truncated parquet file in a million-file table is a
    * WHEN, not an if, and the job must degrade to "skip and account",
    * not die. The fixture plants a garbage `.parquet` (no PAR1 magic)
    * among 4 valid shards; the read is scoped with a per-relation
    * option (no global conf mutation) and must return exactly the
    * valid shards' rows — which hold the full table, so the oracle is
    * the plain aggregate over the source. */
  private def scanCorruptSkip: Q = (s, d) => {
    // The junk file is planted before the commit, so the fixture is
    // never readable without it.
    val out = Scratch.committed(Scratch.path("formats/corrupt_skip", d)) { tmp =>
      t(s, d, "documents").select("doc_id", "lang", "n_chars")
        .repartition(4).write.mode("overwrite").parquet(tmp)
      java.nio.file.Files.write(
        new java.io.File(tmp, "part-99999-junk.parquet").toPath,
        Array.fill[Byte](4096)(0x5a))
    }
    s.read.option("ignoreCorruptFiles", "true").parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_digest"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  /** Fact ⋈ SCD2 dimension AS-OF the fact's event time — the query
    * every history-preserving dimension exists FOR (sink_scd2 builds
    * the layout; this op consumes it): each order joins the customer
    * segment version whose [valid_from, valid_to) span covers the
    * order date. Plan note: this is the one range-join case where the
    * equi-join-plus-residual IS the right plan — versions per key are
    * BOUNDED (3 here; single digits in any real dimension), so the
    * per-key candidate set never explodes the way join_range's
    * per-user event history does; no grid blocking needed, and the
    * dimension side broadcasts. The version timeline is synthesized
    * (epoch boundaries 1997/1999, segment derived from the version)
    * so the oracle can re-derive each order's version closed-form —
    * proving the BETWEEN join resolves every order to exactly one
    * version. */
  private def joinScd2Asof: Q = (s, d) => {
    val b1 = 852076800L // 1997-01-01T00:00Z epoch seconds
    val b2 = 915148800L // 1999-01-01T00:00Z
    val hist = t(s, d, "customer").select(col("c_custkey"))
      .select(col("c_custkey"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("version"))
      .withColumn("valid_from",
        when(col("version") === 0, Long.MinValue)
          .when(col("version") === 1, b1).otherwise(b2))
      .withColumn("valid_to",
        when(col("version") === 0, b1)
          .when(col("version") === 1, b2).otherwise(Long.MaxValue))
      .withColumn("segment", concat(lit("tier_"), col("version")))
    val o = t(s, d, "orders").select(col("o_custkey"),
      unix_timestamp(col("o_orderdate")).as("od_s"),
      col("o_totalprice"))
    o.join(broadcast(hist),
        col("o_custkey") === col("c_custkey") &&
          col("od_s") >= col("valid_from") &&
          col("od_s") < col("valid_to"))
      .groupBy("version", "segment")
      .agg(count(lit(1)).as("n_orders"),
        count_distinct(col("o_custkey")).as("n_customers"),
        round(sum(dec(col("o_totalprice"))), 2).cast("double")
          .as("revenue"))
      .orderBy("version")
  }

  /** Deterministic Avro fixture: the documents table written as Avro
    * object-container files BY AVRO-CORE (the real producer — proving
    * [[graft.expr.AvroRows]] reads genuine Avro bytes), EXECUTOR-SIDE:
    * each of 4 hash partitions writes its own container via
    * foreachPartition, alternating the spec's two required codecs
    * (null / deflate) by partition id — the distributed-sink shape, no
    * driver collect. */
  private[graft] def buildAvroFixture(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    // The executor-side container writers target the store's temp
    // dir; the commit after the job is the only point the fixture
    // becomes visible.
    Scratch.committed(Scratch.path("formats/documents_avro", d)) { tmp =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("text"))
        .repartition(4, col("doc_id"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val schema = new org.apache.avro.Schema.Parser().parse(
            """{"type":"record","name":"Doc","fields":[
                 {"name":"doc_id","type":"long"},
                 {"name":"lang","type":"string"},
                 {"name":"source","type":"string"},
                 {"name":"n_chars","type":"long"},
                 {"name":"text","type":"string"}]}""")
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          if (pid % 2 == 1) w.setCodec(
            org.apache.avro.file.CodecFactory.deflateCodec(6))
          w.create(schema, new java.io.File(tmp, f"part-$pid%02d.avro"))
          it.foreach { r =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("doc_id", r.getLong(0)); rec.put("lang", r.getString(1))
            rec.put("source", r.getString(2)); rec.put("n_chars", r.getLong(3))
            rec.put("text", r.getString(4))
            w.append(rec)
          }
          w.close()
        }
    }
  }

  /** Avro container scan — the ROW-interchange format next to the
    * columnar pair (Kafka archive dumps, CDC topic drains, legacy
    * Hadoop corpora): binaryFile scan → [[graft.expr.AvroRows]]
    * explode (hand-rolled OCF parser: metadata map, per-block
    * VERIFIED sync markers, null+deflate codecs, hand-decoded Avro
    * binary records — avro-core is used only as the independent
    * fixture PRODUCER and the spec's cross-validation reader). Same
    * losslessness-by-oracle mechanism as scan_csv/scan_orc/scan_xml:
    * the aggregate over the read-back must equal the aggregate over
    * the parquet source — id digest + char totals catch any dropped
    * row, re-ordered field, or mis-decoded varint. Scale shape: one
    * container = one task (like gzip, OCF is processed per file here,
    * though the per-block sync markers are exactly what lets a
    * cluster reader split large containers); record bytes never
    * shuffle — only the O(langs) aggregate does. */
  private def scanAvro: Q = (s, d) => {
    val dir = buildAvroFixture(s, d)
    s.read.format("binaryFile").option("pathGlobFilter", "*.avro").load(dir)
      .select(explode(graft.expr.AvroRows.avro_docs(col("content"))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        col("r.n_chars").as("n_chars"), col("r.text").as("text"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_digest"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .orderBy("lang")
  }

  /** Compressed-text roundtrip scan: JSON-lines under GZIP, the shape
    * most web-corpus drops actually arrive in. The write pre-shards
    * (repartition(8)) because gzip is NOT splittable — one file is one
    * task forever, so at 100 TB the ingest parallelism is exactly the
    * file count and the upstream writer must size shards accordingly
    * (or use a splittable codec; parquet/ORC pages compress internally
    * and never have this problem — this operator documents the text
    * legacy path). Read-back is codec-transparent (extension-dispatched
    * Hadoop codec), schema declared as always. */
  private def scanCompressed: Q = (s, d) => {
    val out = s"$scratchRoot/formats/documents_jsonl_gz"
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
      .repartition(8)
      .write.mode("overwrite").option("compression", "gzip").json(out)
    s.read
      .schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, text STRING")
      .json(out)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text"))).as("total_text_len"))
      .orderBy("source")
  }

  /** Parquet MODULAR ENCRYPTION sink — the encrypted-lake write path
    * (parquet-format PME): footer encrypted under one master key,
    * `o_totalprice` pages under a second, via parquet-hadoop's real
    * AES-GCM module crypto + envelope key wrapping against the
    * [[graft.sources.InMemoryKms]] key seam. Everything travels as
    * PER-RELATION datasource options (Spark folds them into the
    * per-query Hadoop conf), so no global session conf is mutated and
    * the returned DataFrame stays self-contained for any later action.
    * The oracle aggregates the decrypted read-back against the
    * plaintext source — equality proves the encrypt→decrypt round trip
    * lossless; LakeSpec proves the ciphertext is real (PARE magic, read
    * without keys fails, flipped byte fails GCM). At 100 TB this is
    * per-file parallel exactly like any parquet write — the only
    * central piece is the KMS, hit once per writer for key wrapping. */
  private[graft] val cryptoConf: Map[String, String] = Map(
    "parquet.crypto.factory.class" ->
      "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
    "parquet.encryption.kms.client.class" -> "graft.sources.InMemoryKms",
    graft.sources.InMemoryKms.KeyListProp ->
      graft.sources.InMemoryKms.testKeyList)
  private[graft] def encryptedDir: String =
    s"$scratchRoot/formats/orders_encrypted"
  private def sinkParquetEncrypted: Q = (s, d) => {
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .write.mode("overwrite")
      .options(cryptoConf)
      .option("parquet.encryption.footer.key", "kf")
      .option("parquet.encryption.column.keys", "kc:o_totalprice")
      .parquet(encryptedDir)
    s.read.options(cryptoConf).parquet(encryptedDir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_custkey")).as("cust_digest"),
        round(sum(dec(col("o_totalprice"))), 2).cast("double").as("total"))
      .orderBy("o_orderpriority")
  }


  /** SNAPSHOT DIFF — derive change-data (insert/delete/update rows)
    * between two table versions, the INVERSE of scan_cdc (which APPLIES
    * a supplied change log): v1 = yesterday's snapshot (keys ≡ 3 mod 17
    * absent), v2 = today's (keys ≡ 7 mod 19 dropped, prices bumped
    * +100.00 where key ≡ 5 mod 13 — all deterministic synthesis, the
    * dedup_url discipline). One full-outer join on the key, changed-row
    * filter, tri-state classification. At 100 TB the join is the
    * bucketed-by-key co-located diff and file-level min/max stats prune
    * the unchanged majority before any row is read; the +100.0 bump is
    * IEEE-exact on 2-decimal doubles so equality survives both
    * engines. */
  private def lakeDiff: Q = (s, d) => {
    val o = t(s, d, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    val v1 = o.where(pmod(col("k"), lit(17)) =!= 3)
      .select(col("k"), col("p").as("p_old"))
    val v2 = o.where(pmod(col("k"), lit(19)) =!= 7)
      .select(col("k"),
        when(pmod(col("k"), lit(13)) === 5, col("p") + 100.0)
          .otherwise(col("p")).as("p_new"))
    v1.join(v2, Seq("k"), "full_outer")
      .where(col("p_old").isNull || col("p_new").isNull ||
        col("p_old") =!= col("p_new"))
      .select(col("k").as("o_orderkey"),
        when(col("p_old").isNull, "insert")
          .when(col("p_new").isNull, "delete")
          .otherwise("update").as("change"),
        col("p_old"), col("p_new"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, Q] = Map(
    "lake_diff" -> lakeDiff,
    "scan_manifest_prune" -> scanManifestPrune,
    "scan_orc" -> scanOrc,
    "scan_logs" -> scanLogs,
    "agg_unpivot" -> aggUnpivot,
    "scan_cdc" -> scanCdc,
    "sink_parquet_tuned" -> sinkParquetTuned,
    "sink_parquet_bloom" -> sinkParquetBloom,
    "sink_parquet_encrypted" -> sinkParquetEncrypted,
    "scan_csv" -> scanCsv,
    "scan_json" -> scanJson,
    "scan_xml" -> scanXml,
    "scan_avro" -> scanAvro,
    "join_scd2_asof" -> joinScd2Asof,
    "scan_corrupt_skip" -> scanCorruptSkip,
    "scan_compressed" -> scanCompressed,
    "scan_dpp" -> scanDpp,
    "sink_scd2" -> sinkScd2,
    "sink_overwrite_dynamic" -> sinkOverwriteDynamic,
    "mv_incremental" -> mvIncremental,
    "mv_incremental_join" -> mvIncrementalJoin,
    "mv_rewrite" -> mvRewrite,
    "mv_rewrite_rollup" -> mvRewriteRollup,
    "scan_profile" -> scanProfile,
    "agg_argmax" -> aggArgmax,
    "agg_hll_merge" -> aggHllMerge,
    "sink_wap" -> sinkWap,
    "scan_snapshot" -> scanSnapshot,
    "sink_vacuum" -> sinkVacuum,
    "scan_agg_pushdown" -> scanAggPushdown,
  )

  val oracles: Map[String, String] = Map(
    // Same deterministic version synthesis, same full-outer diff.
    "lake_diff" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
           v1 AS (SELECT k, p AS p_old FROM o WHERE k % 17 <> 3),
           v2 AS (SELECT k,
                    CASE WHEN k % 13 = 5 THEN p + 100.0 ELSE p END AS p_new
                  FROM o WHERE k % 19 <> 7)
         SELECT coalesce(v1.k, v2.k) AS o_orderkey,
                CASE WHEN v1.k IS NULL THEN 'insert'
                     WHEN v2.k IS NULL THEN 'delete'
                     ELSE 'update' END AS change,
                p_old, p_new
         FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
         WHERE v1.k IS NULL OR v2.k IS NULL OR p_old <> p_new
         ORDER BY o_orderkey""",
    // Published table = the two audited batches, entirely; the
    // rejected third batch must contribute nothing.
    "sink_wap" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey % 10 <= 1 ORDER BY o_orderkey""",
    // AS OF v1 = exactly the first published batch.
    "scan_snapshot" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders WHERE o_orderkey % 10 = 0 ORDER BY o_orderkey""",
    // Pushdown only changes WHERE the aggregate is answered (footers
    // vs data pages) — the result is the plain aggregate.
    "scan_agg_pushdown" ->
      """SELECT count(*) AS n,
                min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
                min(l_linenumber) AS min_ln, max(l_linenumber) AS max_ln
         FROM lineitem""",
    // The sweep outcome is protocol-determined, SF-independent: v1/v2
    // published and kept, the failed commit's staging dir deleted.
    "sink_vacuum" ->
      """SELECT dir, referenced, deleted FROM (VALUES
           ('files/v1', true, false),
           ('files/v2', true, false),
           ('files/v3', false, true)) t(dir, referenced, deleted)
         ORDER BY dir""",
    // Manifest pruning only changes WHICH FILES are opened; the
    // residual filter makes the result the plain filtered aggregate.
    "scan_manifest_prune" ->
      """SELECT l_returnflag, count(*) AS n,
                sum(l_quantity)::BIGINT AS sum_qty,
                min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
         FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
         GROUP BY l_returnflag ORDER BY l_returnflag""",
    "scan_orc" ->
      """SELECT lang, source, count(*) AS n,
                sum(n_chars)::BIGINT AS total_chars,
                sum(length(text))::BIGINT AS total_text_len
         FROM documents GROUP BY lang, source ORDER BY lang, source""",
    // Oracle computes from the STRUCTURED source: equality proves the
    // log render→parse roundtrip lossless.
    "scan_logs" -> {
      val us = duckTsUs("ts")
      s"""SELECT upper(event_type) AS level, count(*) AS n,
                 count(DISTINCT user_id) AS n_users,
                 min($us) AS first_us, max($us) AS last_us,
                 sum(event_id)::BIGINT AS id_sum
          FROM events GROUP BY 1 ORDER BY level"""
    },
    "agg_unpivot" ->
      """WITH w AS (
           SELECT source, count(*)::BIGINT AS n_docs,
                  sum(n_chars)::BIGINT AS total_chars,
                  sum(len(string_split(text, ' ')))::BIGINT AS total_tokens
           FROM documents GROUP BY source)
         SELECT source, metric, value FROM (
           SELECT source, 'n_docs' AS metric, n_docs AS value FROM w
           UNION ALL
           SELECT source, 'total_chars', total_chars FROM w
           UNION ALL
           SELECT source, 'total_tokens', total_tokens FROM w)
         ORDER BY source, metric""",
    "scan_cdc" ->
      """SELECT doc_id, change, old_chars, new_chars FROM (
           WITH v0 AS (SELECT doc_id, n_chars AS old_chars FROM documents
                       WHERE doc_id % 5 IN (1, 2, 3)),
                v1 AS (SELECT doc_id,
                              CASE WHEN doc_id % 5 = 2 THEN n_chars + 7
                                   ELSE n_chars END AS new_chars
                       FROM documents WHERE doc_id % 5 IN (0, 2, 3))
           SELECT coalesce(v0.doc_id, v1.doc_id) AS doc_id,
                  CASE WHEN old_chars IS NULL THEN 'insert'
                       WHEN new_chars IS NULL THEN 'delete'
                       WHEN old_chars != new_chars THEN 'update'
                  END AS change,
                  old_chars, new_chars
           FROM v0 FULL OUTER JOIN v1 ON v0.doc_id = v1.doc_id)
         WHERE change IS NOT NULL ORDER BY doc_id""",
    // Oracle is the SOURCE table: the tuned physical layout must be
    // content-neutral.
    "sink_parquet_tuned" ->
      """SELECT l_linestatus, count(*) AS n,
                sum(l_quantity)::BIGINT AS sum_qty,
                sum(l_orderkey * 1000003 + l_linenumber::BIGINT * 101
                    + l_partkey)::BIGINT AS row_digest
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "sink_parquet_bloom" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE
                  AS total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // Decrypted read-back vs the plaintext source: equality proves the
    // encrypt→decrypt round trip lossless (the ciphertext-is-real
    // proofs live in LakeSpec).
    "sink_parquet_encrypted" ->
      """SELECT o_orderpriority, count(*) AS n,
                sum(o_custkey)::BIGINT AS cust_digest,
                round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE
                  AS total
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // Roundtrip oracles read the SOURCE parquet: equality proves the
    // interchange-format write+read lossless.
    "scan_csv" ->
      """SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS total_chars,
                sum(length(text))::BIGINT AS total_text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    "scan_json" ->
      """SELECT source, count(*) AS n, sum(n_chars)::BIGINT AS total_chars,
                sum(length(text))::BIGINT AS total_text_len
         FROM documents GROUP BY source ORDER BY source""",
    "scan_xml" ->
      """SELECT lang, count(*) AS n, sum(doc_id)::BIGINT AS id_digest,
                sum(n_chars)::BIGINT AS total_chars,
                sum(length(text))::BIGINT AS total_text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    // The valid shards hold the full table; only the planted garbage
    // file is skipped.
    "scan_corrupt_skip" ->
      """SELECT lang, count(*)::BIGINT AS n,
                sum(doc_id)::BIGINT AS id_digest,
                sum(n_chars)::BIGINT AS total_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    // The oracle derives each order's version CLOSED-FORM from the
    // boundaries — proving the engine's BETWEEN join resolves every
    // order to exactly one version.
    "join_scd2_asof" ->
      s"""WITH v AS (SELECT o_custkey, o_totalprice,
                            CASE WHEN ${graft.Tables.duckUsS("o_orderdate")}
                                      < 852076800 THEN 0
                                 WHEN ${graft.Tables.duckUsS("o_orderdate")}
                                      < 915148800 THEN 1
                                 ELSE 2 END::BIGINT AS version
                     FROM orders)
         SELECT version, 'tier_' || version AS segment,
                count(*)::BIGINT AS n_orders,
                count(DISTINCT o_custkey)::BIGINT AS n_customers,
                round(sum(o_totalprice::DECIMAL(18,4)), 2)::DOUBLE AS revenue
         FROM v GROUP BY version ORDER BY version""",
    "scan_avro" ->
      """SELECT lang, count(*) AS n, sum(doc_id)::BIGINT AS id_digest,
                sum(n_chars)::BIGINT AS total_chars,
                sum(length(text))::BIGINT AS total_text_len
         FROM documents GROUP BY lang ORDER BY lang""",
    "scan_compressed" ->
      """SELECT source, count(*) AS n, min(doc_id) AS min_id,
                max(doc_id) AS max_id, sum(n_chars)::BIGINT AS total_chars,
                sum(length(text))::BIGINT AS total_text_len
         FROM documents GROUP BY source ORDER BY source""",
    "scan_dpp" ->
      """SELECT year(o_orderdate)::INT AS o_year, count(*) AS n,
                round(sum(o_totalprice::DECIMAL(18,4)), 2)::DOUBLE AS total_price
         FROM orders WHERE year(o_orderdate) IN (2000, 2001)
         GROUP BY 1 ORDER BY o_year""",
    // The restatement only re-prices 1995 (+1 per order); the other
    // partitions must read back unchanged (LakeSpec pins the files
    // physically untouched).
    "sink_overwrite_dynamic" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, count(*) AS n,
                round(sum(CAST(o_totalprice
                               + CASE WHEN year(o_orderdate) = 1995
                                      THEN 1.0 ELSE 0.0 END
                               AS DECIMAL(18,4))), 2)::DOUBLE AS total
         FROM orders GROUP BY 1 ORDER BY yr""",
    // Per-column UNION ALL mirror of the one-scan stack profile;
    // min/max rendered ::VARCHAR (integers and plain ASCII only).
    "scan_profile" -> {
      val cols = Seq("doc_id", "lang", "source", "n_chars", "text_len")
      val perCol = cols.map { c =>
        s"""SELECT '$c' AS col_name, n_rows, nn_$c AS n_nonnull,
                   nd_$c AS n_distinct, mn_$c AS min_s, mx_$c AS max_s
            FROM w"""
      }.mkString(" UNION ALL ")
      val wideAggs = cols.map { c =>
        s"""count($c) AS nn_$c, count(DISTINCT $c) AS nd_$c,
            min($c)::VARCHAR AS mn_$c, max($c)::VARCHAR AS mx_$c"""
      }.mkString(", ")
      s"""WITH d0 AS (SELECT doc_id, lang, source, n_chars,
                             length(text)::BIGINT AS text_len
                      FROM documents),
           w AS (SELECT count(*) AS n_rows, $wideAggs FROM d0)
          SELECT col_name, n_rows, n_nonnull, n_rows - n_nonnull AS n_null,
                 n_distinct, min_s, max_s
          FROM ($perCol) ORDER BY col_name"""
    },
    // Full join recompute: equality proves the three-leg bilinear
    // delta (ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB) rebuilt exactly the view.
    "mv_incremental_join" ->
      """SELECT o_orderkey, c_custkey, c_mktsegment,
                CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100
                  AS BIGINT) AS cents
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey, c_custkey""",
    // Full recompute over the restated table: equality proves the
    // delta-merge maintenance path ≡ recompute. The CASE adds the
    // restatement on the DOUBLE before the decimal cast, exactly as
    // the Spark delta builds dec(o_totalprice + 1.0d).
    "mv_incremental" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, count(*) AS n,
                round(sum(CAST(o_totalprice
                               + CASE WHEN year(o_orderdate) = 1995
                                      THEN 1.0 ELSE 0.0 END
                               AS DECIMAL(18,4))), 2)::DOUBLE AS total
         FROM orders GROUP BY 1 ORDER BY yr""",
    // The DEFINITION's semantics — the rewrite must be result-invisible,
    // so the oracle is simply the aggregate the MV materializes.
    "mv_rewrite" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)::DOUBLE
                  AS sum_qty,
                round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE
                  AS sum_price,
                count(*) AS n
         FROM lineitem GROUP BY 1, 2
         ORDER BY l_returnflag, l_linestatus""",
    // The CONSUMER's semantics — the rollup rewrite must be
    // result-invisible, so the oracle is the subset-group aggregate
    // straight over lineitem (integer cents keep both plans exact).
    "mv_rewrite_rollup" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,4)) * 100
                     AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
                CAST(max(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
                     AS BIGINT)) AS DOUBLE) / 100 AS max_price,
                count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "sink_scd2" ->
      """WITH v AS (
           SELECT c_custkey, c_mktsegment, c_acctbal,
                  0 AS version,
                  CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE NULL END AS valid_to
           FROM customer
           UNION ALL
           SELECT c_custkey, c_mktsegment, c_acctbal + 100.0, 1, NULL
           FROM customer WHERE c_custkey % 7 = 0)
         SELECT c_mktsegment, count(*) AS n_rows,
                count(*) FILTER (WHERE valid_to IS NULL) AS n_open,
                sum(version)::BIGINT AS n_v1,
                round(sum(CASE WHEN valid_to IS NULL
                          THEN c_acctbal::DECIMAL(18,4) END), 2)::DOUBLE AS open_bal
         FROM v GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "agg_argmax" ->
      """SELECT o_orderpriority, count(*) AS n,
                arg_max(o_orderkey, o_totalprice) AS top_order,
                arg_min(o_orderkey, o_totalprice) AS bottom_order,
                max(o_totalprice) AS max_price,
                mode(o_orderstatus) AS common_status
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // agg_hll_merge gate output (audit ON) = exact witness + corridor
    // boolean: DuckDB independently recomputes the exact distinct, and
    // the TRUE pin asserts the merged sketch landed within 5% of it —
    // a drifting sketch flips the boolean and fails the hash, so the
    // key is checked, not rows-only. Numeric tolerance + merge
    // equality stay pinned in LakeSpec on the audit-off estimates.
    "agg_hll_merge" ->
      """SELECT o_orderpriority,
                count(DISTINCT o_custkey)::BIGINT AS exact_customers,
                TRUE AS within_tol
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
  )
}
