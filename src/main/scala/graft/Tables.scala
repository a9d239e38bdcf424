package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for all graft operators.
  *
  * Conventions that make the DuckDB-oracle hash compare deterministic
  * (see SURVEY.md §5.3):
  *   - every query ends in a total-order `orderBy`;
  *   - double aggregations go through exact DECIMAL(18,4) so the sum is
  *     associative (identical across engine / partitioning / thread count);
  *   - timestamps are emitted as epoch integers, never raw timestamps
  *     (`events.ts` has shipped as both ns- and µs-precision parquet
  *     across environment refreshes; the epoch-µs domain is the stable
  *     contract — FIXTURES.md §1, [[Tables.tsUsCol]]).
  */
object Tables {
  /** Driver-contract query shape: (session, sf-dir) => result. */
  type Q = (SparkSession, String) => DataFrame

  /** Recursive delete, null-safe on racing listFiles — the one shared
    * rm -rf used by scratch reaping, streamDir resets, and the WAP
    * protocol (keep fixes here, not in per-site clones). */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }

  /** Row count of a parquet-backed DataFrame, summed from its files'
    * footers: no Spark job, for sizing a write from a scratch artifact. */
  def parquetRows(s: SparkSession, df: DataFrame): Long =
    parquetRows(s, df.inputFiles.toSeq: _*)

  /** Row count of parquet `files`, summed from their footers. */
  def parquetRows(s: SparkSession, files: String*): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    files.iterator.map { f =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try rd.getRecordCount finally rd.close()
    }.sum
  }

  /** Scratch root for sinks/checkpoints/fixtures: tmpfs when available —
    * streaming state stores fsync many small files per micro-batch, and
    * on a disk-backed /tmp those fsyncs dominate (and destabilize) every
    * streaming benchmark.
    *
    * Per-PROCESS (`p<pid>`): the sink/compact/zorder queries write and
    * re-read fixed relative paths, so two JVMs sharing one root (a
    * bench and a verify run overlapping, a straggler test JVM) race on
    * overwrite-vs-read and the read-back sees mixed content — observed
    * as rows-match/hash-mismatch on exactly the slowest sink queries.
    * Scratch from dead JVMs (and pre-pid legacy layouts) is reaped at
    * init so the tmpfs doesn't accumulate across rounds; live sibling
    * processes are left alone. */
  val scratchRoot: String = {
    val base = new java.io.File(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft"
      else "/tmp/graft")
    def rm(f: java.io.File): Unit = deleteRecursively(f)
    // Liveness probing uses /proc, so reap ONLY where /proc exists
    // (Linux): elsewhere a starting JVM would treat every live sibling
    // as dead and delete its scratch mid-query — the exact race the
    // per-pid layout prevents. Without reaping, isolation still holds;
    // only cleanup is skipped.
    val canProbeLiveness = new java.io.File("/proc/self").exists()
    if (canProbeLiveness && base.isDirectory) {
      val kids = base.listFiles()
      if (kids != null) kids.foreach { f =>
        val n = f.getName
        val isPidDir = n.startsWith("p") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit)
        val liveOwner = isPidDir &&
          new java.io.File(s"/proc/${n.drop(1)}").exists()
        if (!liveOwner) rm(f)
      }
    }
    val mine = new java.io.File(base, s"p${ProcessHandle.current().pid()}")
    mine.mkdirs()
    mine.getPath
  }

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Ensure at least default-parallelism partitions ahead of a
    * CPU-dense per-row kernel (shingling, per-char hashing, explode).
    * At 100 TB a scan arrives in thousands of splits and this is a
    * no-op; a single small parquet file (one row group — unsplittable
    * no matter what maxPartitionBytes says) otherwise pins the whole
    * kernel to ONE core: the minhash signature build measured 6.9 s
    * single-partition vs 1.4 s fanned out on local[32]. */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Schema-branched `ts_us` (epoch µs) derivation for `events.ts`.
    * The upstream writer has shipped BOTH physical encodings across
    * environment refreshes — TIMESTAMP(NANOS)-as-int64 (readable only
    * under the legacy nanosAsLong flag) and plain timestamp[us]
    * (TIMESTAMP / TIMESTAMP_NTZ) — and an engine meant for 100 TB
    * ingests whatever precision the writer emitted rather than
    * hard-coding one. Nanos branch: exact integer DIV (double division
    * would lose precision above 2^53). Timestamp branch: `unix_micros`
    * after a cast that is exact because every graft session pins
    * spark.sql.session.timeZone=UTC (NTZ→TZ cast under UTC preserves
    * the epoch value bit-for-bit). */
  def tsUsCol(dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.LongType => expr("ts DIV 1000")
    case _                                   => unix_micros(col("ts").cast("timestamp"))
  }

  /** events table with a derived `ts_us` column; downstream operators
    * use ts_us only, so they are independent of the file's physical
    * timestamp encoding (see [[tsUsCol]]). */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, dir, "events")
    raw.withColumn("ts_us", tsUsCol(raw.schema("ts").dataType))
  }

  /** Exact decimal view of a double column; sums over it are
    * order-insensitive, hence reproducible across engines. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** round(sum(decimal) as double, 2) — deterministic money sum.
    * Rounding happens on the DECIMAL (HALF_UP in both engines), never on
    * a double: Spark rounds a double's shortest decimal repr while DuckDB
    * rounds its exact binary value, so round(double) can disagree. */
  def dsum2(c: Column): Column = round(sum(dec(c)), 2).cast("double")

  /** Deterministic average: exact decimal sum, then one IEEE division —
    * both engines divide identical operands, so the raw double matches
    * bit-for-bit; no rounding needed (or safe — see dsum2). */
  def davg6(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))

  /** Deterministic rounded product of two ≤2-decimal doubles. */
  def dmul2(a: Column, b: Column): Column = round(dec(a) * dec(b), 2).cast("double")

  /** Epoch microseconds of a timestamp column (Spark-side µs domain). */
  def epochUs(c: Column): Column = unix_micros(c)

  /** Epoch seconds (floor) of a timestamp column. */
  def epochS(c: Column): Column = unix_timestamp(c)

  /** DuckDB SQL fragment: epoch µs of events.ts, valid at BOTH physical
    * precisions the writer has shipped: on ns storage `epoch_ns // 1000`
    * floors to µs exactly like Spark's `ts DIV 1000`; on µs storage
    * DuckDB still evaluates epoch_ns (= µs·1000) so the division is
    * exact. RobustnessSpec pins Spark/DuckDB equivalence at both
    * precisions. */
  def duckTsUs(col: String): String = s"(epoch_ns($col) // 1000)"

  /** DuckDB SQL fragment: epoch seconds (floor) of a ns timestamp. */
  def duckTsS(col: String): String = s"(epoch_ns($col) // 1000000000)"

  /** DuckDB SQL fragment: epoch seconds of a µs-precision timestamp. */
  def duckUsS(col: String): String = s"(epoch_us($col) // 1000000)"
}
