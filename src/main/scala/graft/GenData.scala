package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic distributed datagen for sf1-shaped test tables.
  *
  * `/root/testdata` tops out at sf0.1, so the 100×-scale claims for the
  * engine's iterative/blocked plans rested on analysis. This main
  * produces the same 10-table star schema (TESTDATA.md) at any SF so
  * SCALING.md can measure per-key scaling exponents and the oracle gate
  * can cross-check two orders of magnitude above the sf0.01 gate.
  *
  * Design: every value is a pure function of the row id via xxhash64 —
  * no RNG state, no driver-side loops, no window over a global order —
  * so generation is embarrassingly parallel, reproducible under any
  * partitioning, and the SAME row values appear at every SF prefix
  * (sf-invariant ids). Row counts and value distributions mirror the
  * driver data measured at sf0.01/sf0.1 (users ∝ sf, docs 50 K·sf,
  * vecs 500·(100·sf)^0.602 — the observed sub-linear embedding curve,
  * planted exact-dup docs at the observed ~0.16% rate, 'dup' marker in
  * ~5% of docs, monotone event timestamps over the same 30-day window).
  *
  * Usage: runMain graft.GenData <outDir> <sf> (e.g. target/testdata/sf1 1.0)
  */
object GenData {
  /** `--real` realism mode: the default mode mirrors the
    * driver data's measured distributions EXACTLY (uniform part draws,
    * 30-word closed vocabulary) — right for oracle cross-checks, but
    * it understates two structures real corpora have: Zipf-tailed
    * vocabulary (most shingles RARE — what rare-first prefix filters
    * and df caps exploit) and head-heavy item popularity (what makes
    * the repeat-co-purchase graph non-vacuous at scale). --real mixes
    * 20% mid-pool and 10% corpus-scaled rare-pool tokens into document
    * text and draws l_partkey with a u² head so SCALING.md can measure
    * the shingle and graph families on data shaped like production. */

  /** Per-table hash domain: without it, customer and
    * supplier drew nationkey/acctbal from the SAME (id, salt) stream,
    * so row id k carried identical values in both tables — an
    * unintended cross-table correlation in the generated data.
    * [[writeTable]] sets the tag BEFORE its by-name df argument is
    * constructed (table construction is sequential driver code, so the
    * var is race-free), and every uniform draw mixes it into the hash
    * so each table samples an independent stream. */
  private var tableTag: String = ""

  /** Uniform double in [0,1) derived from (table, id, salt). */
  private def u(salt: Int): Column =
    (xxhash64(lit(tableTag), col("id"), lit(salt))
      .bitwiseAND(lit(Long.MaxValue)))
      .cast("double") / 9.223372036854776e18

  /** Uniform long in [0, n) derived from (table, id, salt). */
  private def ui(salt: Int, n: Long): Column =
    pmod(xxhash64(lit(tableTag), col("id"), lit(salt)), lit(n))

  private def pick(salt: Int, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), (ui(salt, vals.size) + 1).cast("int"))

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val outDir = if (pos.length > 0) pos(0) else "target/testdata/sf1"
    val sf = if (pos.length > 1) pos(1).toDouble else 1.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.build(cpus, "-gen")
    write(spark, outDir, sf, realism = args.contains("--real"),
      hot = args.contains("--hot"))
    spark.stop()
  }

  /** One bare parquet FILE per table (the driver-data shape): write the
    * dataframe as a single-file directory, then move the part file.
    * coalesce(1) serializes the WRITE only (generation upstream is
    * fully parallel) and is deliberate fidelity to TESTDATA.md's
    * one-file-per-table layout; generating much beyond sf1, drop the
    * coalesce and write a partitioned directory instead. */
  private def writeTable(df: => DataFrame, outDir: String, name: String): Unit = {
    tableTag = name // must precede construction of the by-name df
    val tmp = s"$outDir/_gen_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val dst = new java.io.File(s"$outDir/$name.parquet")
    if (dst.exists()) dst.delete()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    Tables.deleteRecursively(new java.io.File(tmp))
  }

  /** `--hot` adversarial mode: deliberately
    * DEGENERATE key distributions that the gen/real legs never draw,
    * for worst-case slope legs of the skew-sensitive operators.
    * - part: HALF of all parts carry ONE brand at ONE price point —
    *   the skyline peer frame's worst case (a single (brand, cents)
    *   tie group holding 50% of the table).
    * - lineitem: HALF of all lines hit ONE part — the max-degree
    *   co-purchase hub, which is exactly where graph_ppr's teleport
    *   seed lands (deterministic max-degree pick).
    * Composable with --real; used by tools/scaling.py --variant=hot. */
  def write(spark: SparkSession, outDir: String, sf: Double,
      realism: Boolean = false, hot: Boolean = false): Unit = {
    new java.io.File(outDir).mkdirs()
    val nCust = math.max(1, (150000 * sf).toLong)
    val nPart = math.max(1, (200000 * sf).toLong)
    val nSupp = math.max(1, (10000 * sf).toLong)
    val nOrd = math.max(1, (1500000 * sf).toLong)
    val nLi = math.max(1, (6000000 * sf).toLong)
    val nEv = math.max(1, (1000000 * sf).toLong)
    val nUsers = math.max(1, (15000 * sf).toLong)
    val nDoc = math.max(1, (50000 * sf).toLong)
    val nVec = math.max(1, math.round(500.0 * math.pow(100 * sf, 0.602)))
    def range(n: Long) = spark.range(0, n, 1,
      math.max(spark.sparkContext.defaultParallelism, 1))

    writeTable(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1)
        .as("r_name")), outDir, "region")

    writeTable(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), outDir, "nation")

    writeTable(range(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id"), 9, "0")).as("c_name"),
      ui(1, 25).cast("int").as("c_nationkey"),
      round(u(2) * 10000.0, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), outDir, "customer")

    writeTable(range(nSupp).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id"), 9, "0")).as("s_name"),
      ui(1, 25).cast("int").as("s_nationkey"),
      round(u(2) * 10000.0, 2).as("s_acctbal")), outDir, "supplier")

    writeTable(range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(1, Seq("large", "small", "hot", "cold", "dark", "light",
          "metallic", "plated")),
        pick(2, Seq("ring", "bolt", "screw", "washer", "anchor", "plate",
          "rod", "spring"))).as("p_name"),
      // --hot: even part ids collapse onto ONE brand at ONE price —
      // a single (brand, cents) skyline tie group with 50% of parts.
      (if (hot) when(col("id") % 2 === 0, lit("Brand#0"))
        .otherwise(concat(lit("Brand#"), ui(3, 25)))
      else concat(lit("Brand#"), ui(3, 25))).as("p_brand"),
      pick(4, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
        "PROMO")).as("p_type"),
      (ui(5, 50) + 1).cast("int").as("p_size"),
      (if (hot) when(col("id") % 2 === 0, lit(999.99))
        .otherwise(round(lit(900.0) + col("id") * 0.1, 2))
      else round(lit(900.0) + col("id") * 0.1, 2)).as("p_retailprice")),
      outDir, "part")

    writeTable(range(nOrd).select(col("id").as("o_orderkey"),
      ui(1, nCust).as("o_custkey"),
      pick(2, Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(3) * 499000.0, 2).as("o_totalprice"),
      (lit("1995-01-01").cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0), ui(4, 2405).cast("int"))).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), outDir, "orders")

    // Uniform random order assignment (the measured shape: per-order
    // line counts ~ Binomial(nLi, 1/nOrd) ≈ Poisson(4), some orders
    // lineless) — NOT a per-order sequence, so no cross-row dependency.
    writeTable(range(nLi).select(ui(1, nOrd).as("l_orderkey"),
      // Realism: u² head for Zipf-ish popularity PLUS a 64-part hot
      // pool hit by 1/64 of lines — real retail baskets have a dense
      // co-purchase core ("bread and milk"), and without one the
      // support≥2 repeat graph has no 3-core and no 2-shared-neighbor
      // pairs at ANY size (uniform and even u²-head draws spread pair
      // support too thin), leaving graph_kcore/graph_jaccard vacuous
      // in the sf1 evidence runs (SCALING.md §3 caveat).
      // 1/64 (not denser): at 1/8 each hot part rode in ~12% of
      // orders and co-occurred ≥2× with most of the u² head — 6 K-hub
      // nodes and 181 M wedge pairs at sf1, the hub-quadratic regime;
      // at 1/64 hot-hot support still concentrates (≈40% of hot pairs
      // reach support 2 at sf1 → a live 3-core) while hot-head pair
      // support stays below the threshold, so the hubs never form.
      // --hot: half of ALL lines hit part 0 — the maximal co-purchase
      // hub (graph_ppr's deterministic seed). Overrides the realism
      // draw on the hot half; the other half keeps the mode's shape.
      (if (hot)
        when(ui(26, 2) === 0, lit(0L))
          .otherwise(if (realism)
            when(ui(23, 64) === 0, ui(24, math.min(64L, nPart)))
              .otherwise((u(2) * u(22) * nPart).cast("long"))
          else ui(2, nPart))
      else if (realism)
        when(ui(23, 64) === 0, ui(24, math.min(64L, nPart)))
          .otherwise((u(2) * u(22) * nPart).cast("long"))
      else ui(2, nPart)).as("l_partkey"),
      ui(3, nSupp).as("l_suppkey"),
      (ui(4, 7) + 1).cast("int").as("l_linenumber"),
      (ui(5, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(6) * 104100.0, 2).as("l_extendedprice"),
      round(u(7) * 0.10, 2).as("l_discount"),
      round(u(8) * 0.08, 2).as("l_tax"),
      pick(9, Seq("R", "A", "N")).as("l_returnflag"),
      pick(10, Seq("O", "F")).as("l_linestatus"),
      (lit("1995-01-01").cast("timestamp") +
        make_interval(lit(0), lit(0), lit(0), ui(11, 2500).cast("int"))).as("l_shipdate")),
      outDir, "lineitem")

    // Monotone timestamps without a global cumsum: ts(i) = start +
    // i·meanGap + jitter(i), jitter ∈ [0, meanGap) ⇒ strictly
    // increasing, 30-day span at every SF (denser events, same window —
    // how real traffic scales).
    val gapUs = (30L * 86400 * 1000000) / nEv
    writeTable(range(nEv).select(col("id").as("event_id"),
      timestamp_micros((lit(1704067200000000L) + col("id") * gapUs +
        (u(1) * gapUs).cast("long")).cast("long")).as("ts"),
      ui(2, nUsers).as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(u(4) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), ui(5, 100), lit("}")).as("props")),
      outDir, "events")

    // Documents: 10-100 words from the 30-word corpus vocabulary, 'dup'
    // marker replaces word 3 in ~5% of docs, and every 625th doc is an
    // EXACT duplicate of its predecessor (the measured ~8-per-5000
    // planted-dup rate) — text is a pure function of a SEED id, so the
    // dup just reuses seed id-1.
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "the", "row", "agg", "key", "query", "scan", "batch", "a")
    def textOf(seed: Column): Column = {
      val wc = (pmod(xxhash64(seed, lit(20)), lit(91)) + 10).cast("int")
      val common = (j: Column) => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(seed, lit(21), j), lit(vocab.size)) + 1).cast("int"))
      val words =
        if (!realism) transform(sequence(lit(1), wc), j => common(j))
        else transform(sequence(lit(1), wc), j => {
          val cls = pmod(xxhash64(seed, lit(23), j), lit(10))
          when(cls < 7, common(j))
            .when(cls < 9, concat(lit("m"),
              pmod(xxhash64(seed, lit(24), j), lit(1000))))
            .otherwise(concat(lit("r"),
              pmod(xxhash64(seed, lit(25), j), lit(10L * nDoc))))
        })
      val marked = when(pmod(xxhash64(seed, lit(22)), lit(20)) === 0,
        concat(slice(words, lit(1), lit(2)), array(lit("dup")),
          slice(words, lit(4), size(words)))).otherwise(words)
      array_join(marked, " ")
    }
    writeTable(range(nDoc).select(col("id").as("doc_id"),
      textOf(when(col("id") % 625 === 1, col("id") - 1).otherwise(col("id")))
        .as("text"),
      pick(30, Seq("en", "en", "en", "en", "zh", "zh", "es", "es", "fr",
        "fr", "de", "de")).as("lang"),
      concat(lit("src"), ui(31, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      outDir, "documents")

    // Embeddings: unit-norm 64-dim, faint label signal (centroid pull
    // α=0.15 — the measured within-label cosine ≈ 0.017 regime).
    // Box-Muller gaussians from hash uniforms, centroids hash-derived
    // from the label id alone.
    def gauss(seed: Column, salt: Column): Column = {
      val u1 = (xxhash64(seed, salt, lit(40)).bitwiseAND(lit(Long.MaxValue))
        .cast("double") + 1.0) / 9.223372036854776e18
      val u2 = xxhash64(seed, salt, lit(41)).bitwiseAND(lit(Long.MaxValue))
        .cast("double") / 9.223372036854776e18
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }
    // defs, not vals: constructed INSIDE the writeTable call below so
    // the draws carry the "embeddings" table tag, not the previous
    // table's (writeTable sets the tag before its by-name argument)
    def label = ui(50, 10)
    def raw = transform(sequence(lit(0), lit(63)), i =>
      gauss(col("id"), i) + lit(0.15) * gauss(label - lit(1000000), i))
    def nrm = sqrt(aggregate(raw, lit(0.0d), (acc, x) => acc + x * x))
    writeTable(range(nVec).select(col("id").as("vec_id"),
      transform(raw, x => (x / nrm).cast("float")).as("embedding"),
      label.cast("int").as("label")), outDir, "embeddings")

    println(s"[gendata] wrote sf=$sf to $outDir: lineitem=$nLi orders=$nOrd " +
      s"events=$nEv docs=$nDoc vecs=$nVec")
  }
}
