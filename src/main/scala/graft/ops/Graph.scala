package graft.ops

import graft.Scratch
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Graph analytics over derived relationship tables.
  *
  * A corpus-curation pipeline at 100 TB routinely needs graph
  * signals — domain authority for quality weighting (CCNet/RefinedWeb
  * curate by web-graph centrality), co-occurrence importance, near-dup
  * cluster canonicalization (dedup_cluster's connected components live
  * in ops/Llm.scala). The reference has no graph operator; this is the
  * §2b "derived operator" family's graph slot, built the Spark-first
  * way: the graph IS a DataFrame of edges, and every algorithm step is
  * a join + aggregate the optimizer can see (no RDD Pregel — each
  * iteration is a plain shuffle-on-key plan AQE can re-size).
  *
  * The graph here is part CO-PURCHASE: parts are connected when some
  * order contains both (the classic item-item graph; lineitem
  * self-join on l_orderkey). Edges are symmetric, so every node has
  * out-degree ≥ 1 and the node set is closed under iteration.
  *
  * Scale design (100 TB):
  * - Graph CONSTRUCTION is one self-equi-join on the order key — the
  *   per-order fanout is k(k−1) for a k-item order, bounded by the
  *   order-size cap in the schema (TPC-H ≤ 7). For power-law baskets
  *   you'd cap per-key fanout before the join (same df-cap discipline
  *   as dedup_ngram). The built graph is a reusable artifact shared by
  *   every downstream algorithm, so it is checkpointed once per
  *   (process, input) through [[graft.Scratch]] like the other one-time
  *   layout/model artifacts — the measured operator is the iteration.
  * - Each PageRank iteration is contribute (join ranks⋈edges on src,
  *   shuffle on dst) + combine (sum per dst) — partial aggregation is
  *   map-side, state per node is one long. Iterations re-shuffle on
  *   the SAME key, so on a cluster you'd bucket/pre-partition edges by
  *   src once and reuse the partitioning; lineage is truncated by the
  *   edge checkpoint, so plans stay O(1) per iteration.
  * - All arithmetic is INTEGER (rank mass in units of 10⁻⁹ of one
  *   initial rank; damping 0.85 as ×85 // 100; per-edge contribution
  *   rank // outdeg): both engines floor-divide identically on
  *   non-negative longs, so a 3-iteration rank is bit-exact vs DuckDB
  *   running the identical unrolled recurrence — no IEEE fold-order
  *   hazard. Long overflow headroom: 85 × total-mass must stay under
  *   2⁶³, i.e. ~10⁸ nodes at this unit; at larger node counts shrink
  *   the unit (the comparison stays exact at any unit).
  */
object Graph {

  /** Rank unit: one node's initial mass, in 10⁻⁹ units. */
  private val Scale = 1000000000L
  private val Base = 150000000L // (1 − 0.85) × Scale, exact
  private val Iters = 3

  /** Rows per write task for an iterative-state checkpoint. 4M
    * long-rows ≈ a few tens of MB of parquet per task — a healthy file
    * size that keeps small-state writes at one file while letting the
    * task count GROW LINEARLY with state rows: a 200M-node rank table
    * checkpoints through ~50 tasks, not one. A `coalesce(1)` would be
    * worse than a single-task WRITE — coalesce propagates upstream past
    * the last shuffle, so the round's aggregate itself would run at
    * parallelism 1. */
  private[graft] val ckptRowsPerTask = 4000000L
  /** Backstop against a wild row estimate (the count is one round
    * stale — see [[fixpoint]]); 20k tasks covers ~80G state rows. */
  private[graft] val ckptMaxTasks = 20000

  /** Write-task count for `rows` of iterative state: ceil(rows/4M),
    * clamped to [1, ckptMaxTasks]. Unit-pinned by GraphSpec. */
  private[graft] def ckptParts(rows: Long): Int = {
    // Overflow-safe ceiling: rows near Long.MaxValue must clamp, not
    // wrap negative (a row ESTIMATE can be garbage; the write must not).
    val ceil = rows / ckptRowsPerTask +
      (if (rows % ckptRowsPerTask > 0) 1L else 0L)
    math.min(ckptMaxTasks.toLong, math.max(1L, ceil)).toInt
  }

  /** Per-round state checkpoint: truncate lineage by materializing
    * `df` to parquet and re-reading it. The write runs at a task count
    * scaled to the state volume ([[ckptParts]]); `rows` may be one
    * round stale (an estimate sizes partitions, it never gates
    * correctness). repartition — not coalesce — so the upstream
    * aggregate keeps its full parallelism and only the final
    * kilobytes-at-test-scale exchange narrows. `observe` wraps the plan
    * above that exchange, so metrics it attaches are computed in the
    * write's own (result) stage, once per committed task. */
  private[graft] def ckpt(s: SparkSession, df: DataFrame, path: String,
      rows: Long, observe: DataFrame => DataFrame = identity): DataFrame = {
    observe(df.repartition(ckptParts(rows)))
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** Logical clock stamping each [[fixpoint]] call's start (the run id
    * in its round directories' names) and each [[publishFinal]]. */
  private val runToken = new java.util.concurrent.atomic.AtomicLong(0)

  /** Published final-round dirs per (tag, dataset), with their publish
    * stamps. */
  private val finals =
    new java.util.concurrent.ConcurrentHashMap[String, List[(String, Long)]]()

  /** Publishes `path` as the final round of a call on `owner` that
    * started at stamp `started`, and deletes the finals published
    * before that start. A result therefore stays readable until a call
    * that started after it was published has completed, so a call that
    * overlaps another never deletes the other's result; sequential
    * calls keep one final dir per (tag, dataset). */
  private def publishFinal(owner: String, path: String, started: Long): Unit = {
    var stale = List.empty[(String, Long)]
    finals.compute(owner, (_, cur) => {
      val (old, live) = Option(cur).getOrElse(Nil).partition(_._2 < started)
      stale = old
      (path, runToken.incrementAndGet()) :: live
    })
    stale.foreach(f => graft.Tables.deleteRecursively(new java.io.File(f._1)))
  }

  /** What [[fixpoint]] returns: the last round's state, the number of
    * rounds run, and the last round's stats row (its row count, then
    * the caller's aggregates in order). */
  private[graft] final case class Fixpoint(state: DataFrame, rounds: Int,
      stats: Row)

  /** The round loop behind every iterative operator. Round i (from 1)
    * computes `step(state, i)` from round i−1's state (the state
    * before the first round is `init`) and checkpoints it ([[ckpt]]) to a directory no other
    * call shares, sized by round i−1's row count (`rows0` for the first round).
    * The write carries count(*) and `stats` as an Observation, so the
    * stop test and the next round's sizing cost no job of their own.
    * Once round i has committed, round i−1's directory is deleted; the
    * last round's directory is published ([[publishFinal]]) and
    * outlives the call, so the returned state can be read lazily.
    * `stop(prev, cur, i)` ends the loop after round i, where `prev` is
    * round i−1's stats row — before the first round, `rows0` and then nulls.
    * Caps are the caller's: `require` one in `step`, or stop at it. A
    * failed round deletes this call's round directories and rethrows. */
  private[graft] def fixpoint(s: SparkSession, tag: String, d: String,
      init: DataFrame, rows0: Long)(step: (DataFrame, Int) => DataFrame)(
      stats: Column*)(stop: (Row, Row, Int) => Boolean): Fixpoint = {
    val owner = Scratch.path(s"graph/$tag", d)
    val started = runToken.incrementAndGet()
    val run = s"${owner}_r$started"
    def drop(i: Int): Unit =
      graft.Tables.deleteRecursively(new java.io.File(s"${run}_i$i"))
    var state = init
    var prev = Row.fromSeq(rows0 +: Seq.fill(stats.size)(null))
    var i = 0
    var done = false
    try while (!done) {
      i += 1
      val obs = Observation()
      state = ckpt(s, step(state, i), s"${run}_i$i", prev.getLong(0),
        _.observe(obs, count(lit(1)).as("rows"), stats: _*))
      val cur = Await.result(obs.future, Duration.Inf)
      if (i > 1) drop(i - 1)
      done = stop(prev, cur, i)
      prev = cur
    } catch {
      case e: Throwable => drop(i - 1); drop(i); throw e
    }
    publishFinal(owner, s"${run}_i$i", started)
    Fixpoint(state, i, prev)
  }

  /** Directed co-purchase edges with out-degree: (src, dst, outdeg),
    * distinct pairs, both directions. Checkpointed one-time artifact
    * (see class doc). */
  private[graft] def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Scratch.table(s, Scratch.path("graph/copurchase", d)) {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
        .distinct()
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      e.join(deg, "src")
    }

  /** Bucketed-by-src copy of [[copurchaseEdges]]: the PageRank loop
    * joins edges ⋈ ranks on src EVERY iteration, and with a
    * plain-parquet artifact each of those joins re-shuffles the full
    * O(E) edge set — at sf10 that is 3 × 240M-edge exchanges for a
    * table that never changes between iterations. Written ONCE
    * bucketed (Murmur3 on src, `spark.sql.shuffle.partitions` buckets,
    * repartition-then-sortBy → exactly one sorted file per bucket, so
    * the scan reports both hashpartitioning(src) AND per-bucket sort
    * order), the
    * per-iteration sort-merge join exchanges and sorts ONLY the O(V)
    * rank table — the join_bucketed co-location discipline applied to
    * an iterative loop. The remaining per-iteration exchange is the
    * contribution combine on dst: that one is the GRAPH CUT — without
    * replicating rank state along edges (a vertex-cut layout) those
    * partial sums must cross the wire, and partial aggregation already
    * reduces them to ≤ |dst-per-partition| rows map-side. At 100 TB
    * the bucket count scales with the edge volume (here it tracks the
    * session's shuffle parallelism); the one-time layout write is the
    * same O(E) pass the plain artifact's build already paid. */
  private[graft] def copurchaseEdgesBucketed(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    // The plain artifact is the layout's input and the fallback's
    // result; it is a separate store entry, built (once) first.
    val plain = copurchaseEdges(s, d)
    // Layout is an OPTIMIZATION, rows are the contract: if the
    // bucketed build or catalog lookup fails for any environmental
    // reason, degrade loudly to the plain-parquet artifact (identical
    // rows, per-iteration edge shuffle re-appears) rather than failing
    // the query — the GraphSpec plan pin still fails the build on a
    // persistent breakage.
    try {
      val nb = s.conf.get("spark.sql.shuffle.partitions").toInt
      // (src, dst) ONLY: outdeg repeated on every edge row would be a
      // third of the per-iteration scan bytes for a value that is a
      // function of src — the rank table carries it instead.
      Scratch.bucketed(s, "graft_graph", "copurchase_b", d) {
        plain.select(col("src"), col("dst"))
          .repartition(nb, col("src"))
          .write.bucketBy(nb, "src").sortBy("src")
      }
    } catch {
      case e: Throwable =>
        System.err.println(
          "[graft] bucketed edge layout graft_graph.copurchase_b unavailable: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage} — " +
            "falling back to the plain edge artifact")
        plain.select(col("src"), col("dst"))
    }
  }

  /** One contribute step over a (src, dst) edge table joined to a
    * rank table carrying (node, pr, outdeg) — outdeg rides the O(V)
    * rank side, not the O(E) edge rows. Shared by the loop and
    * the GraphSpec plan pin (which asserts the edge side of this join
    * arrives bucketed: no exchange, no sort). */
  private[graft] def prContribute(e2: org.apache.spark.sql.DataFrame,
      ranks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    e2.join(ranks, col("src") === col("node"))
      .select(col("dst"), expr("pr div outdeg").as("contrib"))
      .groupBy("dst")
      .agg(sum(col("contrib")).as("s"))

  /** PageRank over the co-purchase graph: 3 damped iterations of the
    * integer recurrence rank' = Base + 85·Σ_in(rank // outdeg) // 100,
    * top 20 parts by final rank. The oracle runs the IDENTICAL
    * unrolled recurrence in DuckDB — exact hash match by construction. */
  private def graphPagerank: Q = (s, d) => {
    val e2 = copurchaseEdgesBucketed(s, d)
    // The degree table is O(V) and invariant — its own scratch
    // artifact, so the first round's sizing, the rank init and the final
    // report read 20k-row parquet instead of each re-running a distinct
    // over the full O(E) edge table.
    val deg = Scratch.tableCoalesced(s, Scratch.path("graph/copurchase_deg", d)) {
      // from the PLAIN artifact — the bucketed layout is (src, dst) only
      copurchaseEdges(_, d).select(col("src"), col("outdeg")).distinct()
    }
    val degN = deg.select(col("src").as("node"), col("outdeg"))
    val init = degN.select(col("node"), lit(Scale).as("pr"), col("outdeg"))
    // Every iteration is checkpointed (one row per node): without that
    // the lineage nests, and iteration N's plan RE-RUNS iterations
    // 1..N−1 (measured 6 s → sub-second at sf0.1). Round 1's write is
    // sized by the node count, read from the degree artifact's footers.
    val pr = fixpoint(s, "pr", d, init, parquetRows(s, deg)) { (ranks, _) =>
      // Re-attach outdeg to the new rank rows via the O(V) degree
      // artifact (broadcast at test scale): every dst is also a src
      // (symmetric distinct pairs), so the inner join keeps exactly
      // the mass-receiving node set.
      prContribute(e2, ranks)
        .select(col("dst").as("node"),
          (lit(Base) + expr("(85 * s) div 100")).as("pr"))
        .join(degN, "node")
    }() { (_, _, i) => i == Iters }
    pr.state
      .select(col("node"), col("outdeg").as("n_co"), col("pr"))
      .orderBy(col("pr").desc, col("node"))
      .limit(20)
  }

  /** PERSONALIZED PageRank from the hub part — "what sells with THIS
    * product" as a stationary walk, the recommendation twin of the
    * global [[graphPagerank]]: the 15% teleport mass returns to the
    * SEED alone (the max-degree part, deterministic (outdeg DESC, id)
    * tie-break — a 1-row control-plane pick), so scores measure
    * proximity to the seed, not global centrality. Runs on the REPEAT
    * (support ≥ 2) graph, not the raw co-purchase graph: one-off
    * co-occurrences carry no recommendation signal, and the raw
    * graph's edge volume itself grows super-linearly in the degenerate
    * closed part universe (measured α 1.15/1.04 at sf10 on gen/real —
    * the same reason jaccard/kcore/closeness run support-pruned; the
    * global pagerank deliberately keeps the raw graph as the
    * edge-volume slope representative). Identical all-
    * integer fixed-point discipline (Scale-scaled longs, integer div —
    * no float fold anywhere, exact-hash trivially), identical
    * per-iteration materialization (lineage reset), same 3 unrolled
    * iterations in the oracle. */
  private def graphPpr: Q = (s, d) => {
    def directed(ss: SparkSession): DataFrame = {
      val und = repeatCopurchaseEdges(ss, d)
      und.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    }
    // deg and the degree-annotated edge table are invariant inputs to
    // every iteration AND the seed/init/final control reads —
    // materialize once like the pagerank artifacts, so the union+degree
    // shuffle does not re-run per consumer.
    val degPath = Scratch.path("graph/ppr_deg", d)
    val deg = Scratch.tableCoalesced(s, degPath) {
      directed(_).groupBy("src").agg(count(lit(1)).as("outdeg"))
    }
    val e2 = Scratch.tableCoalesced(s, Scratch.path("graph/ppr_e2", d)) { cs =>
      directed(cs).join(cs.read.parquet(degPath), "src")
    }
    val seed = deg.orderBy(col("outdeg").desc, col("src"))
      .limit(1).collect()(0).getLong(0)
    val init = deg.select(col("src").as("node"),
      when(col("src") === seed, lit(Scale)).otherwise(lit(0L)).as("pr"))
    val ppr = fixpoint(s, "ppr", d, init, parquetRows(s, deg)) { (ranks, _) =>
      e2.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("pr div outdeg").as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib")).as("s"))
        .select(col("dst").as("node"),
          (when(col("dst") === seed, lit(Base)).otherwise(lit(0L)) +
            expr("(85 * s) div 100")).as("pr"))
    }() { (_, _, i) => i == Iters }
    ppr.state.join(deg, col("node") === col("src"))
      .where(col("pr") > 0)
      .select(col("node"), col("outdeg").as("n_co"), col("pr"))
      .orderBy(col("pr").desc, col("node"))
      .limit(20)
  }

  private def pprOracle: String = {
    def iter(prev: String): String =
      s"""SELECT dst AS node,
                 CASE WHEN dst = (SELECT sd FROM seed)
                      THEN ${Base} ELSE 0 END
                   + (85 * sum(pr // outdeg)) // 100 AS pr
          FROM e2 JOIN $prev ON $prev.node = e2.src GROUP BY dst"""
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pr0e AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         u AS (SELECT pa, pb FROM pr0e GROUP BY pa, pb
               HAVING count(*) >= 2),
         e AS (SELECT pa AS src, pb AS dst FROM u
               UNION ALL SELECT pb AS src, pa AS dst FROM u),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         e2 AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
         seed AS (SELECT src AS sd FROM deg
                  ORDER BY outdeg DESC, src LIMIT 1),
         r0 AS (SELECT src AS node,
                       CASE WHEN src = (SELECT sd FROM seed)
                            THEN ${Scale} ELSE 0 END AS pr
                FROM deg),
         r1 AS (${iter("r0")}),
         r2 AS (${iter("r1")}),
         r3 AS (${iter("r2")})
        SELECT r3.node, deg.outdeg AS n_co, r3.pr::BIGINT AS pr
        FROM r3 JOIN deg ON deg.src = r3.node
        WHERE r3.pr > 0
        ORDER BY pr DESC, node LIMIT 20"""
  }

  private def prOracle: String = {
    def iter(prev: String): String =
      s"""SELECT dst AS node,
                 ${Base} + (85 * sum(pr // outdeg)) // 100 AS pr
          FROM e2 JOIN $prev ON $prev.node = e2.src GROUP BY dst"""
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
               FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         e2 AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
         r0 AS (SELECT src AS node, ${Scale} AS pr FROM deg),
         r1 AS (${iter("r0")}),
         r2 AS (${iter("r1")}),
         r3 AS (${iter("r2")})
        SELECT r3.node, deg.outdeg AS n_co, r3.pr::BIGINT AS pr
        FROM r3 JOIN deg ON deg.src = r3.node
        ORDER BY pr DESC, node LIMIT 20"""
  }

  /** REPEAT co-purchase edges (undirected, stored as pa < pb): pairs
    * that co-occur in ≥ 2 distinct orders. The support threshold is
    * the graph analog of dedup_ngram's document-frequency cap — it is
    * what keeps triangle enumeration bounded: one mega-order would
    * otherwise contribute a clique of k² edges and k³ triangles of
    * pure noise. Checkpointed one-time artifact like the PageRank
    * graph. */
  private[graft] def repeatCopurchaseEdges(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Scratch.tableCoalesced(s, Scratch.path("graph/repeat", d)) { cs =>
      val li = t(cs, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("pa"), col("b.pk").as("pb"),
          col("a.ok").as("ok"))
        .distinct()
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("support"))
        .where(col("support") >= 2)
        .select(col("pa"), col("pb"))
    }

  /** Triangle counting (cohesion mining — "these THREE parts sell
    * together"): each triangle x < y < z enumerated exactly once by
    * joining value-ordered edges (xy)⋈(yz)⋈(xz); output is per-node
    * triangle participation, top 20. Two equi-joins over the
    * support-filtered edge table — work is Σ per-node deg², bounded
    * because the support threshold already pruned noise cliques; at
    * web scale you'd additionally orient edges low-degree→high-degree
    * (compact-forward) so the bound becomes Σ out-deg² with out-deg
    * capped near √m. Exact integer result; the oracle runs the
    * identical enumeration. */
  private def graphTriangles: Q = (s, d) => {
    val e = repeatCopurchaseEdges(s, d)
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.pb") === col("e2.pa"))
      .join(e.as("e3"),
        col("e3.pa") === col("e1.pa") && col("e3.pb") === col("e2.pb"))
      .select(col("e1.pa").as("x"), col("e1.pb").as("y"),
        col("e2.pb").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
  }

  /** COMPACT-FORWARD triangle enumeration — the plan variant the
    * graph_triangles doc promises for web scale: orient every
    * undirected edge from the (degree, node)-smaller endpoint to the
    * larger, then each triangle has exactly ONE node with two
    * out-edges to the other two, so it is enumerated once as
    * (u→v, u→w, v→w) with v before w in the orientation order. The
    * join fanout is Σ outdeg² where the orientation caps outdeg at
    * O(√m) (a node of degree d > √m has all its edges oriented INTO
    * it from lower-degree neighbours except those toward even
    * higher-degree nodes, of which there are < √m… the standard
    * compact-forward bound) — on a power-law graph this is the
    * difference between Σ deg² (hub-quadratic) and m^1.5. Output and
    * oracle are IDENTICAL to graph_triangles: same triangles, counted
    * from a differently-shaped plan. */
  private def graphTrianglesFwd: Q = (s, d) => {
    val e = repeatCopurchaseEdges(s, d)
    // Undirected degree per node (edges are stored once as pa < pb).
    val deg = e.select(col("pa").as("node"))
      .unionAll(e.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Orient {a,b}: src = (deg, node)-smaller endpoint. The order is
    // total (node breaks degree ties), so the oriented graph is a DAG.
    val oriented = e
      .join(deg.select(col("node").as("pa"), col("deg").as("dega")), "pa")
      .join(deg.select(col("node").as("pb"), col("deg").as("degb")), "pb")
      .select(
        when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("pa") < col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst"),
            col("dega").as("dsrc"), col("degb").as("ddst")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst"),
            col("degb").as("dsrc"), col("dega").as("ddst")))
          .as("o"))
      .select(col("o.src"), col("o.dst"), col("o.dsrc"), col("o.ddst"))
    val out = oriented.select("src", "dst", "ddst")
    // Wedge at u: out-edges u→v, u→w with v before w in the
    // orientation order; close with the oriented edge v→w.
    val wedges = out.as("f1")
      .join(out.as("f2"),
        col("f1.src") === col("f2.src") &&
          (col("f1.ddst") < col("f2.ddst") ||
            (col("f1.ddst") === col("f2.ddst") &&
              col("f1.dst") < col("f2.dst"))))
      .select(col("f1.src").as("u"), col("f1.dst").as("v"),
        col("f2.dst").as("w"))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
  }

  /** Node-similarity mining — "customers who bought X also bought Y"
    * as common-neighbor Jaccard over the co-purchase graph: for part
    * pairs sharing ≥ 2 neighbors, |N(a)∩N(b)| / |N(a)∪N(b)|, top 20.
    * One wedge self-join on the shared-neighbor key + one count — the
    * intersection NEVER materializes neighbor sets (each wedge row is
    * one intersection element, counted map-side); union size is
    * algebraic (da + db − inter) from the degree table. The similarity
    * is a SINGLE IEEE division of two exact ints, so doubles are
    * bit-identical in both engines and the top-20 sort agrees. The
    * ≥ 2 support floor is the same noise bound as the triangle graph;
    * at web scale the wedge join gets the hub df-cap (drop neighbors
    * with deg > K before pairing — exactly dedup_ngram's discipline,
    * which leaves high-similarity pairs intact because hub-mediated
    * wedges contribute little Jaccard mass). */
  /** Support-weighted repeat graph (the weighted twin of
    * [[repeatCopurchaseEdges]] — keeps the co-purchase count as an
    * integer edge weight). Same Scratch train-once discipline. */
  private[graft] def weightedRepeatEdges(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Scratch.tableCoalesced(s, Scratch.path("graph/wrepeat", d)) { cs =>
      val li = t(cs, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("pa"), col("b.pk").as("pb"),
          col("a.ok").as("ok"))
        .distinct()
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= 2)
    }

  /** WEIGHTED Jaccard neighbor similarity — graph_jaccard with the
    * co-purchase support as edge weight: J_w(a,b) = Σ_w min(w_a, w_b)
    * / Σ_w max(w_a, w_b) over the neighborhood union, the similarity
    * that distinguishes "both bought once with everything" from
    * "repeatedly bought with the same basket core". The max-sum never
    * materializes the union: Σmax = S_a + S_b − Σ_shared min (per-node
    * strength S is one hash agg), so the only pair work is the same
    * shared-neighbor wedge join the unweighted key runs — on the
    * support-pruned graph, Σ deg(w)² bounded. All integer sums, ONE
    * division. */
  private def graphJaccardWeighted: Q = (s, d) => {
    val und = weightedRepeatEdges(s, d)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"), col("w"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst"),
        col("w")))
    val strength = e.groupBy("src").agg(sum(col("w")).as("st"))
    val minsum = e.as("x").join(e.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("a"), col("y.src").as("b"))
      .agg(sum(least(col("x.w"), col("y.w"))).as("msum"),
        count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2)
    minsum
      .join(strength.select(col("src").as("a"), col("st").as("sa")), "a")
      .join(strength.select(col("src").as("b"), col("st").as("sb")), "b")
      .select(col("a"), col("b"), col("n_shared"), col("msum"),
        (col("sa") + col("sb") - col("msum")).as("maxsum"))
      .withColumn("wjac",
        col("msum").cast("double") / col("maxsum").cast("double"))
      .orderBy(col("wjac").desc, col("a"), col("b"))
      .limit(20)
  }

  private def graphJaccard: Q = (s, d) => {
    // The REPEAT (support ≥ 2) graph, symmetrized: the wedge join's
    // fanout is Σ deg(w)², so it runs on the noise-bounded graph —
    // on the raw co-purchase graph the same plan measured 19.5 s at
    // sf0.1 (hub-quadratic); here it is sub-second, and the pruned
    // one-off edges carry no repeat-purchase signal anyway.
    val und = repeatCopurchaseEdges(s, d)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val inter = e.as("x").join(e.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("a"), col("y.src").as("b"))
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") >= 2)
    inter
      .join(deg.select(col("src").as("a"), col("outdeg").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("outdeg").as("db")), "b")
      .select(col("a"), col("b"), col("inter"),
        (col("da") + col("db") - col("inter")).as("uni"))
      .withColumn("jac",
        col("inter").cast("double") / col("uni").cast("double"))
      .orderBy(col("jac").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Symmetric FREQUENT co-purchase edges (pair support ≥ 3 orders) —
    * the sparse "item family" backbone where connected components are
    * meaningful (at support 1–2 the random-basket graph is one giant
    * component and CC says nothing). Checkpointed one-time artifact
    * like [[copurchaseEdges]]. */
  private[graft] def frequentEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Scratch.tableCoalesced(s, Scratch.path("graph/freqedges", d)) { cs =>
      val li = t(cs, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val p = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("x"), col("b.pk").as("y"))
        .agg(count(lit(1)).as("c")).where(col("c") >= 3)
      p.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(p.select(col("y").as("src"), col("x").as("dst")))
    }

  /** Connected components over the frequent co-purchase backbone —
    * iterative MIN-LABEL propagation run to CONVERGENCE (not a fixed
    * unroll): each round every node takes the min of its own label and
    * its neighbors' labels; a round that lowers no label ends the loop,
    * at which point every label is provably the component's min node id
    * (the dedup_cluster discipline applied to a declared graph op).
    * Each round is one equi-join + min-aggregate — shuffle on node id,
    * O(1) state per node, re-shuffling the SAME key every round (bucket
    * the edges once on a cluster and the join is exchange-free). Rounds
    * needed = graph diameter, a property of the data, not its size —
    * at 100 TB the loop is as deep as the longest item-family chain.
    * Per-round label materialization truncates lineage (the pagerank
    * lesson); the changed-label count rides the round's checkpoint
    * write as an observed metric.
    * The oracle computes true components INDEPENDENTLY via a recursive
    * transitive closure — algorithm-level cross-validation, not a
    * re-run; GraphSpec adds a third implementation (driver union-find). */
  private def graphCc: Q = (s, d) => {
    val e = frequentEdges(s, d)
    val init = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    // Round 1's write is sized by the edge count, read from the edge
    // artifact's footers: an upper bound on the node count (one row per
    // node) that costs no job. The stop test reads only the current round.
    val cc = fixpoint(s, "cc", d, init, parquetRows(s, e)) { (labels, _) =>
      val prop = e.join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      labels.join(prop, col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (coalesce(col("nlbl"), col("lbl")) < col("lbl")).as("chg"))
    }(count_if(col("chg")).as("changed")) { (_, cur, _) => cur.getLong(1) == 0 }
    cc.state.groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("node")).as("id_digest"),
        max(col("node")).as("max_node"))
      .orderBy("component")
  }

  /** Truncated KATZ centrality (Katz '53) over the frequent
    * co-purchase backbone — "how many short walks end here", the
    * centrality that sees beyond degree without PageRank's damping
    * loop: katz₆₄(v) = Σ_{k≤3} (β^k·64)·walks_k(v) with β = 1/4, i.e.
    * 16·w₁ + 4·w₂ + w₃ — ALL-INTEGER walk counts (the graph_pagerank
    * no-IEEE-fold-hazard discipline), so the score is exact-hash vs
    * the identically unrolled oracle. Each walk level is ONE
    * join-on-src + sum-per-dst — shuffle on node id, map-side partial
    * sums, the same key every level (bucket the edges once on a
    * cluster and the joins are exchange-free); state per node is one
    * long per level, never paths. Top-20 is TakeOrderedAndProject
    * bounded heaps. */
  private def graphKatz: Q = (s, d) => {
    val e = frequentEdges(s, d)
    val w1 = e.groupBy(col("dst").as("v")).agg(count(lit(1)).as("w1"))
    val w2 = e.join(w1.select(col("v").as("src"), col("w1")), "src")
      .groupBy(col("dst").as("v")).agg(sum(col("w1")).as("w2"))
    val w3 = e.join(w2.select(col("v").as("src"), col("w2")), "src")
      .groupBy(col("dst").as("v")).agg(sum(col("w2")).as("w3"))
    w1.join(w2, Seq("v"), "left").join(w3, Seq("v"), "left")
      .select(col("v").as("node"), col("w1"),
        coalesce(col("w2"), lit(0L)).as("w2"),
        coalesce(col("w3"), lit(0L)).as("w3"))
      .withColumn("katz64",
        col("w1") * 16L + col("w2") * 4L + col("w3"))
      .orderBy(col("katz64").desc, col("node"))
      .limit(20)
  }

  /** Landmark CLOSENESS centrality — multi-source BFS from the 8
    * smallest node ids at once (the exact all-pairs closeness is
    * O(V·E), dead at 100 TB; the landmark estimate is the standard
    * production form and IS the declared statistic): frontier state
    * is (landmark, node, dist) — 8·V rows max — and each round is one
    * join + min-aggregate on node id (the graph_cc convergence loop
    * with a (count, Σdist) digest as the monotone-lattice fixpoint
    * test: rows only appear, dists only drop, so an unchanged digest
    * IS convergence). Nodes are ranked by (landmarks reached DESC,
    * Σdist ASC) so disconnected components compare honestly;
    * closeness = n_lm/Σdist with a guarded 0 for the degenerate
    * isolated-landmark row. */
  private def graphCloseness: Q = (s, d) => {
    val e = frequentEdges(s, d)
    val landmarks = e.select(col("src").as("node")).distinct()
      .orderBy("node").limit(8)
    val init = landmarks
      .select(col("node").as("lm"), col("node"), lit(0L).as("dd"))
    // The digest is (rows, Σdd); 32 hops is the oracle's walk depth.
    // coalesce: a VACUOUS graph (no c≥3 repeat pairs — the sf1
    // uniform-draw degeneracy, SCALING §5) leaves dist empty and a
    // bare sum returns NULL.
    val close = fixpoint(s, "close", d, init, 8L) { (dist, _) =>
      dist.join(e, dist("node") === e("src"))
        .select(col("lm"), col("dst").as("node"), (col("dd") + 1L).as("dd"))
        .unionAll(dist.select(col("lm"), col("node"), col("dd")))
        .groupBy("lm", "node").agg(min(col("dd")).as("dd"))
    }(coalesce(sum(col("dd")), lit(0L)).as("sum_d")) { (prev, cur, i) =>
      i == 32 || cur == prev
    }
    close.state.groupBy("node")
      .agg(count(lit(1)).as("n_lm"), sum(col("dd")).as("sum_d"))
      .select(col("node"), col("n_lm"), col("sum_d"),
        when(col("sum_d") > 0L,
          col("n_lm").cast("double") / col("sum_d").cast("double"))
          .otherwise(lit(0.0d)).as("closeness"))
      .orderBy(col("n_lm").desc, col("sum_d"), col("node"))
      .limit(20)
  }

  /** Degree ASSORTATIVITY of the repeat co-purchase graph — the
    * one-number answer to "do popular items co-sell with popular
    * items?": Pearson r between the degrees at the two ends of every
    * edge (Newman 2002). Positive = hub-hub assortative (social-graph
    * shape), negative = hub-leaf disassortative (retail catalogs,
    * usually). The [[Relational]] agg_corr discipline verbatim: one
    * degree aggregate, degrees joined back onto the directed edge
    * list (each undirected edge contributes both orientations, which
    * IS the standard estimator), exact integer power sums
    * (n, Σx, Σy, Σx², Σxy, Σy²), doubles only in the final
    * sqrt/divide chain. One scan of the edge artifact + one O(1)
    * result row. */
  private def graphAssortativity: Q = (s, d) => {
    val und = repeatCopurchaseEdges(s, d)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val xy = e
      .join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), Seq("dst"))
    val nD = col("n").cast("double")
    def dbl(c: String) = col(c).cast("double")
    xy.agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n"), col("sx"), col("sxy"),
        ((nD * dbl("sxy") - dbl("sx") * dbl("sy")) /
          (sqrt(nD * dbl("sxx") - dbl("sx") * dbl("sx")) *
            sqrt(nD * dbl("syy") - dbl("sy") * dbl("sy"))))
          .as("assortativity"))
  }

  /** BFS hop cap shared with the oracle's recursion guard: a frontier
    * still active past this depth fails loudly (diameter is a data
    * property; the synthetic graph converges in a handful of hops). */
  private[graft] val bfsMaxHops = 32

  /** Single-source BFS over the repeat co-purchase graph (support ≥ 2
    * — the graph_kcore substrate: its big component walks ~10 hops
    * deep here, where the support-≥3 backbone is disconnected cliques
    * of diameter 1 and a BFS would prove nothing) — hop
    * distance from the MINIMUM node id (deterministic source, no
    * configuration): the "how far is everything from here" primitive
    * under link-distance corpus curation and graph feature extraction.
    * Frontier expansion, not relaxation: round i joins the CURRENT
    * frontier to the edge list and anti-joins already-visited nodes, so
    * per-round work is O(frontier × avg-degree) — the sum over all
    * rounds touches each edge at most twice, never rounds × edges.
    * Shuffle key is the node id EVERY round (bucket the edges once on a
    * cluster and the expansion is exchange-free); the visited set is
    * materialized per round (lineage truncation, the pagerank lesson)
    * and the frontier-empty test is its observed max hop. Output is the
    * per-hop profile (n_nodes, id_digest) — O(diameter) rows; nodes in
    * other components are correctly absent (the oracle's walk reaches
    * exactly the same set). */
  private def graphBfs: Q = (s, d) => {
    val und = repeatCopurchaseEdges(s, d)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    val src0 = e.agg(min(col("src"))).head().getLong(0)
    val init = e.select(col("src").as("node")).distinct()
      .where(col("node") === src0)
      .select(col("node"), lit(0L).as("hop"))
    // Round i expands the hop i−1 frontier; the walk has converged
    // when round i added no node at hop i.
    val bfs = fixpoint(s, "bfs", d, init, 1L) { (dist, i) =>
      require(i <= bfsMaxHops,
        s"BFS still expanding after $bfsMaxHops hops — widen the oracle cap")
      val frontier = dist.where(col("hop") === i - 1)
      val cand = e.join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
      dist.unionAll(cand.join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(i.toLong).as("hop")))
    }(max(col("hop")).as("max_hop")) { (_, cur, i) => cur.getLong(1) < i }
    bfs.state.groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("id_digest"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy("hop")
  }

  /** k-CORE decomposition (k=3) over the repeat co-purchase graph —
    * the densest-region extractor (spam-farm detection on web graphs,
    * "always bought together" nuclei here): iteratively peel nodes of
    * degree < k until the fixpoint; what survives is the maximal
    * subgraph where every node keeps ≥ k neighbors. Each round is one
    * degree aggregate + two semi-join prunes — shuffle on node id,
    * O(1) state per node, SAME key every round (bucket the edges once
    * on a cluster and rounds are exchange-free). Round count is the
    * peel depth — a degeneracy property of the data, not its size.
    * Per-round materialization truncates lineage (the pagerank
    * lesson); the peel has converged when a round's observed edge count
    * equals the previous round's. The oracle peels the IDENTICAL
    * recurrence unrolled [[kcoreRounds]] deep (GraphSpec pins
    * convergence within that depth, and a driver-side independent
    * peeler agrees). Thin support structures peel one layer per round,
    * so the generated graphs peel up to ~18 rounds deep; rounds past
    * the fixpoint are IDENTITY in both engines (keep = all nodes once
    * every degree ≥ k), so a wide unroll costs CTE boilerplate, never
    * correctness. */
  private[graft] val kcoreRounds = 32
  private def graphKcore: Q = (s, d) => {
    val und = repeatCopurchaseEdges(s, d)
    val init = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    // The previous round's edge count upper-bounds this round's rows
    // (edges only leave the multiset), so it sizes the write: this is
    // the largest state in the family, the whole surviving EDGE multiset.
    // The init is `und` and its mirror, so its count is exactly twice
    // the artifact's footer count; the stop test compares the first
    // round with it.
    val core = fixpoint(s, "kcore", d, init, 2 * parquetRows(s, und)) { (edges, i) =>
      require(i <= kcoreRounds,
        s"k-core peel exceeded $kcoreRounds rounds — widen the oracle unroll")
      val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= 3).select(col("src").as("node"))
      edges
        .join(keep.select(col("node").as("src")), "src")
        .join(keep.select(col("node").as("dst")), "dst")
        .select("src", "dst")
    }() { (prev, cur, _) => cur.getLong(0) == prev.getLong(0) }
    core.state.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .orderBy("node")
  }

  /** SYNCHRONOUS label propagation (3 rounds, deterministic) —
    * community detection over the repeat-co-purchase graph, the
    * "item families emerge from who-sells-with-whom" operator next to
    * [[graphCc]]'s reachability (LPA splits a connected component into
    * densely-linked sub-communities; CC cannot). Each round every node
    * adopts its neighbors' MOST FREQUENT previous-round label, ties
    * broken by smallest label — the one deterministic choice that makes
    * sync LPA engine-invariant (async/random-order LPA, the textbook
    * default, is irreproducible by construction and useless under a
    * hash gate). Fixed 3 rounds, matching the oracle's unroll; each
    * round is one shuffle on dst + one (node,label) count + one
    * row_number argmax — work ∝ edges, state ∝ nodes, the same bound
    * per round at any scale. */
  private def graphLpa: Q = (s, d) => {
    val und = repeatCopurchaseEdges(s, d)
    val e = und.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(und.select(col("pb").as("src"), col("pa").as("dst")))
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to 3) {
      val w = Window.partitionBy("node")
        .orderBy(col("cnt").desc, col("lbl").asc)
      labels = e
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("node"), col("lbl"),
          row_number().over(w).as("rn"))
        .where(col("rn") === 1)
        .select("node", "lbl")
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"), col("csize"))
      .orderBy("node")
  }

  /** LOCAL CLUSTERING COEFFICIENT — "how clique-like is each part's
    * co-purchase neighborhood": cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    * the community-cohesion number next to raw triangle counts. Reuses
    * the [[repeatCopurchaseEdges]] support-pruned artifact and the
    * graph_triangles value-ordered enumeration (same two equi-joins,
    * same Σ deg² bound; at web scale the compact-forward orientation
    * of graph_triangles_fwd applies unchanged); degree is one hash agg
    * over both endpoint columns. A node on edges but in no triangle
    * keeps cc = 0 via the left join (it must not vanish — zero
    * clustering is the signal). The coefficient is ONE IEEE division
    * of exact integers, so the top-20 sort agrees bit-for-bit. */
  private def graphClustering: Q = (s, d) => {
    val e = repeatCopurchaseEdges(s, d)
    val deg = e.select(col("pa").as("node"))
      .unionAll(e.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.pb") === col("e2.pa"))
      .join(e.as("e3"),
        col("e3.pa") === col("e1.pa") && col("e3.pb") === col("e2.pb"))
      .select(col("e1.pa").as("x"), col("e1.pb").as("y"),
        col("e2.pb").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.where(col("deg") >= 2)
      .join(perNode, Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("cc",
        lit(2.0d) * col("n_tri").cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"))
      .select("node", "deg", "n_tri", "cc")
      .orderBy(col("cc").desc, col("n_tri").desc, col("node"))
      .limit(20)
  }

  val queries: Map[String, Q] = Map(
    "graph_kcore" -> graphKcore,
    "graph_clustering" -> graphClustering,
    "graph_bfs" -> graphBfs,
    "graph_assortativity" -> graphAssortativity,
    "graph_pagerank" -> graphPagerank,
    "graph_ppr" -> graphPpr,
    "graph_triangles" -> graphTriangles,
    "graph_triangles_fwd" -> graphTrianglesFwd,
    "graph_cc" -> graphCc,
    "graph_jaccard" -> graphJaccard,
    "graph_jaccard_weighted" -> graphJaccardWeighted,
    "graph_lpa" -> graphLpa,
    "graph_katz" -> graphKatz,
    "graph_closeness" -> graphCloseness)

  // Shared by graph_triangles and graph_triangles_fwd: both enumerate
  // the same triangle set, so both must hash-match the same oracle.
  private val trianglesOracle: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         e AS (SELECT pa, pb FROM pr GROUP BY pa, pb
               HAVING count(*) >= 2),
         tri AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
                 FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                           JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
         n AS (SELECT unnest([x, y, z]) AS node FROM tri)
       SELECT node, count(*)::BIGINT AS n_tri FROM n GROUP BY node
       ORDER BY n_tri DESC, node LIMIT 20"""

  /** The identical peel recurrence unrolled [[kcoreRounds]] deep —
    * extra rounds past the fixpoint are no-ops, so any convergence
    * within the unroll yields the exact k-core. */
  private def kcoreOracle: String = {
    val sb = new StringBuilder
    sb ++= """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                          FROM lineitem),
         pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         u AS (SELECT pa, pb FROM pr GROUP BY pa, pb
               HAVING count(*) >= 2),
         e0 AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM u
                UNION ALL SELECT pb AS src, pa AS dst FROM u)"""
    for (i <- 1 to kcoreRounds)
      sb ++= s""",
         v$i AS MATERIALIZED (SELECT src AS node FROM e${i - 1}
                 GROUP BY src HAVING count(*) >= 3),
         e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
                 JOIN v$i a ON e.src = a.node
                 JOIN v$i b ON e.dst = b.node)"""
    sb ++= s"""
       SELECT src AS node, count(*)::BIGINT AS deg FROM e$kcoreRounds
       GROUP BY src ORDER BY node"""
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "graph_kcore" -> kcoreOracle,
    // Integer power sums assembled with the identical IEEE chain.
    "graph_assortativity" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
           pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
           u AS (SELECT pa, pb FROM pr GROUP BY pa, pb
                 HAVING count(*) >= 2),
           e AS (SELECT pa AS src, pb AS dst FROM u
                 UNION ALL SELECT pb AS src, pa AS dst FROM u),
           deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
           xy AS (SELECT dx.deg AS dx, dy.deg AS dy
                  FROM e JOIN deg dx ON dx.src = e.src
                       JOIN deg dy ON dy.src = e.dst),
           s AS (SELECT count(*)::BIGINT AS n, sum(dx)::BIGINT AS sx,
                        sum(dy)::BIGINT AS sy, sum(dx * dx)::BIGINT AS sxx,
                        sum(dx * dy)::BIGINT AS sxy,
                        sum(dy * dy)::BIGINT AS syy
                 FROM xy)
         SELECT n, sx, sxy,
                (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
                (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
                 sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                  AS assortativity
         FROM s""",
    // Independent formulation: recursive (node, hop) walk deduped by
    // UNION, min-hop per node — vs the engine's frontier expansion.
    "graph_bfs" ->
      """WITH RECURSIVE
           li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
           u AS (SELECT pa, pb FROM pr GROUP BY pa, pb
                 HAVING count(*) >= 2),
           e AS (SELECT pa AS s, pb AS t FROM u
                 UNION ALL SELECT pb AS s, pa AS t FROM u),
           src AS (SELECT min(s) AS s0 FROM e),
           walk(node, hop) AS (
             SELECT s0, 0::BIGINT FROM src
             UNION
             SELECT e.t, walk.hop + 1 FROM walk
             JOIN e ON e.s = walk.node WHERE walk.hop < 32),
           dist AS (SELECT node, min(hop)::BIGINT AS hop
                    FROM walk GROUP BY node)
         SELECT hop, count(*) AS n_nodes, sum(node)::BIGINT AS id_digest,
                min(node) AS min_node, max(node) AS max_node
         FROM dist GROUP BY hop ORDER BY hop""",
    // Independent ALGORITHM, not a re-run: true components via a
    // recursive transitive closure (min reachable id), vs the engine's
    // converged label propagation.
    "graph_cc" ->
      """WITH RECURSIVE
           li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
           p AS (SELECT a.pk AS x, b.pk AS y
                 FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                 GROUP BY x, y HAVING count(*) >= 3),
           e AS (SELECT x AS s, y AS t FROM p
                 UNION ALL SELECT y AS s, x AS t FROM p),
           reach(a, b) AS (
             SELECT s, t FROM e
             UNION
             SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s),
           comp AS (SELECT a AS node, least(a, min(b)) AS component
                    FROM reach GROUP BY a)
         SELECT component, count(*) AS n_nodes,
                sum(node)::BIGINT AS id_digest, max(node) AS max_node
         FROM comp GROUP BY component ORDER BY component""",
    "graph_pagerank" -> prOracle,
    "graph_ppr" -> pprOracle,
    "graph_triangles" -> trianglesOracle,
    "graph_triangles_fwd" -> trianglesOracle,
    // Same edge set and triangle enumeration as trianglesOracle; cc is
    // one division of exact integers, left join keeps triangle-free
    // nodes at cc = 0.
    "graph_clustering" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
         pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         e AS (SELECT pa, pb FROM pr GROUP BY pa, pb
               HAVING count(*) >= 2),
         deg AS (SELECT node, count(*) AS deg FROM (
                   SELECT pa AS node FROM e
                   UNION ALL SELECT pb AS node FROM e)
                 GROUP BY node),
         tri AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
                 FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                           JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
         n AS (SELECT unnest([x, y, z]) AS node FROM tri),
         pt AS (SELECT node, count(*)::BIGINT AS n_tri
                FROM n GROUP BY node),
         c AS (
           SELECT d.node, d.deg, coalesce(pt.n_tri, 0) AS n_tri,
                  2.0 * coalesce(pt.n_tri, 0)::DOUBLE
                    / (d.deg * (d.deg - 1))::DOUBLE AS cc
           FROM deg d LEFT JOIN pt ON d.node = pt.node
           WHERE d.deg >= 2)
         SELECT node, deg, n_tri, cc FROM c
         ORDER BY cc DESC, n_tri DESC, node LIMIT 20""",
    // The identical three unrolled walk levels, all-integer.
    "graph_katz" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem),
           p AS (SELECT a.pk AS x, b.pk AS y
                 FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                 GROUP BY x, y HAVING count(*) >= 3),
           e AS (SELECT x AS src, y AS dst FROM p
                 UNION ALL SELECT y AS src, x AS dst FROM p),
           w1 AS (SELECT dst AS v, count(*)::BIGINT AS w1
                  FROM e GROUP BY 1),
           w2 AS (SELECT e.dst AS v, sum(w1.w1)::BIGINT AS w2
                  FROM e JOIN w1 ON w1.v = e.src GROUP BY 1),
           w3 AS (SELECT e.dst AS v, sum(w2.w2)::BIGINT AS w3
                  FROM e JOIN w2 ON w2.v = e.src GROUP BY 1)
         SELECT w1.v AS node, w1.w1 AS w1,
                COALESCE(w2.w2, 0)::BIGINT AS w2,
                COALESCE(w3.w3, 0)::BIGINT AS w3,
                (w1.w1 * 16 + COALESCE(w2.w2, 0) * 4
                   + COALESCE(w3.w3, 0))::BIGINT AS katz64
         FROM w1 LEFT JOIN w2 ON w2.v = w1.v LEFT JOIN w3 ON w3.v = w1.v
         ORDER BY katz64 DESC, node LIMIT 20""",
    // Independent formulation: recursive walk from the 8 landmarks,
    // min-hop per (landmark, node) — vs the engine's digest-converged
    // frontier loop.
    "graph_closeness" ->
      """WITH RECURSIVE
           li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                  FROM lineitem),
           p AS (SELECT a.pk AS x, b.pk AS y
                 FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
                 GROUP BY x, y HAVING count(*) >= 3),
           e AS (SELECT x AS src, y AS dst FROM p
                 UNION ALL SELECT y AS src, x AS dst FROM p),
           lms AS (SELECT DISTINCT src AS lm FROM e ORDER BY lm LIMIT 8),
           walk(lm, node, hop) AS (
             SELECT lm, lm, 0::BIGINT FROM lms
             UNION
             SELECT w.lm, e.dst, w.hop + 1 FROM walk w
             JOIN e ON e.src = w.node WHERE w.hop < 32),
           dist AS (SELECT lm, node, min(hop)::BIGINT AS dd
                    FROM walk GROUP BY 1, 2),
           cl AS (SELECT node, count(*)::BIGINT AS n_lm,
                         sum(dd)::BIGINT AS sum_d
                  FROM dist GROUP BY 1)
         SELECT node, n_lm, sum_d,
                CASE WHEN sum_d > 0
                     THEN CAST(n_lm AS DOUBLE) / CAST(sum_d AS DOUBLE)
                     ELSE 0.0 END AS closeness
         FROM cl ORDER BY n_lm DESC, sum_d, node LIMIT 20""",
    "graph_jaccard" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
           u AS (SELECT pa, pb FROM pr GROUP BY pa, pb
                 HAVING count(*) >= 2),
           e AS (SELECT pa AS src, pb AS dst FROM u
                 UNION ALL SELECT pb AS src, pa AS dst FROM u),
           deg AS (SELECT src, count(*) AS n FROM e GROUP BY src),
           w AS (SELECT x.src AS a, y.src AS b, count(*) AS inter
                 FROM e x JOIN e y ON x.dst = y.dst AND x.src < y.src
                 GROUP BY 1, 2 HAVING count(*) >= 2),
           j AS (SELECT a, b, inter,
                        da.n + db.n - inter AS uni
                 FROM w JOIN deg da ON da.src = a
                        JOIN deg db ON db.src = b)
         SELECT a, b, inter::BIGINT AS inter, uni::BIGINT AS uni,
                inter::DOUBLE / uni::DOUBLE AS jac
         FROM j ORDER BY jac DESC, a, b LIMIT 20""",
    // Σmax = Sa + Sb − Σ_shared min — the union never materializes.
    "graph_jaccard_weighted" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
           u AS (SELECT pa, pb, count(*) AS w FROM pr GROUP BY pa, pb
                 HAVING count(*) >= 2),
           e AS (SELECT pa AS src, pb AS dst, w FROM u
                 UNION ALL SELECT pb AS src, pa AS dst, w FROM u),
           st AS (SELECT src, CAST(sum(w) AS BIGINT) AS st
                  FROM e GROUP BY src),
           m AS (SELECT x.src AS a, y.src AS b,
                        CAST(sum(least(x.w, y.w)) AS BIGINT) AS msum,
                        count(*) AS n_shared
                 FROM e x JOIN e y ON x.dst = y.dst AND x.src < y.src
                 GROUP BY 1, 2 HAVING count(*) >= 2),
           j AS (SELECT a, b, n_shared, msum,
                        sa.st + sb.st - msum AS maxsum
                 FROM m JOIN st sa ON sa.src = a
                        JOIN st sb ON sb.src = b)
         SELECT a, b, n_shared, msum, maxsum::BIGINT AS maxsum,
                msum::DOUBLE / maxsum::DOUBLE AS wjac
         FROM j ORDER BY wjac DESC, a, b LIMIT 20""",
    // The identical 3 synchronized rounds unrolled; same
    // (count desc, label asc) deterministic tie-break.
    "graph_lpa" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           pr AS (SELECT DISTINCT a.pk AS pa, b.pk AS pb, a.ok
                  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
           u AS (SELECT pa, pb FROM pr GROUP BY pa, pb
                 HAVING count(*) >= 2),
           e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM u
                 UNION ALL SELECT pb AS src, pa AS dst FROM u),
           l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM e),
           c1 AS (SELECT e.src AS node, l.lbl, count(*) AS cnt
                  FROM e JOIN l0 l ON l.node = e.dst GROUP BY 1, 2),
           l1 AS MATERIALIZED (SELECT node, lbl FROM (
                  SELECT node, lbl, row_number() OVER (PARTITION BY node
                    ORDER BY cnt DESC, lbl) AS rn FROM c1) WHERE rn = 1),
           c2 AS (SELECT e.src AS node, l.lbl, count(*) AS cnt
                  FROM e JOIN l1 l ON l.node = e.dst GROUP BY 1, 2),
           l2 AS MATERIALIZED (SELECT node, lbl FROM (
                  SELECT node, lbl, row_number() OVER (PARTITION BY node
                    ORDER BY cnt DESC, lbl) AS rn FROM c2) WHERE rn = 1),
           c3 AS (SELECT e.src AS node, l.lbl, count(*) AS cnt
                  FROM e JOIN l2 l ON l.node = e.dst GROUP BY 1, 2),
           l3 AS MATERIALIZED (SELECT node, lbl FROM (
                  SELECT node, lbl, row_number() OVER (PARTITION BY node
                    ORDER BY cnt DESC, lbl) AS rn FROM c3) WHERE rn = 1),
           sz AS (SELECT lbl, count(*)::BIGINT AS csize FROM l3 GROUP BY lbl)
         SELECT l3.node, l3.lbl AS community, sz.csize
         FROM l3 JOIN sz USING (lbl) ORDER BY node""")
}
