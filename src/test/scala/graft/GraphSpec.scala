package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for ops/Graph.scala: the distributed PageRank must agree with
  * an independent single-threaded reference run of the same integer
  * recurrence over the collected edge list. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("graph_pagerank matches a driver-side reference of the integer recurrence") {
    val Scale = 1000000000L
    val Base = 150000000L
    val edges = ops.Graph.copurchaseEdges(spark, SharedSpark.sf)
      .select(col("src"), col("dst"), col("outdeg"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(edges.nonEmpty)
    // Symmetry: co-purchase is undirected, so both directions exist.
    val set = edges.map(e => (e._1, e._2)).toSet
    assert(set.forall { case (a, b) => set.contains((b, a)) })

    var rank = edges.map(_._1).distinct.map(_ -> Scale).toMap
    for (_ <- 1 to 3) {
      val in = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (src, dst, outdeg) =>
        in(dst) += rank(src) / outdeg
      }
      rank = in.map { case (n, s) => n -> (Base + (85 * s) / 100) }.toMap
    }
    val expected = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)

    val got = SparkEntry.queries("graph_pagerank")(spark, SharedSpark.sf)
      .select(col("node"), col("pr"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    assert(got == expected)
  }

  test("iterative checkpoint write tasks scale with state rows (r11 item #1)") {
    import ops.Graph
    // Unit pins on the sizing function: small state stays one file,
    // large state grows linearly, the backstop clamps.
    assert(Graph.ckptParts(0L) == 1)
    assert(Graph.ckptParts(1L) == 1)
    assert(Graph.ckptParts(Graph.ckptRowsPerTask) == 1)
    assert(Graph.ckptParts(Graph.ckptRowsPerTask + 1) == 2)
    assert(Graph.ckptParts(200000000L) == 50) // 200M-node rank table
    assert(Graph.ckptParts(Long.MaxValue) == Graph.ckptMaxTasks)
    val probes = Seq(0L, 1000L, 4000000L, 9000000L, 1000000000L)
    assert(probes.map(Graph.ckptParts) == probes.map(Graph.ckptParts).sorted)
    // Mechanical pin: the checkpoint actually WRITES ckptParts(rows)
    // part-files (i.e. that many write tasks) — the property whose
    // absence made the old coalesce(1) a parallelism-1 wall.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try {
      val out = Graph.ckpt(spark, spark.range(1000).toDF("node"),
        s"${dir.getPath}/s", 9000001L) // forces 3 write tasks
      assert(out.count() == 1000)
      val parts = new java.io.File(dir, "s").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(parts == 3)
    } finally Tables.deleteRecursively(dir)
  }

  test("pagerank's contribute join reads bucketed edges: no exchange, no sort on the edge side (r12 item #6)") {
    import ops.Graph
    import org.apache.spark.sql.functions._
    // Force the at-scale join (ranks too big to broadcast at 100 TB):
    // the pin is that the EDGE side arrives pre-partitioned from the
    // bucketed scan — exactly one exchange for the rank table plus one
    // for the dst combine (the graph cut), never an O(E) edge shuffle.
    val noBroadcast = GraftSession.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val e2 = Graph.copurchaseEdgesBucketed(noBroadcast, SharedSpark.sf)
    // the bucketed artifact IS the plain artifact, co-located
    assert(e2.count() === Graph.copurchaseEdges(spark, SharedSpark.sf).count())
    val ranks = e2.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(1000000000L))
      // outdeg rides the rank side since the r16 narrow edge layout
      .withColumn("outdeg", lit(4L))
    val step = Graph.prContribute(e2, ranks)
    step.collect()
    val p = step.queryExecution.executedPlan.toString()
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("Bucketed: true"),
      "edge scan must report an exploited bucket layout: " + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      "only the rank table and the dst combine may shuffle: " + p)
    // dst ⊆ src invariant (ADVICE r16): graphPagerank's per-iteration
    // inner join(degN, "node") silently drops any contribution-
    // receiving node absent from the degree artifact — correctness
    // rests on every dst also being a src. Pin it as an empty
    // anti-join against the degree table, not just the comment.
    val deg = ops.Graph.copurchaseEdges(spark, SharedSpark.sf)
      .select(col("src"), col("outdeg")).distinct()
    val orphanDst = e2.select(col("dst").as("node"))
      .distinct()
      .join(deg.select(col("src").as("node")), Seq("node"), "left_anti")
    assert(orphanDst.count() === 0L,
      "a dst without a degree row would silently lose rank mass")
  }

  test("graph_triangles matches a driver-side reference enumeration") {
    val edges = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    assert(edges.forall { case (a, b) => a < b })
    val eset = edges.toSet
    val byA = edges.groupBy(_._1)
    val triPerNode =
      collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (x, y) =>
      byA.getOrElse(y, Array.empty).foreach { case (_, z) =>
        if (eset.contains((x, z))) {
          triPerNode(x) += 1; triPerNode(y) += 1; triPerNode(z) += 1
        }
      }
    }
    val expected = triPerNode.toSeq.sortBy { case (n, c) => (-c, n) }.take(20)
    val got = SparkEntry.queries("graph_triangles")(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
  }

  test("graph_triangles_fwd is row-identical to graph_triangles") {
    val base = SparkEntry.queries("graph_triangles")(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fwd = SparkEntry.queries("graph_triangles_fwd")(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fwd == base)
    assert(fwd.nonEmpty)
  }

  test("compact-forward orientation caps out-degree below undirected degree") {
    val edges = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val out = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      val src =
        if (Ordering[(Long, Long)].lt((deg(a), a), (deg(b), b))) a else b
      out(src) += 1
    }
    val maxDeg = deg.values.max
    val maxOut = out.values.max
    // The orientation must strictly reduce the hub fanout the wedge
    // join squares (equality would mean some node kept every edge
    // outgoing despite being the max-degree endpoint somewhere).
    assert(maxOut < maxDeg, s"maxOut=$maxOut maxDeg=$maxDeg")
  }

  test("graph_jaccard matches a driver-side reference computation") {
    val und = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = und ++ und.map { case (a, b) => (b, a) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pairs = for {
      (a, na) <- nbrs.toSeq
      (b, nb) <- nbrs.toSeq
      if a < b
      inter = (na & nb).size
      if inter >= 2
    } yield {
      val uni = na.size + nb.size - inter
      (a, b, inter.toLong, uni.toLong, inter.toDouble / uni.toDouble)
    }
    val expected = pairs
      .sortBy { case (a, b, _, _, j) => (-j, a, b) }.take(20)
    val got = SparkEntry.queries("graph_jaccard")(spark, SharedSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("graph_jaccard_weighted matches a driver min/max-sum reference") {
    val und = ops.Graph.weightedRepeatEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = und.map { case (a, b, w) => (a, b, w) } ++
      und.map { case (a, b, w) => (b, a, w) }
    val nbrs = edges.groupBy(_._1).view
      .mapValues(_.map(e => e._2 -> e._3).toMap).toMap
    val pairs = for {
      (a, na) <- nbrs.toSeq
      (b, nb) <- nbrs.toSeq
      if a < b
      shared = na.keySet & nb.keySet
      if shared.size >= 2
    } yield {
      val msum = shared.toSeq.map(w => math.min(na(w), nb(w))).sum
      val maxsum = na.values.sum + nb.values.sum - msum
      (a, b, shared.size.toLong, msum, maxsum,
        msum.toDouble / maxsum.toDouble)
    }
    val expected = pairs
      .sortBy { case (a, b, _, _, _, j) => (-j, a, b) }.take(20)
    val got = SparkEntry.queries("graph_jaccard_weighted")(
      spark, SharedSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // weighted Jaccard is bounded by the unweighted on the same pair
    // set only in special cases — pin instead the [0,1] law and that
    // min-sum never exceeds either strength
    got.foreach { case (_, _, _, msum, maxsum, j) =>
      assert(j > 0.0 && j <= 1.0 && msum <= maxsum)
    }
  }

  test("graph_ppr: teleport mass returns to the seed, scores localize") {
    val got = SparkEntry.queries("graph_ppr")(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.length <= 20)
    // driver recompute: integer fixed-point on the symmetrized repeat
    // graph from the same seed
    val und = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sym = und ++ und.map { case (a, b) => (b, a) }
    val outdeg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val e = sym.map { case (a, b) => (a, b, outdeg(a)) }
    val seed = outdeg.toSeq.minBy { case (n, dg) => (-dg, n) }._1
    val scale = 1000000000L
    val base = 150000000L
    var pr: Map[Long, Long] = outdeg.keys
      .map(n => n -> (if (n == seed) scale else 0L)).toMap
    for (_ <- 1 to 3) {
      val in = collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      e.foreach { case (src, dst, dg) => in(dst) += pr(src) / dg }
      pr = in.map { case (n, sm) =>
        n -> ((if (n == seed) base else 0L) + 85 * sm / 100)
      }.toMap
    }
    val exp = pr.toSeq.filter(_._2 > 0)
      .map { case (n, p) => (n, outdeg(n), p) }
      .sortBy { case (n, _, p) => (-p, n) }.take(20)
    assert(got.toSeq === exp)
    // the seed's own score dominates (teleport localizes the walk)
    assert(got.head._1 === seed)
  }

  test("graph_lpa matches a driver-side synchronous propagation reference") {
    val und = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = und ++ und.map { case (a, b) => (b, a) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    var lbl: Map[Long, Long] = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = nbrs.map { case (n, ns) =>
        val counts = ns.groupBy(lbl).view.mapValues(_.size).toSeq
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = lbl.toSeq.sortBy(_._1)
      .map { case (n, l) => (n, l, sizes(l)) }
    val got = SparkEntry.queries("graph_lpa")(spark, SharedSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // communities partition the node set
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("graph_cc matches a driver-side union-find (third independent algorithm)") {
    val got = SparkEntry.queries("graph_cc")(spark, SharedSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // third implementation: classic union-find over the collected edges
    // (the registered query is label propagation, the oracle a recursive
    // closure — three algorithms, one answer)
    val edges = ops.Graph.frequentEdges(spark, SharedSpark.sf)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = parent.keys.toSeq.groupBy(find)
    val expected = comps.map { case (c, ns) =>
      (c, ns.size.toLong, ns.sum, ns.max)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq === expected)
  }

  test("pack_ffd matches a driver-side first-fit-decreasing recompute") {
    val got = SparkEntry.queries("pack_ffd")(spark, SharedSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val docs = Tables.t(spark, SharedSpark.sf, "documents")
      .selectExpr("source", "doc_id",
        "cast(size(split(text, ' ')) AS BIGINT) AS n_tok")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val bins = scala.collection.mutable.ArrayBuffer[Long]()
      ds.sortBy(d => (-d._3, d._2)).foreach { case (_, _, tok) =>
        bins.indexWhere(_ + tok <= 512L) match {
          case -1 => bins += tok
          case i  => bins(i) += tok
        }
      }
      bins.zipWithIndex.map { case (load, i) => (src, (i + 1).toLong, load) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq === expected)
    assert(got.forall(_._3 <= 512L), "no bin over budget")
  }

  test("graph_pagerank rank floor is the damping base and ranks vary") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, SharedSpark.sf)
      .collect()
    assert(rows.forall(_.getLong(2) >= 150000000L))
    assert(rows.map(_.getLong(2)).distinct.length > 1)
  }

  test("graph_kcore matches a driver-side peeler; every core degree >= k") {
    val got = SparkEntry.queries("graph_kcore")(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // independent peeler over the collected repeat edge set
    val und = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var rounds = 0
    var changed = true
    while (changed) {
      rounds += 1
      val dead = adj.collect { case (n, ns) if ns.size < 3 => n }.toSet
      changed = dead.nonEmpty
      if (changed) adj = adj.collect {
        case (n, ns) if !dead(n) => n -> (ns -- dead)
      }
    }
    assert(rounds <= ops.Graph.kcoreRounds,
      s"peel took $rounds rounds; oracle unrolls ${ops.Graph.kcoreRounds}")
    val expected = adj.map { case (n, ns) => (n, ns.size.toLong) }
      .toSeq.sortBy(_._1)
    assert(got.toSeq === expected)
    assert(got.forall(_._2 >= 3L), "k-core degree floor")
  }

  test("graph_assortativity matches a BigInt driver recompute; |r| <= 1") {
    val row = SparkEntry.queries("graph_assortativity")(spark, SharedSpark.sf)
      .collect()(0)
    val und = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dirEdges = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = dirEdges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val xs = dirEdges.map { case (s0, d0) => (BigInt(deg(s0)), BigInt(deg(d0))) }
    val n = BigInt(xs.length)
    val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
    val sxx = xs.map(t => t._1 * t._1).sum
    val sxy = xs.map(t => t._1 * t._2).sum
    val syy = xs.map(t => t._2 * t._2).sum
    val want = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble))
    assert(row.getLong(0) === xs.length.toLong)
    val got = row.getDouble(3)
    assert(got >= -1.0 - 1e-12 && got <= 1.0 + 1e-12)
    assert(math.abs(got - want) < 1e-12, s"r $got vs $want")
  }

  test("graph_bfs matches a driver-side BFS; hop profile is contiguous") {
    val got = SparkEntry.queries("graph_bfs")(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent BFS over the collected repeat edge set
    val und = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val src = adj.keys.min
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = Set(src)
    var hop = 0L
    while (frontier.nonEmpty) {
      hop += 1
      val next = frontier.flatMap(adj(_)).filterNot(dist.contains)
      next.foreach(n => dist(n) = hop)
      frontier = next
    }
    val expected = dist.values.groupBy(identity).map { case (h, g) =>
      (h, g.size.toLong,
        dist.collect { case (n, hh) if hh == h => n }.sum)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq === expected)
    // hops are contiguous from 0 and the walk stays inside one component
    assert(got.map(_._1).toSeq === (0L until got.length.toLong))
    assert(dist.size <= adj.size)
  }

  test("graph_katz matches a driver adjacency walk-count recompute") {
    val edges = ops.Graph.frequentEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    val inN = edges.groupBy(_._2).view
      .mapValues(_.map(_._1).toSeq).toMap // v -> in-neighbors
    val w1 = inN.view.mapValues(_.length.toLong).toMap
    val w2 = inN.view.mapValues(_.map(u => w1.getOrElse(u, 0L)).sum).toMap
    val w3 = inN.view.mapValues(_.map(u => w2.getOrElse(u, 0L)).sum).toMap
    val exp = w1.keys.toSeq
      .map(v => (v, w1(v), w2.getOrElse(v, 0L), w3.getOrElse(v, 0L)))
      .map { case (v, a, b, c) => (v, a, b, c, a * 16 + b * 4 + c) }
      .sortBy(t => (-t._5, t._1)).take(20)
    val got = SparkEntry.queries("graph_katz")(spark, SharedSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === exp)
  }

  test("graph_closeness matches a driver multi-source BFS recompute") {
    val edges = ops.Graph.frequentEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val landmarks = adj.keys.toSeq.sorted.take(8)
    val dists = landmarks.flatMap { lm =>
      // plain BFS from lm
      var d = Map(lm -> 0L)
      var frontier = Seq(lm)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .distinct.filterNot(d.contains)
        val hop = d(frontier.head) + 1
        d ++= next.map(_ -> hop)
        frontier = next
      }
      d.map { case (v, dd) => (lm, v, dd) }
    }
    val exp = dists.groupBy(_._2).toSeq
      .map { case (v, xs) =>
        val nLm = xs.length.toLong
        val sumD = xs.map(_._3).sum
        val cl = if (sumD > 0) nLm.toDouble / sumD.toDouble else 0.0
        (v, nLm, sumD, cl)
      }
      .sortBy(t => (-t._2, t._3, t._1)).take(20)
    val got = SparkEntry.queries("graph_closeness")(spark, SharedSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === exp)
  }

  test("graph_clustering matches a driver-side coefficient recompute") {
    val edges = ops.Graph.repeatCopurchaseEdges(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val eset = edges.toSet
    val byA = edges.groupBy(_._1)
    val deg = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val tri = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (x, y) =>
      byA.getOrElse(y, Array.empty).foreach { case (_, z) =>
        if (eset.contains((x, z))) { tri(x) += 1; tri(y) += 1; tri(z) += 1 }
      }
    }
    val exp = deg.toSeq.filter(_._2 >= 2).map { case (n, dg) =>
      val t = tri(n)
      (n, dg, t, 2.0 * t.toDouble / (dg * (dg - 1)).toDouble)
    }.sortBy(x => (-x._4, -x._3, x._1)).take(20)
    val got = SparkEntry.queries("graph_clustering")(spark, SharedSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === exp)
    // the coefficient is a proper fraction of closable wedges
    got.foreach(r => assert(r._4 >= 0.0 && r._4 <= 1.0 + 1e-12))
  }
}
