package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the training-pipeline assembly operators
  * (ops/Pipeline.scala) beyond the driver's oracle hash-compare:
  * invariants that must hold for ANY corpus, not just the fixture. */
class PipelineSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf)

  test("sample_hash keeps ~10% and is idempotent (pure row property)") {
    val total = Tables.t(spark, sf, "documents").count()
    val a = run("sample_hash").collect()
    val b = run("sample_hash").collect()
    assert(a.toSeq === b.toSeq, "deterministic sampling must be stable")
    val frac = a.length.toDouble / total
    assert(frac > 0.05 && frac < 0.15, s"10% target, got $frac")
    assert(a.forall(_.getLong(3) < 1000), "every kept row's bucket < rate")
  }

  test("sample_reservoir is bit-identical to the window formulation") {
    val agg = run("sample_reservoir").collect().toSeq
    val win = ops.Pipeline.sampleReservoirWindow(spark, sf).collect().toSeq
    assert(agg === win)
    assert(agg.nonEmpty)
    // Every group is exactly k rows (corpus has >= k docs per lang) and
    // priorities are strictly descending within a group (52-bit md5
    // prefixes — a tie would break rank determinism across engines).
    val byLang = agg.groupBy(_.getString(0))
    byLang.values.foreach { rows =>
      assert(rows.length == 5)
      val prs = rows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(prs == prs.distinct.sorted(Ordering[Long].reverse))
    }
  }

  test("sample_reservoir plans as an aggregate, not a window sort") {
    val df = run("sample_reservoir")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "bounded-heap agg must replace the window")
    assert(plan.contains("ObjectHashAggregate"), plan.take(400))
  }

  test("pipeline_corpus_stream is row-identical to the batch assembly") {
    val batch = run("pipeline_corpus").collect().toSeq
    val stream = run("pipeline_corpus_stream").collect().toSeq
    assert(stream == batch)
    assert(stream.nonEmpty)
  }

  test("sample_stratified: kept <= total per stratum, rare strata kept more") {
    val rows = run("sample_stratified").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    rows.foreach { case (lang, (n, kept, _)) =>
      assert(kept <= n, s"$lang kept $kept of $n")
    }
    // en is sampled at 1000bp, fr/zh at 5000bp: the kept RATIO must
    // reflect the rate ordering even on a small corpus.
    val keptRatio = (l: String) =>
      rows(l)._2.toDouble / rows(l)._1
    assert(keptRatio("en") < keptRatio("zh"),
      s"en@10% should keep a smaller fraction than zh@50%: $rows")
  }

  test("data_mixture: n_mixed = copies * n_orig + fractional sample") {
    run("data_mixture").collect().foreach { r =>
      val (src, wbp, nOrig, nMixed) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val copies = wbp / 10000
      assert(nMixed >= copies * nOrig, s"$src: $nMixed < $copies*$nOrig")
      assert(nMixed <= (copies + 1) * nOrig, s"$src: $nMixed too large")
      if (wbp % 10000 == 0)
        assert(nMixed === copies * nOrig,
          s"$src has no fractional epoch but $nMixed != $copies*$nOrig")
    }
  }

  test("pack_sequences: packs partition the corpus, ids contiguous from 0") {
    val packs = run("pack_sequences").collect()
    val totalDocs = Tables.t(spark, sf, "documents").count()
    assert(packs.map(_.getLong(2)).sum === totalDocs,
      "every document lands in exactly one pack")
    packs.groupBy(_.getString(0)).foreach { case (src, ps) =>
      val ids = ps.map(_.getLong(1)).sorted.toSeq
      assert(ids === (0L until ids.length).toSeq,
        s"$src pack ids not contiguous: $ids")
      // Budget semantics: a pack holds the docs whose START offset is in
      // [pack*2048, (pack+1)*2048) — so every pack except the last must
      // END past its budget boundary (otherwise the next doc would have
      // started in it).
      val tokens = ps.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq
      tokens.init.zipWithIndex.foreach { case (_, i) =>
        val cumThrough = tokens.take(i + 1).sum
        assert(cumThrough >= (i + 1) * 2048,
          s"$src pack $i ends at $cumThrough, before its boundary")
      }
    }
  }

  test("tok_vocab: ordered by tf desc, df <= tf, df <= n_docs") {
    val rows = run("tok_vocab").collect()
    val totalDocs = Tables.t(spark, sf, "documents").count()
    val tfs = rows.map(_.getLong(1)).toSeq
    assert(tfs === tfs.sortBy(-_), "vocab must be frequency-sorted")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "df <= tf")
      assert(r.getLong(2) <= totalDocs)
    }
  }

  test("tok_bpe: merge 1 is the argmax char pair; ranks contiguous; merges concatenate") {
    import org.apache.spark.sql.functions._
    val merges = run("tok_bpe").collect()
    assert(merges.map(_.getInt(0)).toSeq === (1 to merges.length))
    merges.foreach { m =>
      assert(m.getString(3) === m.getString(1) + m.getString(2))
    }
    // independent argmax of raw adjacent char pairs (pre-merge corpus)
    val first = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("sym"), col("freq"))
      .where(size(col("sym")) > 1)
      .select(explode(transform(sequence(lit(1), size(col("sym")) - 1),
        i => concat_ws(" ", element_at(col("sym"), i),
          element_at(col("sym"), i + 1)))).as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(1).head
    assert(merges.head.getString(1) + " " + merges.head.getString(2)
      === first.getString(0))
    assert(merges.head.getLong(4) === first.getLong(1))
  }

  test("sim_ann_ivf: valid top-k shape and nonzero recall vs exact") {
    val ann = run("sim_ann_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = run("sim_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ann.nonEmpty)
    val recall = ann.intersect(exact).size.toDouble / exact.size
    // nprobe=2 of 8 cells: recall is approximate by design, but an IVF
    // probing the query's own cell must recover a meaningful share of
    // the true neighbours (near vectors share the nearest centroid).
    assert(recall >= 0.3, s"IVF recall vs exact top-10 too low: $recall")
  }

  test("tok_encode matches an independent symbol-fold BPE on every corpus word") {
    import spark.implicits._
    // Reference implementation, deliberately DIFFERENT in mechanism
    // from the query's sentinel-string replace chain: greedy BPE over
    // symbol vectors (the same fold shape tok_bpe trains with).
    val merges = Seq(("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"),
      ("s", "t"), ("m", "er"), ("a", "t"), ("l", "u"))
    def bpe(w: String): Int = {
      var syms = w.map(_.toString).toVector
      for ((a, b) <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length
    }
    val docs = Tables.t(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expected = docs.map { case (id, text) =>
      val words = text.split(" ", -1)
      (id, words.length.toLong, words.map(_.length.toLong).sum,
        words.map(w => if (w.isEmpty) 0L else bpe(w).toLong).sum)
    }.sortBy(_._1)
    val got = SparkEntry.queries("tok_encode")(spark, sf)
      .select("doc_id", "n_words", "n_word_chars", "n_bpe_tokens")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
  }

  test("fn_sql_registry: native expressions callable from plain SQL, no registration") {
    // A session built with GraftExtensions must expose the engine's
    // functions to SQL directly — this is the library's SQL surface.
    val row = spark.sql(
      "SELECT sanitize_filename(' a|b<c>.txt '), " +
        "element_at(minhash_sig(array('x')), 1)").head
    assert(row.getString(0) === "a-b-c-.txt")
    assert(row.getLong(1) !== 0L)
    val viaQuery = run("fn_sql_registry")
    assert(viaQuery.columns.toSeq === Seq("doc_id", "ulang", "clean"))
    assert(viaQuery.count() === Tables.t(spark, sf, "documents").count())
  }

  test("text_tfidf: ≤3 terms per doc, rank-ordered by score then word") {
    val rows = run("text_tfidf")
      .select("doc_id", "rk", "word", "tfidf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.values.forall(_.length <= 3))
    byDoc.values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to g.length).toSeq)
      // score non-increasing with rank; ties broken by word ascending
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
            s"rank order violated: $a then $b")
        case _ =>
      }
    }
  }

  test("text_chunk: stride-100/window-120 chunks reassemble the document") {
    import org.apache.spark.sql.functions.col
    val chunks = run("text_chunk")
      .select("doc_id", "chunk_id", "chunk_text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (id, g) =>
        id -> g.sortBy(_._2).map(_._3)
      }
    val texts = Tables.t(spark, sf, "documents")
      .where(col("text") =!= "").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(chunks.keySet === texts.keySet)
    chunks.foreach { case (id, cs) =>
      val rebuilt = cs.dropRight(1).map(_.take(100)).mkString + cs.last
      assert(rebuilt === texts(id), s"doc $id chunks must tile the text")
      // A non-last chunk spans [101, 120] chars: ≥101 because another
      // chunk starts 100 further in, ≤120 by the window size.
      cs.dropRight(1).foreach(c =>
        assert(c.length >= 101 && c.length <= 120, c.length))
    }
  }

  test("corpus_shard: uniform md5 sharding, contiguous stable positions") {
    val rows = run("corpus_shard")
      .select("shard", "pos", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._3).distinct.length === rows.length, "every doc once")
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq === (0L until g.length).toSeq,
        "positions contiguous from 0 within shard")
      // position order must follow doc_id order (stable rerun contract)
      assert(g.sortBy(_._2).map(_._3).toSeq === g.map(_._3).sorted.toSeq)
    }
    assert(rows.map(_._1).distinct.sorted.toSeq === (0L to 7L).toSeq,
      "all 8 shards populated")
  }

  test("sample_temperature: tau=0.5 up-weights small sources monotonically") {
    val rows = run("sample_temperature")
      .select("source", "n_orig", "w_s", "accept_bp", "n_sampled").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, nOrig, wS, bp, nSamp) =>
      assert(wS === math.sqrt(nOrig.toDouble).toLong, s"$src: isqrt weight")
      assert(bp >= 0 && bp <= 10000, s"$src: bp out of range")
      assert(nSamp <= nOrig, s"$src: sampled more than it has")
    }
    // temperature contract: acceptance rate is non-increasing in source
    // size (small sources keep a larger share), while absolute sampled
    // counts still grow with size under tau=0.5
    val bySize = rows.sortBy(_._2)
    bySize.sliding(2).foreach {
      case Array((s1, n1, _, bp1, _), (s2, n2, _, bp2, _)) if n1 < n2 =>
        assert(bp1 >= bp2, s"$s1($n1)=$bp1 bp vs $s2($n2)=$bp2 bp")
      case _ =>
    }
    // the sample is the hash-Bernoulli subset, re-derived independently
    val docs = Tables.t(spark, sf, "documents")
    val md5bp = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.conv(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(
            org.apache.spark.sql.functions.col("doc_id").cast("string")),
          1, 8), 16, 10).cast("long"),
      org.apache.spark.sql.functions.lit(10000L))
    val bpMap = rows.map(r => r._1 -> r._4).toMap
    val expected = docs.withColumn("bp", md5bp).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("bp")))
      .filter { case (src, b) => bpMap.contains(src) && b < bpMap(src) }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (src, _, _, _, nSamp) =>
      assert(expected(src) === nSamp, s"$src: hash-sample mismatch")
    }
  }

  test("agg_cms: estimate dominates the true count (CMS one-sided error)") {
    val rows = run("agg_cms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 20)
    rows.foreach { case (k, tru, est, over) =>
      assert(est >= tru, s"part $k: CMS must never under-estimate")
      assert(over === est - tru, s"part $k: error column")
    }
    // counts are ranked: the report is the top-20 true keys
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
  }

  test("ml_linreg: slope/intercept/r2 match a BigInt driver recompute") {
    val got = run("ml_linreg").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (n, sx, sy, sxx, sxy, syy) = (BigInt(r.getLong(1)),
        BigInt(r.getLong(2)), BigInt(r.getLong(3)), BigInt(r.getLong(4)),
        BigInt(r.getLong(5)), BigInt(r.getLong(6)))
      val den = n * sxx - sx * sx
      val deny = n * syy - sy * sy
      if (den > 0) {
        val num = n * sxy - sx * sy
        val slope = num.toDouble / den.toDouble
        assert(r.getDouble(7) === slope, s"${r.getString(0)}: slope")
        val icept = sy.toDouble / n.toDouble - slope * (sx.toDouble / n.toDouble)
        assert(math.abs(r.getDouble(8) - icept) < 1e-9,
          s"${r.getString(0)}: intercept")
        if (deny > 0) {
          val r2 = num.toDouble * num.toDouble / (den.toDouble * deny.toDouble)
          assert(math.abs(r.getDouble(9) - r2) < 1e-12, s"${r.getString(0)}: r2")
          assert(r2 >= 0.0 && r2 <= 1.0 + 1e-12, s"${r.getString(0)}: r2 range")
        }
      }
    }
  }

  test("ml_ridge: betas solve the ridge normal equations; sse matches a direct pass") {
    val got = run("ml_ridge").collect()
    assert(got.length === 3)
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long"),
        (Tables.dec(col("l_discount")) * 100).cast("long"),
        floor(col("l_extendedprice") / 1000.0d).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    got.foreach { r =>
      val flag = r.getString(0)
      val (b0, b1, b2) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      val data = rows(flag)
      assert(r.getLong(1) === data.length.toLong)
      // independent check: the fitted betas must satisfy the ridge
      // normal equations (Xᵀ X + λI')β = Xᵀy computed by plain folds
      val lam = r.getDouble(2)
      var (n, s1, s2, sy) = (0.0, 0.0, 0.0, 0.0)
      var (s11, s22, s12, s1y, s2y) = (0.0, 0.0, 0.0, 0.0, 0.0)
      data.foreach { case (_, x1, x2, y) =>
        n += 1; s1 += x1; s2 += x2; sy += y
        s11 += x1.toDouble * x1; s22 += x2.toDouble * x2
        s12 += x1.toDouble * x2; s1y += x1.toDouble * y
        s2y += x2.toDouble * y
      }
      val eq0 = n * b0 + s1 * b1 + s2 * b2
      val eq1 = s1 * b0 + (s11 + lam) * b1 + s12 * b2
      val eq2 = s2 * b0 + s12 * b1 + (s22 + lam) * b2
      assert(math.abs(eq0 - sy) < 1e-6 * (1 + math.abs(sy)), s"$flag eq0")
      assert(math.abs(eq1 - s1y) < 1e-6 * (1 + math.abs(s1y)), s"$flag eq1")
      assert(math.abs(eq2 - s2y) < 1e-6 * (1 + math.abs(s2y)), s"$flag eq2")
      // sse from the sums must equal the literal Σ(y − ŷ)² pass
      val sse = data.foldLeft(0.0) { case (acc, (_, x1, x2, y)) =>
        val e = y - (b0 + b1 * x1 + b2 * x2); acc + e * e
      }
      assert(math.abs(r.getDouble(6) - sse) < 1e-6 * (1 + sse), s"$flag sse")
      assert(r.getDouble(6) >= 0.0)
    }
  }

  test("sim_ann_ivfpq: candidates honor the probe set; codes agree with ml_pq") {
    val ivfpq = run("sim_ann_ivfpq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ivfpq.length === 50) // 5 queries × top-10
    // every returned candidate lives in a cell the query probed
    val cells = spark.read.parquet(Scratch.path("ml/ivfpq_cells", sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probed = spark.read.parquet(Scratch.path("ml/ivfpq_probes", sf))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    ivfpq.foreach { case (qid, vid, _) =>
      assert(probed(qid).contains(cells(vid)),
        s"query $qid returned $vid from an unprobed cell")
    }
    // where a pair appears in both top-10s, the asymmetric distance is
    // identical — the PQ scoring is shared, only the candidate set
    // differs
    val pq = run("ml_pq").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val overlap = ivfpq.filter(t => pq.contains((t._1, t._2)))
    assert(overlap.nonEmpty, "some code-level winners survive cell pruning")
    overlap.foreach { case (q, v, ad) =>
      assert(pq((q, v)) === ad, s"($q,$v): adist differs from ml_pq")
    }
  }

  test("sim_ann_recall: ivf misses are exactly the probe-set boundary; " +
      "both algos match a driver recompute, per regime") {
    val got = run("sim_ann_recall").collect()
      .map(r => ((r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3)), r.getLong(4))).toMap
    assert(got.size === 2 * 2 * 4 * 5) // regimes × algos × nprobes × qs
    // Independent driver-side recompute (pure Scala over the collected
    // 500×64 table — different mechanism from the distributed plan,
    // the tok_encode spec discipline), per regime, with the codebook
    // trained by the PqRef Lloyd reference.
    val embU = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .toMap
    val ptsU = embU.map { case (k, v) =>
      k -> v.map(x => math.floor((x + 1.0d) * 1000000.0d).toLong)
    }
    val nc = math.max(8L, embU.size.toLong / 11L)
    val ptsC = ptsU.map { case (v, p) =>
      v -> p.indices.map(k => 19L * ptsU(v % nc)(k) / 20L + p(k) / 20L)
        .toArray
    }
    val embC = ptsC.map { case (v, p) => v -> p.map(_.toDouble) }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0d; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val cents = Seq(7L, 29L, 83L, 131L, 173L, 211L, 307L, 401L)
    def checkRegime(regime: String, emb: Map[Long, Array[Double]],
        pts: Map[Long, Array[Long]]): Unit = {
      val nrm = emb.map { case (k, v) => k -> math.sqrt(dot(v, v)) }
      def cos(a: Long, b: Long): Double =
        dot(emb(a), emb(b)) / (nrm(a) * nrm(b))
      def scoredOf(v: Long): Seq[Long] =
        cents.map(c => (cos(v, c) * -1, c)).sorted.map(_._2)
      val cell = emb.keys.map(v => v -> scoredOf(v).head).toMap
      val cb = PqRef.train(pts)
      val code = PqRef.encode(pts, cb)
      def adist(q: Long, v: Long): Long =
        (0 until 4).map(i =>
          PqRef.sqd(PqRef.sub(pts(q), i), cb((i, code(v)(i))))).sum
      val others = emb.keys.toSeq.sorted
      for (q <- 0L to 4L) {
        val rest = others.filter(_ != q)
        val truthCos = rest.map(v => (cos(q, v) * -1, v)).sorted.take(10)
          .map(_._2).toSet
        val truthL2 = rest.map(v => (PqRef.sqd(pts(q), pts(v)), v)).sorted
          .take(10).map(_._2).toSet
        var prevIvf = -1L
        for (np <- Seq(1, 2, 4, 8)) {
          val probed = scoredOf(q).take(np).toSet
          val cands = rest.filter(v => probed(cell(v)))
          // IVF ranks candidates by the EXACT metric, so its top-10 ∩
          // truth is exactly the truth members whose cell was probed —
          // a miss is PURELY the probe-set boundary.
          val expIvf = truthCos.count(v => probed(cell(v))).toLong
          assert(got((regime, "ivf", np, q)) === expIvf,
            s"$regime q$q nprobe=$np: ivf hits = |truth ∩ probed cells|")
          assert(expIvf >= prevIvf,
            s"$regime q$q: ivf recall not monotone in nprobe")
          prevIvf = expIvf
          // IVFPQ re-ranks candidates by code distance: distortion can
          // displace true neighbors, so recompute the full ADC top-10.
          val expPq = cands.map(v => (adist(q, v), v)).sorted.take(10)
            .map(_._2).count(truthL2).toLong
          assert(got((regime, "ivfpq", np, q)) === expPq,
            s"$regime q$q nprobe=$np: ivfpq hits must match the ADC " +
              "recompute")
        }
        assert(got((regime, "ivf", 8, q)) === 10L,
          s"$regime q$q: probing all 8 cells must recover the exact " +
            "top-10")
      }
    }
    checkRegime("uniform", embU, ptsU)
    checkRegime("clustered", embC, ptsC)
    // The clustered regime is the trained-PQ operating point: recall@10
    // ≥ 0.8 at nprobe = 8 (measured 0.92 at the gate SF).
    val pqClustered8 = (0L to 4L)
      .map(q => got(("clustered", "ivfpq", 8, q))).sum
    assert(pqClustered8 >= 40L,
      s"clustered ivfpq recall@10 at nprobe=8 below 0.8: $pqClustered8/50")
  }

  test("ml_dbscan: all-noise at sparse SF, 5 pure planted clusters at gate SF") {
    // sf0.001 is BELOW the density threshold (λ < 1 expected neighbor):
    // correct DBSCAN yields nothing but noise
    val sparse = run("ml_dbscan").collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(sparse.toSeq === Seq((-1L,
      Tables.t(spark, sf, "customer").count())))
    // gate SF: density recovers exactly the 5 planted clusters.
    // Resolved via the same env the bench uses (ADVICE r7) so the
    // suite skips with a clear message where that scale is absent.
    val gateOpt = SharedSpark.sfDir("0.01")
    assume(gateOpt.isDefined, "testdata sf0.01 absent on this machine")
    val gate = gateOpt.get
    val rows = SparkEntry.queries("ml_dbscan")(spark, gate).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (noise, clusters) = rows.partition(_._1 == -1L)
    assert(clusters.length === 5, s"planted 5 clusters, got: ${rows.toSeq}")
    // labels are min core ids; one per planted residue class mod 5
    assert(clusters.map(_._1 % 5).sorted.toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    clusters.foreach { case (lbl, nCore, nBorder, nPts) =>
      assert(nCore + nBorder === nPts, s"cluster $lbl: role split")
      assert(nCore > nBorder, s"cluster $lbl: density sanity")
      assert(nPts <= 300, s"cluster $lbl: purity bound (300 planted)")
    }
    // every point is accounted for exactly once
    val n = Tables.t(spark, gate, "customer").count()
    assert(clusters.map(_._4).sum + noise.map(_._4).sum === n)
  }

  test("sample_bootstrap: replica 7 recomputes exactly; CI covers the mean") {
    val got = run("sample_bootstrap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === 32)
    val orders = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) / 1000.0).toLong))
    // exact driver-side recompute of one replica's weighted sums
    val cdf = ops.Pipeline.poissonCdf1e6
    def weight(key: Long, replica: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${key}_$replica".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = java.lang.Long.parseLong(h, 16) % 1000000L
      cdf.count(u >= _).toLong
    }
    val (nEff, wsum) = orders.foldLeft((0L, 0L)) { case ((n, s0), (k, y)) =>
      val w = weight(k, 7L); (n + w, s0 + w * y)
    }
    val r7 = got.find(_._1 == 7L).get
    assert((r7._2, r7._3) === ((nEff, wsum)))
    assert(r7._4 === wsum.toDouble / nEff)
    // Poisson(1) resampling keeps ~n rows per replica
    got.foreach { case (r, n, _, _) =>
      assert(math.abs(n - orders.length) < orders.length / 10,
        s"replica $r: n_eff $n far from n ${orders.length}")
    }
    // the replica spread straddles the true mean (the point of the op)
    val trueMean = orders.map(_._2).sum.toDouble / orders.length
    val means = got.map(_._4)
    assert(means.min <= trueMean && trueMean <= means.max)
  }

  test("sample_weighted: exact sequential-Poisson priorities, true top-50") {
    val got = run("sample_weighted").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 50)
    // recompute every order's priority driver-side and take the true top-50
    val all = Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map { r =>
        val key = r.getLong(0)
        val w = BigDecimal(r.getDouble(1)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).*(100).toLong
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(key.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(13)
        val u52 = java.lang.Long.parseLong(md5, 16)
        (key, w, u52, u52 / w)
      }
    val expect = all.sortBy(t => (t._4, t._1)).take(50)
    assert(got.toSeq === expect.toSeq)
    // weights are positive — the integer division is well-defined
    assert(all.forall(_._2 > 0))
  }

  test("sample_kcenter matches a driver-side farthest-point traversal") {
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
          .toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var cen = Vector(emb.keys.min)
    var expected = Vector((1, cen.head, 0L))
    for (r <- 2 to 8) {
      val (vid, mind) = emb.keys.toSeq.sorted
        .map(v => v -> cen.map(c => d2(emb(v), emb(c))).min)
        .maxBy { case (v, m) => (m, -v) }
      cen :+= vid
      expected :+= ((r, vid, mind))
    }
    val got = run("sample_kcenter").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    assert(got === expected)
    // radii are non-increasing: each center covers at least as tightly
    assert(got.drop(1).map(_._3).sliding(2).forall(w =>
      w.length < 2 || w(0) >= w(1)))
  }

  test("tok_wordpiece matches a driver-side maximal-munch reference") {
    val wf = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val occ = scala.collection.mutable.Map[String, Long]()
    for ((w, f) <- wf; l <- 2 to 4; i <- 0 to w.length - l)
      occ(w.substring(i, i + l)) = occ.getOrElse(w.substring(i, i + l), 0L) + f
    val vocab = occ.toSeq.sortBy { case (p, n) => (-n, p) }.take(48)
      .map(_._1).toSet
    def enc(w: String): Seq[String] = {
      var cur = 0
      val out = Seq.newBuilder[String]
      while (cur < w.length) {
        val l = (4 to 2 by -1).find(l =>
          cur + l <= w.length && vocab(w.substring(cur, cur + l)))
          .getOrElse(1)
        out += w.substring(cur, cur + l)
        cur += l
      }
      out.result()
    }
    val expected = wf.toSeq.sortBy(_._1).map { case (w, f) =>
      (w, f, enc(w).length.toLong, enc(w).mkString("|"))
    }
    val got = run("tok_wordpiece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got === expected)
    // every piece either is in the learned vocab or is a single char
    got.foreach { case (_, _, _, enc0) =>
      enc0.split('|').foreach(p =>
        assert(p.length == 1 || vocab(p), s"piece $p out of vocab"))
    }
  }

  test("pipeline_curate: funnel monotone, packs partition the survivors") {
    val total = Tables.t(spark, sf, "documents").count()
    val kept = run("text_gopher").where(col("keep")).count()
    val packs = run("pipeline_curate").collect()
    val packed = packs.map(_.getLong(2)).sum
    assert(packed <= kept && kept <= total,
      s"funnel must be monotone: $packed <= $kept <= $total")
    assert(packed > 0, "curation must not empty the corpus at gate SF")
    // pack ids contiguous from 0 within each source (pack_sequences law)
    packs.groupBy(_.getString(0)).foreach { case (src, ps) =>
      val ids = ps.map(_.getLong(1)).sorted.toSeq
      assert(ids === (0L until ids.length).toSeq, s"$src: $ids")
    }
  }

  test("sample_dsir: selection margin is wide and target docs score higher") {
    val raw = graft.ops.Pipeline.sampleDsirRaw(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    assert(raw.nonEmpty)
    // Anti-flap audits: fold-order noise on the per-doc ln sum is
    // ~1e-13; the selection threshold (0) and every 1e-6 rounding-grid
    // boundary must sit orders of magnitude further from every raw
    // weight, or the hash gate could flap across engines/partitionings.
    raw.foreach { case (id, _, lw) =>
      assert(math.abs(lw) > 1e-4, s"doc $id weight $lw hugs the threshold")
      val frac = math.abs(lw * 1e6 - math.floor(lw * 1e6) - 0.5)
      assert(frac > 1e-5, s"doc $id weight $lw hugs a rounding boundary")
    }
    // DSIR semantics: documents from the target domain (lang='en') must
    // score higher on average than the rest — the model actually
    // separates target from raw.
    val en = raw.filter(_._2 == "en").map(_._3)
    val rest = raw.filter(_._2 != "en").map(_._3)
    assert(en.nonEmpty && rest.nonEmpty)
    assert(en.sum / en.length > rest.sum / rest.length,
      "target-domain docs must have higher mean importance weight")
  }

  test("ml_knn matches a driver-side brute-force recompute") {
    val got = run("ml_knn").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val vecs = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)
        .map(e => math.floor(e.toDouble * 1e6 + 0.5).toLong).toArray))
    val train = vecs.filter(v => v._1 % 10 != 0 || v._1 >= 1000)
    val expect = vecs.filter(v => v._1 % 10 == 0 && v._1 < 1000)
      .map { case (pid, tl, pv) =>
      val nn = train.map { case (tid, lbl, tv) =>
        (tid, lbl, pv.zip(tv).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.sortBy(n => (n._3, n._1)).take(5)
      val (pred, votes) = nn.groupBy(_._2).view
        .mapValues(g => (g.length.toLong, g.map(_._3).min))
        .toSeq.minBy { case (lbl, (n, _)) => (-n, lbl) } match {
        case (lbl, (n, _)) => (lbl, n)
      }
      val bestDist = nn.filter(_._2 == pred).map(_._3).min
      (pid, tl, pred, votes, bestDist, pred == tl)
    }.sortBy(_._1)
    assert(got.toSeq === expect.toSeq)
    assert(got.nonEmpty)
  }

  test("ml_perceptron matches a driver-side BigInt recompute of the recurrence") {
    val got = run("ml_perceptron").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val raw = Tables.t(spark, sf, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => (if (r.getInt(0) >= 5) 1L else -1L, r.getSeq[Float](1)
        .map(e => math.floor(e.toDouble * 1e6 + 0.5).toLong).toArray))
    var w = Array.fill(64)(BigInt(0))
    val hist = Array.ofDim[BigInt](64, 3)
    for (round <- 0 until 3) {
      val delta = Array.fill(64)(BigInt(0))
      raw.foreach { case (y, x) =>
        val sc = (0 until 64).map(i => w(i) * BigInt(x(i))).sum
        if (BigInt(y) * sc <= 0)
          (0 until 64).foreach(i => delta(i) += BigInt(y) * BigInt(x(i)))
      }
      w = Array.tabulate(64)(i => w(i) + delta(i))
      for (i <- 0 until 64) hist(i)(round) = w(i)
    }
    val expect = (0 until 64).map(i =>
      (i.toLong, hist(i)(0).toLong, hist(i)(1).toLong, hist(i)(2).toLong))
    assert(got.toSeq === expect)
    // round 1 sums over EVERY vector (w0 = 0): the update must be live
    assert(got.exists(_._2 != 0L))
  }

  test("ml_stump matches a driver-side integer recompute of the histogram argmax") {
    val got = run("ml_stump").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val raw = Tables.t(spark, sf, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => (if (r.getInt(0) >= 5) 1L else 0L, r.getSeq[Float](1)
        .map(e => math.floor(e.toDouble * 1e6 + 0.5).toLong).toArray))
    val expect = (0 until 64).map { j =>
      val hist = Array.fill(16)((0L, 0L))
      raw.foreach { case (y, x) =>
        val b = ((x(j) + 1000000L) / 125000L).toInt
        hist(b) = (hist(b)._1 + y, hist(b)._2 + 1L)
      }
      val nPos = hist.map(_._1).sum
      val nTot = hist.map(_._2).sum
      var (pl, tl) = (0L, 0L)
      val cands = (0 until 15).map { bkt =>
        pl += hist(bkt)._1; tl += hist(bkt)._2
        val nl = tl - pl; val pr = nPos - pl; val nr = (nTot - nPos) - nl
        (-(math.max(pl, nl) + math.max(pr, nr)), bkt.toLong, pl, nl, pr, nr)
      }
      val c = cands.min
      (j.toLong, c._2, c._3, c._4, c._5, c._6, -c._1)
    }
    assert(got.toSeq === expect)
    // the stump must beat the majority-class baseline on some dim
    // (otherwise every split is vacuous and the argmax untested)
    val nTot = raw.length.toLong
    val base = math.max(raw.count(_._1 == 1L).toLong,
      raw.count(_._1 == 0L).toLong)
    assert(got.map(_._7).max > base, s"no dim beats the $base/$nTot prior")
  }

  test("ml_dt2 matches a driver-side integer recompute of the depth-2 tree") {
    val got = run("ml_dt2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val raw = Tables.t(spark, sf, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => (if (r.getInt(0) >= 5) 1L else 0L, r.getSeq[Float](1)
        .map(e => ((math.floor(e.toDouble * 1e6 + 0.5).toLong
          + 1000000L) / 125000L).toInt).toArray))
    // best (dim, split) over a row subset under the global tie-break
    // (correct DESC, dim ASC, split ASC) — the operator's total order
    def best(rows: Array[(Long, Array[Int])])
        : (Long, Long, Long, Long, Long, Long, Long) = {
      val cands = for (j <- 0 until 64) yield {
        val hist = Array.fill(16)((0L, 0L))
        rows.foreach { case (y, b) =>
          hist(b(j)) = (hist(b(j))._1 + y, hist(b(j))._2 + 1L)
        }
        val nPos = hist.map(_._1).sum
        val nTot = hist.map(_._2).sum
        var (pl, tl) = (0L, 0L)
        (0 until 15).map { sp =>
          pl += hist(sp)._1; tl += hist(sp)._2
          val nl = tl - pl; val pr = nPos - pl
          val nr = (nTot - nPos) - nl
          (-(math.max(pl, nl) + math.max(pr, nr)), j.toLong, sp.toLong,
            pl, nl, pr, nr)
        }.min
      }
      val c = cands.min
      (c._2, c._3, c._4, c._5, c._6, c._7, -c._1)
    }
    val r0 = best(raw)
    val expect = (0L, r0._1, r0._2, r0._3, r0._4, r0._5, r0._6, r0._7) +:
      Seq(1L, 2L).map { node =>
        val sub = raw.filter { case (_, b) =>
          (b(r0._1.toInt) <= r0._2) == (node == 1L) }
        val r = best(sub)
        (node, r._1, r._2, r._3, r._4, r._5, r._6, r._7)
      }
    assert(got.toSeq === expect)
    // provable law: each leaf's best stump is at least that leaf's
    // majority class, so the depth-2 tree never scores below its root
    assert(got(1)._8 + got(2)._8 >= got(0)._8,
      s"leaves ${got(1)._8}+${got(2)._8} below root ${got(0)._8}")
    assert(got(0)._8 > 0L)
  }

  test("ml_boost matches a driver-side integer recompute of the weighted re-fit") {
    val got = run("ml_boost").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val raw = Tables.t(spark, sf, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => (if (r.getInt(0) >= 5) 1L else 0L, r.getSeq[Float](1)
        .map(e => ((math.floor(e.toDouble * 1e6 + 0.5).toLong
          + 1000000L) / 125000L).toInt).toArray))
    def best(rows: Array[((Long, Array[Int]), Long)])
        : (Long, Long, Long, Long, Long, Long, Long) = {
      val cands = for (j <- 0 until 64) yield {
        val hist = Array.fill(16)((0L, 0L))
        rows.foreach { case ((y, b), w) =>
          hist(b(j)) = (hist(b(j))._1 + w * y, hist(b(j))._2 + w)
        }
        val nPos = hist.map(_._1).sum
        val nTot = hist.map(_._2).sum
        var (pl, tl) = (0L, 0L)
        (0 until 15).map { sp =>
          pl += hist(sp)._1; tl += hist(sp)._2
          val nl = tl - pl; val pr = nPos - pl
          val nr = (nTot - nPos) - nl
          (-(math.max(pl, nl) + math.max(pr, nr)), j.toLong, sp.toLong,
            pl, nl, pr, nr)
        }.min
      }
      val c = cands.min
      (c._2, c._3, c._4, c._5, c._6, c._7, -c._1)
    }
    val r1 = best(raw.map(_ -> 1L))
    val predL = if (r1._3 > r1._4) 1L else 0L
    val predR = if (r1._5 > r1._6) 1L else 0L
    val r2 = best(raw.map { case v @ (y, b) =>
      val pred = if (b(r1._1.toInt) <= r1._2) predL else predR
      v -> (if (pred != y) 3L else 1L)
    })
    val expect = Seq(
      (1L, r1._1, r1._2, r1._3, r1._4, r1._5, r1._6, r1._7),
      (2L, r2._1, r2._2, r2._3, r2._4, r2._5, r2._6, r2._7))
    assert(got.toSeq === expect)
    // the ×3 reweighting must be LIVE: round 2's weighted total mass
    // exceeds round 1's row count (some row was misclassified)
    val m1 = got(0)._4 + got(0)._5 + got(0)._6 + got(0)._7
    val m2 = got(1)._4 + got(1)._5 + got(1)._6 + got(1)._7
    assert(m2 > m1, s"reweighting vacuous: mass $m2 <= $m1")
  }

  test("agg_theta matches a driver-side KMV recompute; sketch laws hold") {
    val r = run("agg_theta").collect().head
    val k = 64
    val scale = 1L << 52
    // rebuild both corpora's shingle sets under the ENGINE's padded
    // rule (short docs degrade to shorter grams, never zero shingles)
    def shingles(text: String): Set[String] = {
      val w = text.split(" ")
      val m = math.max(w.length - 2, 1)
      (0 until m).map(j =>
        w.slice(j, math.min(j + 3, w.length)).mkString(" ")).toSet
    }
    def u52(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(row => (row.getLong(0), shingles(row.getString(1))))
    val a = docs.filter(_._1 % 3 != 0).flatMap(_._2).toSet
    val b = docs.filter(_._1 % 2 == 0).flatMap(_._2).toSet
    val ha = a.map(u52).toSeq.sorted.take(k)
    val hb = b.map(u52).toSeq.sorted.take(k)
    val hu = (ha ++ hb).distinct.sorted.take(k)
    val theta = math.min(ha.last, hb.last)
    val c = ha.filter(_ < theta).toSet
      .intersect(hb.filter(_ < theta).toSet).size
    def est(kth: Long) = ((k - 1) * scale).toDouble / kth
    assert(r.getDouble(0) === est(ha.last))
    assert(r.getDouble(1) === est(hb.last))
    assert(r.getDouble(2) === est(hu.last))
    assert(r.getDouble(3) === (c * scale).toDouble / theta)
    assert(r.getLong(4) === a.size.toLong)
    assert(r.getLong(5) === b.size.toLong)
    assert(r.getLong(6) === a.intersect(b).size.toLong)
    // structural sketch laws: the merged sketch's kth never precedes
    // either input's (union estimate >= each unary estimate), and the
    // intersection estimate is within the KMV error regime of truth
    assert(r.getDouble(2) >= math.max(r.getDouble(0), r.getDouble(1)))
    val relErr = math.abs(r.getDouble(3) - r.getLong(6)) /
      math.max(r.getLong(6).toDouble, 1.0)
    assert(relErr < 0.6, s"intersection estimate off by $relErr")
  }

  test("tok_unigram is the exhaustive segmentation optimum under the packed tie-break") {
    val got = run("tok_unigram").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(got.nonEmpty)
    // rebuild the scored vocabulary independently (alphabet + top-48
    // multi-char by mass, digits(mass) − 20 — the operator's rule)
    val words = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .collect().map(_.getString(0))
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val mass = collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    words.foreach { case (w, f) =>
      for (ln <- 1 to 4; i <- 0 to w.length - ln)
        mass(w.substring(i, i + ln)) += f
    }
    val top48 = mass.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, m) => (-m, p) }.take(48).map(_._1).toSet
    val score = mass.collect {
      case (p, m) if p.length == 1 || top48(p) =>
        p -> (m.toString.length.toLong - 20L)
    }.toMap
    // exhaustive: every composition of the word into scored pieces of
    // length <= 4; optimum = lexicographic max of (sum, -pieces)
    def best(w: String): (Long, Long) = {
      def rec(i: Int): Seq[(Long, Long)] =
        if (i == w.length) Seq((0L, 0L))
        else for {
          ln <- 1 to math.min(4, w.length - i)
          sc <- score.get(w.substring(i, i + ln)).toSeq
          (rs, rn) <- rec(i + ln)
        } yield (sc + rs, rn + 1L)
      val cands = rec(0)
      cands.maxBy { case (sc, np) => (sc, -np) }
    }
    got.foreach { case (w, f, sc, np, enc) =>
      assert(f === words(w), s"$w freq")
      assert((sc, np) === best(w), s"$w optimum")
      // the reported segmentation realizes exactly that optimum
      val pieces = enc.split('|')
      assert(pieces.mkString === w, s"$w pieces concat")
      assert(pieces.length.toLong === np, s"$w piece count")
      assert(pieces.map(score).sum === sc, s"$w piece scores")
    }
    assert(got.map(_._1).toSet === words.keySet)
    // at least one word must segment into a multi-char piece, or the
    // vocabulary/DP interplay is vacuous
    assert(got.exists(_._5.split('|').exists(_.length > 1)))
  }

  test("ml_naive_bayes learns planted per-language vocabularies") {
    // Disjoint vocabularies per language: training on the even half
    // must classify every odd doc correctly — proving the model uses
    // token likelihoods, not just the prior (the driver corpus's shared
    // vocabulary collapses NB to the prior by design, so this is the
    // discriminative check).
    val langs = Seq("en", "de", "es", "fr", "zh")
    val dir = s"${Tables.scratchRoot}/nb_fixture"
    val docs = (0L until 40L).map { i =>
      val l = langs((i % 5).toInt)
      val text = Seq.fill(6)(s"w${l}a w${l}b w${l}c").mkString(" ")
      (i, text, l, "src0", text.length.toLong)
    }
    spark.createDataFrame(docs)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("ml_naive_bayes")(spark, dir).collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getBoolean(4)),
      "disjoint vocabularies must classify every held-out doc correctly")
    // and the winning score strictly beats staying on the prior: each
    // predicted language equals the true language, which differs from
    // the majority class for 4 of 5 languages
    assert(rows.map(_.getString(2)).distinct.sorted === langs.sorted)
  }
}
